package perfbench

/** The three workloads, as groups of registry query names.
  *
  * `family` is the whole group a workload stands for, derived from the
  * registry by name; `members` is the named subset a run executes, so
  * that set-up and a few timed passes fit the run length. The data is
  * fixed; the seed only permutes the order of the queries within each
  * pass. */
object Workloads {

  /** Neighbour-based forecasters and embedding-similarity scans. */
  val knnScan: Seq[String] = Seq(
    "fc_knn", "fc_knn_recursive", "fc_auto_knn", "fc_ann", "fc_elite_knn",
    "s_ann_ivf", "s_ann_ivf_probe", "s_ann_pq", "s_cosine_topk",
    "d_embedding_neardup", "d_embedding_neardup_exact")

  private val sqlPrefixes = Seq(
    "f_", "p_", "rt_", "cv_", "m_", "e_", "conv_", "j_", "q1_", "q2_", "q3_",
    "d_", "t_", "pipe_", "mm_", "llm_")

  def family(workload: String, registry: Iterable[String]): Seq[String] = {
    val knn = knnScan.toSet
    val names = registry.toSeq.sorted
    workload match {
      case "sql_short" =>
        names.filter(n => sqlPrefixes.exists(n.startsWith) && !knn(n))
      case "forecast_fit" =>
        names.filter(n => (n.startsWith("fc_") || n.startsWith("c_")) && !knn(n))
      case "knn_scan" => names.filter(knn)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  val names: Seq[String] = Seq("sql_short", "forecast_fit", "knn_scan")

  /** The named subset each run executes (every member is also in its
    * `family`). Each has an odd number of members whose middle one sits
    * among others of similar time, so `query_p50_s` does not fall midway
    * across the gap between two queries' times, or on the samples of one
    * query only. */
  val members: Map[String, Seq[String]] = Map(
    "sql_short" -> Seq(
      "f_approximate_entropy", "f_absolute_energy", "p_boxcox", "m_mase",
      "cv_expanding_window", "e_acf", "j_salted_join", "q2_join_agg",
      "d_exact_dedup", "t_langid", "mm_media_meta", "llm_analyze_prompt", "conv_long_to_wide"),
    "forecast_fit" -> Seq(
      "fc_gbt_poisson", "fc_censored", "fc_elite_fourier", "fc_auto_lasso", "c_enbpi"),
    "knn_scan" -> Seq(
      "fc_knn", "fc_knn_recursive", "fc_ann", "s_ann_ivf", "s_ann_pq", "s_cosine_topk",
      "d_embedding_neardup_exact"))

  /** Query order of pass `pass` (0 and 1 are the untimed warm passes): a
    * permutation fixed by the seed, so a run can be replayed exactly. */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries.sorted)
}
