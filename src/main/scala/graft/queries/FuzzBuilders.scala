package graft.queries

import graft.functions.{FeatureAggs, Features}
import graft.operators.{CrossValidation, Forecasters, KnnForecaster, LinearForecaster, Metrics, Preprocess, Seasonality, Similarity}
import org.apache.spark.sql.functions._
import Q._

/** Parameter-generic query builders: each def produces BOTH the Spark
  * program and its DuckDB oracle from ONE parameterization, so the
  * same builder serves (a) the pinned registry entries in
  * FeatureQueries / PreprocessQueries / ForecastQueries / AggQueries /
  * PipelineQueries and (b) [[graft.OracleFuzz]], which sweeps each
  * family over seeded random parameter points (r13 verdict #1: every
  * operator used to be proven at ONE parameter point — the M5 64-lag
  * Janino overflow was a param-dependent bug today's pinned gate
  * could not see).
  *
  * Literal-formatting rule: parameters are drawn from short-decimal
  * grids (multiples of 0.05 etc.) whose DECIMAL parse is exact in
  * DuckDB, EXCEPT derived full-precision doubles (fracdiff weights),
  * which are emitted as CAST('<repr>' AS DOUBLE) — DuckDB parses long
  * decimal literals through DECIMAL and double-rounds (see the verify
  * skill notes). */
object FuzzBuilders {

  /** SQL literal for a grid double (short-repr values only). */
  private def d(x: Double): String = {
    require(x == x && !x.isInfinite, s"non-finite SQL literal $x")
    x.toString
  }
  /** Full-precision double literal (string parse is correctly
    * rounded in DuckDB; DECIMAL parse is not). */
  private def dx(x: Double): String = s"CAST('$x' AS DOUBLE)"

  // ───────────────────────── features ─────────────────────────

  def countAbove(t: Double): Q = Q(
    s"SELECT user_id, round(CAST(100 AS DOUBLE)*sum(CASE WHEN value >= ${d(t)} THEN 1 ELSE 0 END)/count(value),6) AS count_above FROM events GROUP BY user_id") {
    (s, dir) => r6(ev(s, dir).agg(Features.countAbove(col("value"), t).as("count_above")))
  }

  def countBelow(t: Double): Q = Q(
    s"SELECT user_id, round(CAST(100 AS DOUBLE)*sum(CASE WHEN value <= ${d(t)} THEN 1 ELSE 0 END)/count(value),6) AS count_below FROM events GROUP BY user_id") {
    (s, dir) => r6(ev(s, dir).agg(Features.countBelow(col("value"), t).as("count_below")))
  }

  def largeStandardDeviation(r: Double): Q = Q(
    s"SELECT user_id, stddev_samp(value) > ${d(r)}*(max(value)-min(value)) AS large_standard_deviation FROM events GROUP BY user_id") {
    (s, dir) => ev(s, dir).agg(Features.largeStandardDeviation(col("value"), r).as("large_standard_deviation"))
  }

  def rangeCount(lower: Double, upper: Double): Q = Q(
    s"SELECT user_id, CAST(sum(CASE WHEN value >= ${d(lower)} AND value < ${d(upper)} THEN 1 ELSE 0 END) AS BIGINT) AS range_count FROM events GROUP BY user_id") {
    (s, dir) => ev(s, dir).agg(Features.rangeCount(col("value"), lower, upper).as("range_count"))
  }

  def symmetryLooking(r: Double): Q = Q(
    s"SELECT user_id, abs(avg(value) - quantile_cont(value, 0.5)) < ${d(r)}*(max(value)-min(value)) AS symmetry_looking FROM events GROUP BY user_id") {
    (s, dir) => ev(s, dir).agg(Features.symmetryLooking(col("value"), r).as("symmetry_looking"))
  }

  def meanNAbsoluteMax(k: Int): Q = Q(
    s"""SELECT user_id, round(avg(av),6) AS mean_n_absolute_max FROM (
          SELECT user_id, abs(value) AS av,
                 row_number() OVER (PARTITION BY user_id ORDER BY abs(value) DESC, ts, event_id) AS rn
          FROM events) WHERE rn <= $k GROUP BY user_id""") {
    (s, dir) => r6(ev(s, dir).agg(Features.meanNAbsoluteMax(col("value"), k).as("mean_n_absolute_max")))
  }

  def autocorrelation(l: Int): Q = Q(
    s"""WITH b AS (SELECT user_id, value,
                          lead(value, $l) OVER ($W) AS xl,
                          avg(value) OVER ($WE) AS mu,
                          var_pop(value) OVER ($WE) AS v
                   FROM events)
        SELECT user_id, round(sum((value-mu)*(xl-mu)) / (max(v)*(count(value)-$l)),6) AS autocorrelation
        FROM b GROUP BY user_id""") {
    (s, dir) => r6(Features.autocorrelation(ev(s, dir), l))
  }

  def c3(l: Int): Q = Q(
    s"""WITH b AS (SELECT user_id, value,
                          lead(value, $l) OVER ($W) AS x1,
                          lead(value, ${2 * l}) OVER ($W) AS x2
                   FROM events)
        SELECT user_id, round(sum(value*x1*x2)/(count(value)-${2 * l}),6) AS c3
        FROM b GROUP BY user_id""") {
    (s, dir) => r6(Features.c3(ev(s, dir), l))
  }

  def cidCe(normalize: Boolean): Q =
    if (normalize) Q(
      s"""WITH z AS (SELECT user_id, ts, event_id,
                            (value - avg(value) OVER ($WE)) / stddev_pop(value) OVER ($WE) AS zv
                     FROM events),
               d AS (SELECT user_id, zv - lag(zv) OVER ($W) AS dv FROM z)
          SELECT user_id, round(sqrt(sum(dv*dv)),6) AS cid_ce FROM d GROUP BY user_id""") {
      (s, dir) => r6(Features.cidCe(ev(s, dir), normalize = true))
    }
    else Q(
      s"""WITH d AS (SELECT user_id, value - lag(value) OVER ($W) AS dv FROM events)
          SELECT user_id, round(sqrt(sum(dv*dv)),6) AS cid_ce FROM d GROUP BY user_id""") {
      (s, dir) => r6(Features.cidCe(ev(s, dir), normalize = false))
    }

  def indexMassQuantile(q: Double): Q = Q(
    s"""WITH b AS (SELECT user_id, row_number() OVER ($W) - 1 AS rn,
                          sum(abs(value)) OVER ($W ROWS UNBOUNDED PRECEDING) AS cum,
                          sum(abs(value)) OVER ($WE) AS tot
                   FROM events)
        SELECT user_id, round((min(CASE WHEN cum >= ${d(q)} * tot THEN rn END) + 1)::DOUBLE / count(*),6)
          AS index_mass_quantile
        FROM b GROUP BY user_id""") {
    (s, dir) => r6(Features.indexMassQuantile(ev(s, dir), q))
  }

  def numberPeaks(n: Int): Q = {
    val lagLeads = (1 to n).flatMap(i => Seq(
      s"lag(value,$i) OVER ($W) AS l$i", s"lead(value,$i) OVER ($W) AS f$i")).mkString(", ")
    val cond = (1 to n).map(i => s"value > l$i AND value > f$i").mkString(" AND ")
    Q(
      s"""WITH b AS (SELECT user_id, value, $lagLeads FROM events)
          SELECT user_id, CAST(sum(CASE WHEN coalesce($cond, false)
                               THEN 1 ELSE 0 END) AS BIGINT) AS number_peaks
          FROM b GROUP BY user_id""") {
      (s, dir) => Features.numberPeaks(ev(s, dir), n)
    }
  }

  def ratioBeyondRSigma(r: Double): Q = Q(
    s"""WITH b AS (SELECT user_id, value, avg(value) OVER ($WE) AS mu,
                          stddev_pop(value) OVER ($WE) AS sd FROM events)
        SELECT user_id, round(sum(CASE WHEN abs(value - mu) > ${d(r)} * sd THEN 1 ELSE 0 END)::DOUBLE / count(value),6)
          AS ratio_beyond_r_sigma
        FROM b GROUP BY user_id""") {
    (s, dir) => r6(Features.ratioBeyondRSigma(ev(s, dir), r))
  }

  def timeReversalAsymmetryStatistic(l: Int): Q = Q(
    s"""WITH b AS (SELECT user_id, value,
                          lead(value, $l) OVER ($W) AS x1,
                          lead(value, ${2 * l}) OVER ($W) AS x2 FROM events)
        SELECT user_id, round(avg(x1 * (x2 + value) * (x2 - value)),6)
          AS time_reversal_asymmetry_statistic
        FROM b GROUP BY user_id""") {
    (s, dir) => r6(Features.timeReversalAsymmetryStatistic(ev(s, dir), l))
  }

  def energyRatios(k: Int): Q = Q(
    s"""WITH b AS (SELECT user_id, value, row_number() OVER ($W) - 1 AS rn,
                          count(*) OVER ($WE) AS n,
                          sum(value*value) OVER ($WE) AS tot
                   FROM events)
        SELECT user_id, CAST(floor(rn * $k / n) AS BIGINT) AS chunk,
               round(sum(value*value) / max(tot),6) AS energy_ratio
        FROM b GROUP BY user_id, CAST(floor(rn * $k / n) AS BIGINT)""") {
    (s, dir) => r6(Features.energyRatios(ev(s, dir), k))
  }

  def binnedEntropy(k: Int): Q = Q(
    s"""WITH b AS (SELECT user_id,
                          floor((value - min(value) OVER ($WE)) /
                                (1e-12 + (max(value) OVER ($WE) - min(value) OVER ($WE)) / $k)) AS bin
                   FROM events),
             c AS (SELECT user_id, bin, count(*) AS c FROM b GROUP BY user_id, bin),
             p AS (SELECT user_id, c::DOUBLE / sum(c) OVER (PARTITION BY user_id) AS p FROM c)
        SELECT user_id, round(-sum(p * ln(p)),6) AS binned_entropy FROM p GROUP BY user_id""") {
    (s, dir) => r6(Features.binnedEntropy(ev(s, dir), k))
  }

  def numberCrossings(m: Double): Q = Q(
    s"""WITH b AS (SELECT user_id, value > ${d(m)} AS c, lag(value > ${d(m)}) OVER ($W) AS pc FROM events)
        SELECT user_id, CAST(sum(CASE WHEN pc IS NOT NULL AND NOT (c IS NOT DISTINCT FROM pc) THEN 1 ELSE 0 END) AS BIGINT)
          AS number_crossings
        FROM b GROUP BY user_id""") {
    (s, dir) => Features.numberCrossings(ev(s, dir), m)
  }

  def changeQuantilesMean(ql: Double, qh: Double): Q = Q(
    s"""WITH q AS (SELECT user_id, ts, event_id, value,
                          quantile_cont(value, ${d(ql)}) OVER ($WE) AS ql,
                          quantile_cont(value, ${d(qh)}) OVER ($WE) AS qh
                   FROM events),
             b AS (SELECT user_id,
                          value >= ql AND value <= qh AS inc,
                          lag(value >= ql AND value <= qh) OVER ($W) AS pinc,
                          value - lag(value) OVER ($W) AS d
                   FROM q)
        SELECT user_id, round(avg(CASE WHEN inc AND pinc THEN abs(d) END),6) AS change_quantiles_mean
        FROM b GROUP BY user_id""") {
    (s, dir) => r6(Features.changeQuantilesMean(ev(s, dir), ql, qh))
  }

  def streakLengthStats(above: Boolean, t: Double): Q = {
    val cmp = if (above) ">=" else "<="
    Q(
      s"""WITH d AS (SELECT user_id, ts, event_id,
                            value - lag(value) OVER ($W) AS d FROM events),
               c AS (SELECT user_id, ts, event_id, d IS NOT NULL AND d $cmp ${d(t)} AS c FROM d),
               f AS (SELECT user_id, ts, event_id, c,
                            CASE WHEN c IS NOT DISTINCT FROM lag(c) OVER ($W) THEN 0 ELSE 1 END AS flip
                     FROM c),
               r AS (SELECT user_id, c, sum(flip) OVER ($W ROWS UNBOUNDED PRECEDING) AS rid FROM f),
               runs AS (SELECT user_id, rid, count(*) AS len FROM r WHERE c GROUP BY user_id, rid)
          SELECT ents.u AS user_id,
                 CAST(min(len) AS BIGINT) AS min_len, CAST(max(len) AS BIGINT) AS max_len,
                 round(avg(len),6) AS mean_len, round(stddev_samp(len),6) AS std_len,
                 round(quantile_cont(len, 0.1),6) AS p10_len,
                 round(quantile_cont(len, 0.5),6) AS median_len,
                 round(quantile_cont(len, 0.9),6) AS p90_len
          FROM runs RIGHT JOIN (SELECT DISTINCT user_id AS u FROM events) ents
            ON runs.user_id = ents.u
          GROUP BY ents.u, runs.user_id""") {
      (s, dir) => r6(Features.streakLengthStats(ev(s, dir), above, t))
    }
  }

  def longestDiffStreak(above: Boolean, t: Double): Q = {
    val (cmp, name) = if (above) (">=", "longest_streak_above") else ("<=", "longest_streak_below")
    Q(
      s"""WITH d AS (SELECT user_id, ts, event_id, value - lag(value) OVER ($W) AS d FROM events),
              c AS (SELECT user_id, ts, event_id, d IS NOT NULL AND d $cmp ${d(t)} AS c FROM d),
              f AS (SELECT user_id, ts, event_id, c,
                           CASE WHEN c IS NOT DISTINCT FROM lag(c) OVER ($W) THEN 0 ELSE 1 END AS flip
                    FROM c),
              r AS (SELECT user_id, c, sum(flip) OVER ($W ROWS UNBOUNDED PRECEDING) AS rid FROM f),
              runs AS (SELECT user_id, rid, count(*) AS len FROM r WHERE c GROUP BY user_id, rid),
              m AS (SELECT user_id, max(len) AS $name FROM runs GROUP BY user_id)
          SELECT u.user_id, CAST(coalesce(m.$name, 0) AS BIGINT) AS $name
          FROM (SELECT DISTINCT user_id FROM events) u LEFT JOIN m ON u.user_id = m.user_id""") {
      (s, dir) =>
        if (above) Features.longestStreakAbove(ev(s, dir), t)
        else Features.longestStreakBelow(ev(s, dir), t)
    }
  }

  // ─────────────────── sequential kernels (FeatureAggs) ───────────────────

  /** ApEn over (m, r-ratio): Chebyshev-ball counts via the generic
    * m-term greatest() chain; phi_m over n−m+1 windows, phi_{m+1}
    * over n−m (Kernels.approximateEntropy). List folds run in list
    * order on both engines, so the doubles match bitwise. */
  def approximateEntropy(m: Int, ratio: Double): Q = {
    def cheb(mm: Int) =
      (0 until mm).map(k => s"abs(v[i+$k]-v[j+$k])").mkString("greatest(", ", ", ")")
    // DuckDB range(1, hi) = [1, hi-1]; mm-windows count = n-mm+1,
    // so the range hi is n-(mm-2) (for mm=2 that's "n - 0" = the
    // pinned oracle's range(1, n))
    def phi(mm: Int) =
      s"""list_sum(list_transform(range(1, n - ${mm - 2}), i ->
            ln(len(list_filter(range(1, n - ${mm - 2}), j ->
              ${cheb(mm)} <= r))::DOUBLE / (n - ${mm - 1}))))
            / (n - ${mm - 1})"""
    Q(
      s"""WITH xs AS (SELECT user_id, list(value ORDER BY ts, event_id) AS v
                      FROM events GROUP BY user_id),
              st AS (SELECT user_id, v, len(v) AS n,
                       ${d(ratio)} * sqrt(list_sum(list_transform(v,
                         x -> (x - list_sum(v)/len(v)) * (x - list_sum(v)/len(v)))) / (len(v)-1)) AS r
                     FROM xs)
         SELECT user_id, round(abs(${phi(m)} - ${phi(m + 1)}), 6) AS approximate_entropy
         FROM st""") { (s, dir) =>
      r6(FeatureAggs.over(ev(s, dir),
        FeatureAggs.approximateEntropy(m = m, r = ratio), "approximate_entropy"))
    }
  }

  /** SampEn over (m, r-ratio): B/A template-match counts minus
    * self-matches, r = ratio·σ_pop (Kernels.sampleEntropy). */
  def sampleEntropy(m: Int, ratio: Double): Q = {
    def cheb(mm: Int) =
      (0 until mm).map(k => s"abs(v[i+$k]-v[j+$k])").mkString("greatest(", ", ", ")")
    def cnt(mm: Int) =
      s"""(list_sum(list_transform(range(1, n - ${mm - 2}), i ->
             len(list_filter(range(1, n - ${mm - 2}), j ->
               ${cheb(mm)} <= r)))) - (n - ${mm - 1}))"""
    Q(
      s"""WITH xs AS (SELECT user_id, list(value ORDER BY ts, event_id) AS v
                      FROM events GROUP BY user_id),
              st AS (SELECT user_id, v, len(v) AS n,
                       ${d(ratio)} * sqrt(list_sum(list_transform(v,
                         x -> (x - list_sum(v)/len(v)) * (x - list_sum(v)/len(v)))) / len(v)) AS r
                     FROM xs),
              cnt AS (SELECT user_id, ${cnt(m)} AS b, ${cnt(m + 1)} AS a FROM st)
         SELECT user_id,
           CASE WHEN a = 0 AND b > 0 THEN 'inf'::DOUBLE
                WHEN a = 0 AND b = 0 THEN 'nan'::DOUBLE
                ELSE round(ln(b::DOUBLE / a::DOUBLE), 6) END AS sample_entropy
         FROM cnt""") { (s, dir) =>
      r6(FeatureAggs.over(ev(s, dir),
        FeatureAggs.sampleEntropy(ratio = ratio, m = m), "sample_entropy"))
    }
  }

  // ───────────────────────── preprocessing ─────────────────────────

  def lagTransform(lags: Seq[Int]): Q = {
    val ls = lags.sorted
    val cols = ls.map(l => s"value__lag_$l")
    Q(
      s"""SELECT event_id,
            ${ls.map(l => s"lag(value, $l) OVER ($W) AS value__lag_$l").mkString(", ")}
          FROM events QUALIFY row_number() OVER ($W) > ${ls.max}""") {
      (s, dir) =>
        Preprocess.lag(ev(s, dir), ls)
          .select("event_id", cols: _*)
    }
  }

  def rollTransform(window: Int): Q = Q(
    s"""SELECT event_id,
          round(avg(value) OVER ($W ROWS BETWEEN $window PRECEDING AND 1 PRECEDING), 6) AS value__rolling_mean_$window,
          round(sum(value) OVER ($W ROWS BETWEEN $window PRECEDING AND 1 PRECEDING), 6) AS value__rolling_sum_$window,
          min(value) OVER ($W ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS value__rolling_min_$window,
          max(value) OVER ($W ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS value__rolling_max_$window
        FROM events""") {
    (s, dir) =>
      r6(Preprocess.roll(ev(s, dir), Seq(window), Seq("mean", "sum", "min", "max"))
        .select("event_id", s"value__rolling_mean_$window", s"value__rolling_sum_$window",
          s"value__rolling_min_$window", s"value__rolling_max_$window"))
  }

  def diffTransform(order: Int, sp: Int): Q = {
    // order nested seasonal differences: d1 = v − lag(v, sp); d2 = d1 − lag(d1, sp); …
    val ctes = (1 to order).map { i =>
      val src = if (i == 1) "events" else s"dd${i - 1}"
      val v = if (i == 1) "value" else "value"
      s"dd$i AS (SELECT user_id, ts, event_id, $v - lag($v, $sp) OVER ($W) AS value FROM $src)"
    }.mkString(", ")
    Q(s"""WITH $ctes SELECT event_id, round(value, 6) AS value FROM dd$order""") {
      (s, dir) =>
        val (out, _) = Preprocess.diff(ev(s, dir), order = order, sp = sp)
        r6(out.select("event_id", "value"))
    }
  }

  def boxcox(lambda: Double): Q = {
    require(lambda != 0.0, "use the ln branch fixture for lambda = 0")
    Q(s"SELECT event_id, round((pow(value, ${d(lambda)}) - 1) / ${d(lambda)}, 6) AS value FROM events") {
      (s, dir) =>
        val p = ev(s, dir)
        r6(p.df.withColumn("value", Preprocess.boxcox(col("value"), lit(lambda)))
          .select("event_id", "value"))
    }
  }

  def yeojohnson(lambda: Double): Q = {
    require(lambda != 0.0 && lambda != 2.0, "grid excludes the ln branches")
    Q(
      s"""SELECT event_id, round(CASE
           WHEN value >= 0 THEN (pow(value + 1, ${d(lambda)}) - 1) / ${d(lambda)}
           ELSE -(pow(-value + 1, ${d(2.0 - lambda)}) - 1) / ${d(2.0 - lambda)} END, 6) AS value
         FROM events""") {
      (s, dir) =>
        val p = ev(s, dir)
        r6(p.df.withColumn("value", Preprocess.yeojohnson(col("value"), lit(lambda)))
          .select("event_id", "value"))
    }
  }

  def fracDiff(dOrd: Double, window: Int): Q = {
    val ws = Preprocess.fracDiffWeights(dOrd, 1e-5, window)
    val terms = ws.zipWithIndex.map { case (w, k) =>
      if (k == 0) s"${dx(w)} * value" else s"${dx(w)} * lag(value, $k) OVER ($W)"
    }.mkString(" + ")
    Q(s"SELECT event_id, round($terms, 6) AS frac_diff FROM events") {
      (s, dir) =>
        r6(Preprocess.fracDiff(ev(s, dir), dOrd, 1e-5, window).select("event_id", "frac_diff"))
    }
  }

  def fourierTerms(sp: Int, k: Int): Q = {
    val cols = (1 to k).flatMap(i => Seq(s"cos_${sp}_$i", s"sin_${sp}_$i"))
    val sel = (1 to k).map(i =>
      s"round(cos(2 * pi() * $i * coef),6) AS cos_${sp}_$i, round(sin(2 * pi() * $i * coef),6) AS sin_${sp}_$i")
      .mkString(",\n            ")
    Q(
      s"""WITH b AS (SELECT event_id, ((row_number() OVER ($W) - 1) % $sp)::DOUBLE / $sp AS coef FROM events)
          SELECT event_id,
            $sel
          FROM b""") {
      (s, dir) =>
        r6(Seasonality.addFourierTerms(ev(s, dir), sp = sp, k = k)
          .select("event_id", cols: _*))
    }
  }

  // ───────────────────────── metrics / CV ─────────────────────────

  private val alignedSql =
    s"""SELECT user_id, value AS a, lag(value) OVER ($W) AS p FROM events"""

  private def naivePred(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = ev(s, dir)
    val pred = p.df.withColumn("pred", lag(col("value"), 1).over(p.w))
      .select("user_id", "event_id", "pred")
    Metrics.aligned(p.df, pred, Seq("user_id", "event_id"), "value", "pred")
  }

  def mase(sp: Int): Q = Q(
    s"""WITH mae AS (SELECT user_id, avg(abs(p - a)) AS mae FROM ($alignedSql) GROUP BY user_id),
            nv AS (SELECT user_id, value - lag(value, $sp) OVER ($W) AS nd FROM events),
            den AS (SELECT user_id, avg(abs(nd)) AS den FROM nv GROUP BY user_id)
        SELECT mae.user_id, round(mae.mae / den.den,6) AS mase
        FROM mae LEFT JOIN den ON mae.user_id = den.user_id""") {
    (s, dir) =>
      val p = ev(s, dir)
      r6(Metrics.mase(naivePred(s, dir), p.df, Seq("user_id"), Seq("ts", "event_id"), "value", sp))
  }

  def rmsse(sp: Int): Q = Q(
    s"""WITH mse AS (SELECT user_id, avg(pow(p - a, 2)) AS mse FROM ($alignedSql) GROUP BY user_id),
            nv AS (SELECT user_id, value - lag(value, $sp) OVER ($W) AS nd FROM events),
            den AS (SELECT user_id, avg(pow(nd, 2)) AS den FROM nv GROUP BY user_id)
        SELECT mse.user_id, round(sqrt(mse.mse / den.den),6) AS rmsse
        FROM mse LEFT JOIN den ON mse.user_id = den.user_id""") {
    (s, dir) =>
      val p = ev(s, dir)
      r6(Metrics.rmsse(naivePred(s, dir), p.df, Seq("user_id"), Seq("ts", "event_id"), "value", sp))
  }

  def cvTrainTestSplit(testSize: Int): Q = Q(
    s"""SELECT event_id,
          CASE WHEN row_number() OVER ($W) <= count(*) OVER ($WE) - $testSize THEN 'train' ELSE 'test' END AS part
        FROM events""") {
    (s, dir) =>
      val dd = CrossValidation.withPosition(ev(s, dir))
      dd.select(col("event_id"),
        when(col("__rn") <= col("__cnt") - testSize, "train").otherwise("test").as("part"))
  }

  def cvExpandingWindow(nSplits: Int, testSize: Int, stepSize: Int): Q = Q(
    s"""WITH b AS (SELECT user_id, event_id, row_number() OVER ($W) AS rn,
                          count(*) OVER ($WE) AS cnt FROM events),
            s AS (SELECT i AS split FROM unnest([${(0 until nSplits).mkString(", ")}]) AS t(i))
        SELECT b.user_id, s.split,
               CAST(sum(CASE WHEN rn <= cnt - ($testSize + (${nSplits - 1} - split) * $stepSize) THEN 1 ELSE 0 END) AS BIGINT) AS train_n,
               CAST(sum(CASE WHEN rn > cnt - ($testSize + (${nSplits - 1} - split) * $stepSize)
                         AND rn <= cnt - ($testSize + (${nSplits - 1} - split) * $stepSize) + $testSize THEN 1 ELSE 0 END) AS BIGINT) AS test_n
        FROM b CROSS JOIN s GROUP BY b.user_id, s.split""") {
    (s, dir) =>
      val dd = CrossValidation.withPosition(ev(s, dir))
      val aggs = (0 until nSplits).flatMap { i =>
        val trainEnd = col("__cnt") - (testSize + (nSplits - 1 - i) * stepSize)
        Seq(
          sum(when(col("__rn") <= trainEnd, 1).otherwise(0)).cast("long").as(s"tr$i"),
          sum(when(col("__rn") > trainEnd && col("__rn") <= trainEnd + testSize, 1).otherwise(0))
            .cast("long").as(s"te$i"))
      }
      val stacked = (0 until nSplits).map(i => s"$i, tr$i, te$i").mkString(", ")
      dd.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
        .selectExpr("user_id", s"stack($nSplits, $stacked) AS (split, train_n, test_n)")
  }

  def cvSlidingWindow(windowSize: Int, nSplits: Int, testSize: Int, stepSize: Int): Q = Q(
    s"""WITH b AS (SELECT user_id, event_id, row_number() OVER ($W) AS rn,
                          count(*) OVER ($WE) AS cnt FROM events),
            s AS (SELECT i AS split FROM unnest([${(0 until nSplits).mkString(", ")}]) AS t(i))
        SELECT b.user_id, s.split,
               CAST(sum(CASE WHEN rn > cnt - ($testSize + (${nSplits - 1} - split) * $stepSize) - $windowSize
                         AND rn <= cnt - ($testSize + (${nSplits - 1} - split) * $stepSize) THEN 1 ELSE 0 END) AS BIGINT) AS train_n
        FROM b CROSS JOIN s GROUP BY b.user_id, s.split""") {
    (s, dir) =>
      val dd = CrossValidation.withPosition(ev(s, dir))
      val aggs = (0 until nSplits).map { i =>
        val trainEnd = col("__cnt") - (testSize + (nSplits - 1 - i) * stepSize)
        sum(when(col("__rn") > trainEnd - windowSize && col("__rn") <= trainEnd, 1).otherwise(0))
          .cast("long").as(s"tr$i")
      }
      val stacked = (0 until nSplits).map(i => s"$i, tr$i").mkString(", ")
      dd.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
        .selectExpr("user_id", s"stack($nSplits, $stacked) AS (split, train_n)")
  }

  // ───────────────────────── forecasters ─────────────────────────

  private def horizons(fh: Int): String = (1 to fh).mkString("[", ", ", "]")

  def fcNaive(fh: Int): Q = Q(
    s"""WITH state AS (SELECT user_id, arg_max(value, ts) AS lastv, max(ts) AS cutoff
                       FROM events GROUP BY user_id),
            h AS (SELECT i AS h FROM unnest(${horizons(fh)}) AS t(i))
        SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts, lastv AS value
        FROM state CROSS JOIN h""") {
    (s, dir) => Forecasters.naive(ev(s, dir), "ts", fh = fh, freq = "1d")
  }

  def fcSnaive(sp: Int, fh: Int): Q = Q(
    s"""WITH tail AS (SELECT user_id, ts, value,
                             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rnd
                      FROM events),
            state AS (SELECT user_id, list(value ORDER BY ts) AS tl, max(ts) AS cutoff
                      FROM tail WHERE rnd <= $sp GROUP BY user_id),
            h AS (SELECT i AS h FROM unnest(${horizons(fh)}) AS t(i))
        SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
               tl[((h - 1) % len(tl)) + 1] AS value
        FROM state CROSS JOIN h""") {
    (s, dir) => Forecasters.snaive(ev(s, dir), "ts", fh = fh, sp = sp, freq = "1d")
  }

  private def caseH(fh: Int): String =
    // fh=1 has no WHEN arms — a bare "CASE h ELSE p1 END" is a parse
    // error, so the single-horizon case is just the p1 column
    if (fh == 1) "p1"
    else s"CASE h ${(1 until fh).map(h => s"WHEN $h THEN p$h").mkString(" ")} ELSE p$fh END"

  /** Full-data pooled OLS/ridge AR(lags) fit + fh-step recursive
    * prediction, via the SAME [[OlsBacktestSql.fullLinear]] machinery
    * the pinned fc_linear_weighted / elite oracles use. */
  def fcLinear(lags: Int, fh: Int, ridge: Double = 0.0): Q = Q(
    s"""WITH ${OlsBacktestSql.lagdCte(lags)},
        ${OlsBacktestSql.fullLinear("fz", lags, fh = fh, ridge = ridge)}
        SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
               round(${caseH(fh)}, 6) AS value
        FROM fp_fz CROSS JOIN (SELECT unnest(${horizons(fh)}) AS h)""") { (s, dir) =>
    val p = ev(s, dir)
    r6(LinearForecaster.fit(p, lags = lags, freq = "1d", regParam = ridge)
      .predict(p, "ts", fh = fh))
  }

  /** Exact one-step KNN over (lags, k): pooled AR-reduction rows, the
    * squared distance folded in ascending lag order, top-k by
    * (distance, label), mean label — the one-horizon case of the SAME
    * [[OlsBacktestSql.knnRecursiveCtes]] chain as [[fcKnnRecursive]]
    * (fc_knn pins lags 7, k 5). */
  def fcKnn(lags: Int, k: Int): Q = Q(
    s"""WITH ${OlsBacktestSql.lagdCte(lags)},
        ${OlsBacktestSql.knnRecursiveCtes("fz", lags, k = k, horizons = 1,
      endRn = "cnt", trainCond = "TRUE")}
        SELECT user_id, CAST(cutoff + INTERVAL '1 day' AS TIMESTAMP) AS ts,
               round(p1, 6) AS value
        FROM fp_fz""") { (s, dir) =>
    r6(KnnForecaster.predictOneStep(ev(s, dir), "ts", "1d", lags = lags, k = k))
  }

  /** Recursive multi-horizon KNN over (lags, k, fh): horizon h's query
    * prepends ŷ_{h−1} to the shifted state (fc_knn_recursive pins lags
    * 7, k 5, fh 3). */
  def fcKnnRecursive(lags: Int, k: Int, fh: Int): Q = Q(
    s"""WITH ${OlsBacktestSql.lagdCte(lags)},
        ${OlsBacktestSql.knnRecursiveCtes("fz", lags, k = k, horizons = fh,
      endRn = "cnt", trainCond = "TRUE")}
        SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
               round(${caseH(fh)}, 6) AS value
        FROM fp_fz CROSS JOIN (SELECT unnest(${horizons(fh)}) AS h)""") { (s, dir) =>
    r6(KnnForecaster.predictRecursive(ev(s, dir), "ts", "1d", lags = lags, k = k, fh = fh))
  }

  /** Elastic-net/lasso CD fit over (lags, α, l1Ratio, sweeps) via the
    * SAME [[OlsBacktestSql.fullElasticNet]] machinery as the pinned
    * fc_lasso / fc_elastic_net. */
  def fcElasticNet(lags: Int, fh: Int, alpha: Double, l1Ratio: Double, sweeps: Int): Q = Q(
    s"""WITH ${OlsBacktestSql.lagdCte(lags)},
        ${OlsBacktestSql.fullElasticNet("fz", lags, fh = fh, alpha = alpha, l1Ratio = l1Ratio, sweeps = sweeps)}
        SELECT user_id, CAST(cutoff + h * INTERVAL '1 day' AS TIMESTAMP) AS ts,
               round(${caseH(fh)}, 6) AS value
        FROM fp_fz CROSS JOIN (SELECT unnest(${horizons(fh)}) AS h)""") { (s, dir) =>
    val p = ev(s, dir)
    r6(LinearForecaster.fit(p, lags = lags, freq = "1d",
      regParam = alpha, elasticNetParam = l1Ratio, cdSweeps = sweeps)
      .predict(p, "ts", fh = fh))
  }

  // ───────────────────────── similarity ─────────────────────────

  def cosineTopK(nQueries: Int, k: Int): Q = Q(
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $nQueries),
            c AS (SELECT vec_id AS n_id, embedding AS cv FROM embeddings),
            s AS (SELECT q_id, n_id,
                    ${PipelineQueries.dotSql("qv", "cv")} /
                    (sqrt(${PipelineQueries.dotSql("qv", "qv")}) * sqrt(${PipelineQueries.dotSql("cv", "cv")})) AS sim
                  FROM q JOIN c ON q_id <> n_id)
        SELECT q_id, rnk, n_id, round(sim, 6) AS sim FROM (
          SELECT q_id, n_id, sim,
                 row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
          FROM s) WHERE rnk <= $k""") {
    (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      r6(Similarity.cosineTopK(emb.filter(col("vec_id") < nQueries), emb, "vec_id", "embedding", k))
  }
}
