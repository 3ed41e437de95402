package graft

import graft.operators.{KnnForecaster, KnnScan}
import org.apache.spark.util.LongAccumulator

import scala.util.Random

/** The pruned KNN scan kernel against a brute-force reference kept
  * here: the surviving (distance, label) multiset of every query must
  * match in raw bits. */
class KnnScanSpec extends SparkSpec {

  private type Query = (Long, Int, Array[Double])

  private def counters() = KnnScan.Counters(new LongAccumulator, new LongAccumulator)

  /** Every row of the query's group, distances folded like the kernel,
    * k smallest under the total (distance, label) order, as raw bits. */
  private def bruteForce(lags: Int, feat: Array[Double], lab: Array[Double],
                         grp: Array[Int], q: Query, k: Int): Seq[(Long, Long)] = {
    val cands = lab.indices.filter(grp(_) == q._2).map { r =>
      var d = 0.0
      var j = 0
      while (j < lags) { val t = feat(r * lags + j) - q._3(j); d += t * t; j += 1 }
      (d, lab(r))
    }
    bits(cands.sortWith(lessThan).take(k))
  }

  private def lessThan(a: (Double, Double), b: (Double, Double)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c < 0 || (c == 0 && java.lang.Double.compare(a._2, b._2) < 0)
  }

  private def bits(xs: Seq[(Double, Double)]): Seq[(Long, Long)] =
    xs.map { case (d, l) =>
      (java.lang.Double.doubleToRawLongBits(d), java.lang.Double.doubleToRawLongBits(l))
    }

  /** Kernel result per qid, sorted, as raw bits. */
  private def kernel(segs: Seq[KnnScan.Segment], qs: Array[Query], k: Int,
                     ctr: KnnScan.Counters = counters()): Map[Long, Seq[(Long, Long)]] =
    KnnScan.scan(segs.iterator, qs, k, ctr).map { case (qid, d0, l0, c) =>
      qid -> bits((0 until c).map(j => (d0(j), l0(j))).sortWith(lessThan))
    }.toMap

  /** Index `n` rows in segments of `segRows` and compare every query
    * with the brute-force top-k. */
  private def check(lags: Int, feat: Array[Double], lab: Array[Double], grp: Array[Int],
                    qs: Array[Query], k: Int, leafRows: Int = KnnScan.LeafRows,
                    segRows: Int = KnnScan.SegmentRows): Unit = {
    val n = lab.length
    val segs = (0 until n by segRows).map { s =>
      val e = math.min(n, s + segRows)
      KnnScan.build(lags, feat.slice(s * lags, e * lags), lab.slice(s, e), grp.slice(s, e),
        e - s, leafRows)
    }
    val got = kernel(segs, qs, k)
    qs.foreach { q =>
      val want = bruteForce(lags, feat, lab, grp, q, k)
      assert(got.getOrElse(q._1, Nil) == want,
        s"query ${q._1} (k=$k, leafRows=$leafRows): ${got.get(q._1)} vs $want")
    }
  }

  private def randomCase(seed: Long, n: Int, lags: Int, nGroups: Int,
                         value: Random => Double): (Array[Double], Array[Double], Array[Int]) = {
    val r = new Random(seed)
    (Array.fill(n * lags)(value(r)), Array.fill(n)(value(r)), Array.fill(n)(r.nextInt(nGroups)))
  }

  private def queries(seed: Long, nq: Int, lags: Int, nGroups: Int,
                      value: Random => Double): Array[Query] = {
    val r = new Random(seed)
    Array.tabulate(nq)(i => (i.toLong, r.nextInt(nGroups), Array.fill(lags)(value(r))))
  }

  test("grid values: duplicates, distance ties with different labels, lb == d") {
    // small-integer coordinates make duplicate rows, exact distance
    // ties at the k-th place with differing labels, and rows sitting on
    // their leaf's box so that d equals the leaf's lower bound exactly
    val grid: Random => Double = r => r.nextInt(5).toDouble
    for (lags <- Seq(1, 3, 7); k <- Seq(1, 4, 9); leafRows <- Seq(1, 4, 128)) {
      val (f, l, g) = randomCase(lags * 100 + k, 1500, lags, 1, grid)
      check(lags, f, l, g, queries(k, 40, lags, 1, grid), k, leafRows)
    }
  }

  test("a tie at the threshold in a later leaf is still admitted") {
    // lags = 1, two-row leaves {0, 1} and {3, 3}. For q = 2 both lower
    // bounds are 1, so leaf {0, 1} goes first and fills the k = 1 heap
    // with (1, label 9). Leaf {3, 3} has lb == thrD: it must be scanned,
    // and its (1, label 1) rows beat the held pair on the label.
    val feat = Array(0.0, 1.0, 3.0, 3.0)
    val lab = Array(5.0, 9.0, 1.0, 1.0)
    val grp = Array(0, 0, 0, 0)
    val seg = KnnScan.build(1, feat, lab, grp, 4, leafRows = 2)
    assert(seg.leafRow.toSeq == Seq(0, 2, 4))
    assert(kernel(Seq(seg), Array((0L, 0, Array(2.0))), 1)(0L) == bits(Seq((1.0, 1.0))))
    check(1, feat, lab, grp, Array((0L, 0, Array(2.0)), (1L, 0, Array(-0.5))), 2, 2)
  }

  test("extreme magnitudes and negative values") {
    val cases: Seq[Random => Double] = Seq(
      r => (r.nextInt(7) - 3) * 1e-300,
      r => r.nextGaussian() * 1e-300,
      r => (r.nextInt(7) - 3) * 1e150,
      r => r.nextGaussian() * 1e160, // squares overflow to Infinity
      r => -math.abs(r.nextGaussian()) * 1e3)
    cases.zipWithIndex.foreach { case (v, i) =>
      val (f, l, g) = randomCase(i, 700, 5, 2, v)
      check(5, f, l, g, queries(i + 50, 30, 5, 2, v), 5, leafRows = 16)
    }
  }

  test("k larger than the rows, single-row leaves, groups with queries but no rows") {
    val v: Random => Double = r => r.nextGaussian()
    val (f, l, g) = randomCase(7, 40, 4, 5, v)
    // group 7 has queries but no rows; k = 60 > rows in any group
    val qs = queries(8, 25, 4, 5, v) ++ Array((100L, 7, Array(0.0, 0, 0, 0)))
    check(4, f, l, g, qs, 60)
    check(4, f, l, g, qs, 3, leafRows = 1)
    check(4, f, l, g, qs, 3, leafRows = 1, segRows = 7)
    assert(!kernel(Seq(KnnScan.build(4, f, l, g, 40)), qs, 3).contains(100L))
  }

  test("segments carry each query's state; the counters add up") {
    val v: Random => Double = r => r.nextGaussian()
    val (f, l, g) = randomCase(11, 5000, 6, 3, v)
    val qs = queries(12, 60, 6, 3, v)
    check(6, f, l, g, qs, 5, segRows = 1234)
    val ctr = counters()
    kernel(Seq(KnnScan.build(6, f, l, g, 5000)), qs, 5, ctr)
    val inScope = qs.map(q => g.count(_ == q._2).toLong).sum
    assert(ctr.inScope.value == inScope)
    assert(ctr.evaluated.value > 0 && ctr.evaluated.value < inScope,
      s"evaluated ${ctr.evaluated.value} of $inScope")
  }

  test("Spark index: empty partitions and k beyond a partition's rows") {
    val r = new Random(3)
    val rows = Seq.fill(30)((r.nextInt(4).toDouble, r.nextInt(4).toDouble, r.nextInt(9).toDouble))
    import spark.implicits._
    // 16 partitions over 30 rows: several are empty, none holds k rows
    val corpus = rows.toDF("f1", "f2", "l").repartition(16).cache()
    try {
      val qs: Array[Query] = Array.tabulate(10)(i => (i.toLong, 0, Array(i % 4 + 0.5, i % 3.0)))
      val k = 7
      val ctr = KnnScan.counters(spark.sparkContext)
      val parts = KnnScan.index(corpus, 2, KnnScan.OneGroup)
        .mapPartitions(segs => KnnScan.scan(segs, qs, k, ctr).map { case (qid, d0, l0, c) =>
          (qid, (0 until c).map(j => (d0(j), l0(j))))
        }).collect()
      val local = corpus.collect()
      val feat = local.flatMap(x => Seq(x.getDouble(0), x.getDouble(1)))
      val lab = local.map(_.getDouble(2))
      qs.foreach { q =>
        val merged = parts.filter(_._1 == q._1).flatMap(_._2).toSeq.sortWith(lessThan).take(k)
        assert(bits(merged) == bruteForce(2, feat, lab, Array.fill(lab.length)(0), q, k))
      }
      assert(ctr.inScope.value == 10L * 30)
    } finally corpus.unpersist(blocking = false)
  }

  test("a NaN newest value gets no forecast; the rest do not depend on partitioning") {
    val r = new Random(5)
    val series = (0 until 6).map(e => (0 until 40).map(_ => r.nextInt(6).toDouble))
    val withNaN = series.updated(2, series(2).updated(39, Double.NaN))
    def run(parts: Int) = {
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val p = panel(withNaN: _*)
        (KnnForecaster.predictOneStep(p, "t", "1i", lags = 3, k = 4)
          .orderBy("entity").collect().map(_.toSeq),
         KnnForecaster.predictRecursive(p, "t", "1i", lags = 3, k = 4, fh = 2)
          .orderBy("entity", "t").collect().map(_.toSeq))
      } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
    val (one1, rec1) = run(1)
    val (one4, rec4) = run(4)
    assert(!one1.exists(_.head == 2) && !rec1.exists(_.head == 2))
    assert(one1.length == 5 && rec1.length == 10)
    assert(one1.toSeq == one4.toSeq, s"${one1.toSeq} vs ${one4.toSeq}")
    assert(rec1.toSeq == rec4.toSeq, s"${rec1.toSeq} vs ${rec4.toSeq}")
  }
}
