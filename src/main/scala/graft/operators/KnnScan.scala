package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

/** The exact bounded-heap KNN scan kernel behind every broadcast-query
  * KNN path: [[KnnForecaster.predictOneStep]] / `predictOneStepMultiK`
  * / `predictRecursive`, the IVF one-step search
  * ([[KnnForecaster.predictOneStepIvf]]) and the elite zoo's batched
  * roll ([[KnnForecaster.heapPassMultiMerged]]).
  *
  * Index ([[index]]). A task reads its corpus rows (f1..f_lags, label
  * [, group]) [[SegmentRows]] at a time. Each segment groups its rows
  * by group id (one group, the `__grp` column, or the row's nearest IVF
  * centroid) and splits every group into kd leaves of at most
  * [[LeafRows]] rows — median split on the widest lag — keeping each
  * leaf's per-lag min and max. Memory per task is bounded by one
  * segment whatever the partition size.
  *
  * Probe ([[scan]]). A query visits its group's leaves in ascending
  * order of the box lower bound lb = Σ_j gap_j², gap_j being the
  * distance from q_j to [min_j, max_j], runs [[scanRun]]'s admission on
  * each leaf, and stops at the first leaf with lb > thrD once its heap
  * holds k rows. The per-query top-k state carries across segments.
  *
  * Exactness. lb is folded from 0.0 in the same ascending-lag order as
  * the distance `d += t * t`. For a row x in the leaf, |x_j − q_j| ≥
  * gap_j exactly, and IEEE round-to-nearest subtraction, squaring and
  * addition are monotone, so each partial lb is never above the row's
  * partial distance: lb ≤ d bit-for-bit, with no epsilon margin. A
  * skipped leaf has lb > thrD, so each of its rows has d > thrD and
  * could not have been admitted (the k-th threshold only falls). The
  * surviving (distance, label) multiset is the k smallest under the
  * total (distance, label) order — independent of visit order — so it
  * is bit-identical to a brute-force scan of the same rows. Corpus rows
  * must be NaN-free (the callers' `na.drop` guarantees it).
  *
  * Two named accumulators, [[EvaluatedName]] and [[InScopeName]], count
  * the pairs whose distance was computed and the pairs a brute-force
  * scan would compute; each task adds to them once, so the kept
  * fraction shows in Spark's stage accumulables. */
private[graft] object KnnScan {

  /** Rows indexed at a time per task. */
  val SegmentRows = 65536
  /** Largest kd leaf. Median splits keep every leaf of a group larger
    * than this at ≥ LeafRows/2 rows, so a group has at most
    * 2·SegmentRows/LeafRows leaves. */
  val LeafRows = 128
  /** Low key bits that carry a leaf's index in the probe's sort keys. */
  private val LeafBits = 11
  private val LeafMask = (1L << LeafBits) - 1

  val EvaluatedName = "knn.pairs_evaluated"
  val InScopeName = "knn.pairs_in_scope"

  /** How a corpus row finds its group. */
  sealed trait Grouping extends Serializable
  /** Every row is in group 0. */
  case object OneGroup extends Grouping
  /** The Int column after the label. */
  case object GroupColumn extends Grouping
  /** The row's nearest centroid ([[KnnForecaster.nearestCell]]). */
  final case class NearestCell(cents: Broadcast[Array[Array[Double]]]) extends Grouping

  /** The two pair counters of one scan. */
  final case class Counters(evaluated: LongAccumulator, inScope: LongAccumulator)

  def counters(sc: SparkContext): Counters =
    Counters(sc.longAccumulator(EvaluatedName), sc.longAccumulator(InScopeName))

  /** One indexed segment. Rows are stored row-major in leaf order;
    * group g owns leaves [grpLeaf(g), grpLeaf(g+1)), leaf l owns rows
    * [leafRow(l), leafRow(l+1)) and its bounds sit at
    * lo/hi(l·lags … l·lags + lags − 1). */
  final class Segment(val lags: Int, val feat: Array[Double], val lab: Array[Double],
                      val grpIds: Array[Int], val grpLeaf: Array[Int],
                      val leafRow: Array[Int],
                      val lo: Array[Double], val hi: Array[Double]) extends Serializable {
    def rows: Int = lab.length
    /** Rows of the g-th group (group id grpIds(g)). */
    def groupRows(g: Int): Int = leafRow(grpLeaf(g + 1)) - leafRow(grpLeaf(g))
  }

  /** The leaf index of `corpus` (f1..f_lags, label [, __grp Int]): a
    * lazy iterator of segments per partition, so a probe that pulls it
    * holds one segment at a time, and a cached index holds them all. */
  def index(corpus: DataFrame, lags: Int, grouping: Grouping): RDD[Segment] =
    corpus.rdd.mapPartitions { it =>
      val cents = grouping match {
        case NearestCell(b) => b.value
        case _ => null
      }
      new Iterator[Segment] {
        def hasNext: Boolean = it.hasNext
        def next(): Segment = {
          var cap = 1024
          var feat = new Array[Double](cap * lags)
          var lab = new Array[Double](cap)
          var grp = new Array[Int](cap)
          var n = 0
          while (n < SegmentRows && it.hasNext) {
            if (n == cap) {
              cap = math.min(2 * cap, SegmentRows)
              feat = java.util.Arrays.copyOf(feat, cap * lags)
              lab = java.util.Arrays.copyOf(lab, cap)
              grp = java.util.Arrays.copyOf(grp, cap)
            }
            val row = it.next()
            val base = n * lags
            var i = 0
            while (i < lags) { feat(base + i) = row.getDouble(i); i += 1 }
            lab(n) = row.getDouble(lags)
            grp(n) = grouping match {
              case OneGroup => 0
              case GroupColumn => row.getInt(lags + 1)
              case NearestCell(_) => KnnForecaster.nearestCellAt(feat, base, lags, cents)
            }
            n += 1
          }
          build(lags, feat, lab, grp, n)
        }
      }
    }

  /** Index rows [0, n) of the row-major `feat` / `lab` / `grp` buffers.
    * `leafRows` is [[LeafRows]] outside tests. */
  def build(lags: Int, feat: Array[Double], lab: Array[Double], grp: Array[Int],
            n: Int, leafRows: Int = LeafRows): Segment = {
    require(n <= SegmentRows, s"a segment holds at most $SegmentRows rows (got $n)")
    // rows ordered by (group, arrival): group in the high word
    val key = new Array[Long](n)
    var i = 0
    while (i < n) { key(i) = (grp(i).toLong << 32) | i.toLong; i += 1 }
    java.util.Arrays.sort(key)
    val perm = new Array[Int](n)
    i = 0
    while (i < n) { perm(i) = key(i).toInt; i += 1 }
    val grpIds = Array.newBuilder[Int]
    val grpLeaf = Array.newBuilder[Int]
    val leafRow = Array.newBuilder[Int]
    var nLeaves = 0
    val mn = new Array[Double](lags)
    val mx = new Array[Double](lags)
    def split(a: Int, b: Int): Unit =
      if (b - a <= leafRows) { leafRow += a; nLeaves += 1 }
      else {
        bounds(feat, lags, perm, a, b, mn, mx)
        var wj = 0
        var j = 1
        while (j < lags) { if (mx(j) - mn(j) > mx(wj) - mn(wj)) wj = j; j += 1 }
        val m = (a + b) >>> 1
        select(perm, feat, lags, wj, a, b, m)
        split(a, m); split(m, b)
      }
    var s = 0
    while (s < n) {
      val g = (key(s) >> 32).toInt
      var e = s + 1
      while (e < n && (key(e) >> 32).toInt == g) e += 1
      grpIds += g; grpLeaf += nLeaves
      val first = nLeaves
      split(s, e)
      require(nLeaves - first <= (1 << LeafBits),
        s"group $g has ${nLeaves - first} leaves, more than a probe key can index")
      s = e
    }
    grpLeaf += nLeaves
    leafRow += n
    val leafRowA = leafRow.result()
    val outFeat = new Array[Double](n * lags)
    val outLab = new Array[Double](n)
    i = 0
    while (i < n) {
      System.arraycopy(feat, perm(i) * lags, outFeat, i * lags, lags)
      outLab(i) = lab(perm(i))
      i += 1
    }
    val lo = new Array[Double](nLeaves * lags)
    val hi = new Array[Double](nLeaves * lags)
    var l = 0
    while (l < nLeaves) {
      bounds(feat, lags, perm, leafRowA(l), leafRowA(l + 1), mn, mx)
      System.arraycopy(mn, 0, lo, l * lags, lags)
      System.arraycopy(mx, 0, hi, l * lags, lags)
      l += 1
    }
    new Segment(lags, outFeat, outLab, grpIds.result(), grpLeaf.result(), leafRowA, lo, hi)
  }

  /** Per-lag min and max of rows perm[a, b) (b > a). */
  private def bounds(feat: Array[Double], lags: Int, perm: Array[Int], a: Int, b: Int,
                     mn: Array[Double], mx: Array[Double]): Unit = {
    System.arraycopy(feat, perm(a) * lags, mn, 0, lags)
    System.arraycopy(feat, perm(a) * lags, mx, 0, lags)
    var r = a + 1
    while (r < b) {
      val base = perm(r) * lags
      var j = 0
      while (j < lags) {
        val v = feat(base + j)
        if (v < mn(j)) mn(j) = v
        if (v > mx(j)) mx(j) = v
        j += 1
      }
      r += 1
    }
  }

  /** Reorder perm[a, b) so position m holds the row whose lag `j` value
    * ranks m − a, smaller-or-equal rows before it and larger-or-equal
    * after (Hoare partition quickselect). */
  private def select(perm: Array[Int], feat: Array[Double], lags: Int, j: Int,
                     a: Int, b: Int, m: Int): Unit = {
    var lo = a; var hi = b - 1
    while (hi > lo) {
      val pv = feat(perm((lo + hi) >>> 1) * lags + j)
      var x = lo; var y = hi
      while (x <= y) {
        while (feat(perm(x) * lags + j) < pv) x += 1
        while (feat(perm(y) * lags + j) > pv) y -= 1
        if (x <= y) {
          val t = perm(x); perm(x) = perm(y); perm(y) = t
          x += 1; y -= 1
        }
      }
      if (m <= y) hi = y
      else if (m >= x) lo = x
      else return
    }
  }

  /** Box lower bound of leaf `l` for query `q`, folded like the
    * distance (ascending lag, from 0.0). */
  @inline private def lowerBound(seg: Segment, l: Int, q: Array[Double]): Double = {
    val lags = seg.lags
    val o = l * lags
    var lb = 0.0; var j = 0
    while (j < lags) {
      val qj = q(j)
      val a = seg.lo(o + j); val b = seg.hi(o + j)
      val g = if (qj < a) a - qj else if (qj > b) qj - b else 0.0
      lb += g * g
      j += 1
    }
    lb
  }

  /** Top-k scan of `segments` for `qs` = (qid, group, state): each
    * query only meets its own group's rows. Returns (qid, distances,
    * labels, count) for every query that met at least one row — the
    * arrays' first `count` entries are its (distance, label)-smallest
    * k pairs, in no particular order. */
  def scan(segments: Iterator[Segment], qs: Array[(Long, Int, Array[Double])], k: Int,
           ctr: Counters): Iterator[(Long, Array[Double], Array[Double], Int)] = {
    require(k >= 1, s"knn needs k >= 1 (got $k)")
    val byGrp: scala.collection.Map[Int, Array[Int]] = qs.indices.toArray.groupBy(i => qs(i)._2)
    val nq = qs.length
    // primitive top-k state, allocated on a query's first visit
    val dA = new Array[Array[Double]](nq)
    val lA = new Array[Array[Double]](nq)
    val cnt = new Array[Int](nq)
    val maxI = new Array[Int](nq)
    var keys = new Array[Long](64)
    var nEval = 0L; var nScope = 0L
    segments.foreach { seg =>
      val lags = seg.lags
      var g = 0
      while (g < seg.grpIds.length) {
        val grpQs = byGrp.getOrElse(seg.grpIds(g), null)
        if (grpQs != null) {
          val l0 = seg.grpLeaf(g)
          val nl = seg.grpLeaf(g + 1) - l0
          val grpRows = seg.groupRows(g)
          if (keys.length < nl) keys = new Array[Long](nl)
          var gi = 0
          while (gi < grpQs.length) {
            val qi = grpQs(gi)
            if (dA(qi) == null) { dA(qi) = new Array[Double](k); lA(qi) = new Array[Double](k) }
            val d0 = dA(qi); val lb0 = lA(qi); val q = qs(qi)._3
            // sort keys: lb ≥ 0, so its raw bits order like the value;
            // the low LeafBits carry the leaf. Clearing them only
            // LOWERS each key's bound, which keeps the stop rule exact.
            var l = 0
            while (l < nl) {
              keys(l) = (java.lang.Double.doubleToRawLongBits(lowerBound(seg, l0 + l, q)) &
                ~LeafMask) | l.toLong
              l += 1
            }
            java.util.Arrays.sort(keys, 0, nl)
            var c = cnt(qi); var mi = maxI(qi)
            var li = 0
            while (li < nl && !(c == k &&
                java.lang.Double.longBitsToDouble(keys(li) & ~LeafMask) > d0(mi))) {
              val leaf = l0 + (keys(li) & LeafMask).toInt
              val s = seg.leafRow(leaf); val e = seg.leafRow(leaf + 1)
              val packed = scanRun(seg.feat, seg.lab, s, e, lags, k, q, d0, lb0, c, mi)
              c = (packed >>> 32).toInt; mi = packed.toInt
              nEval += e - s
              li += 1
            }
            cnt(qi) = c; maxI(qi) = mi
            nScope += grpRows
            gi += 1
          }
        }
        g += 1
      }
    }
    ctr.evaluated.add(nEval)
    ctr.inScope.add(nScope)
    (0 until nq).iterator.filter(qi => cnt(qi) > 0)
      .map(qi => (qs(qi)._1, dA(qi), lA(qi), cnt(qi)))
  }

  /** Index of the lexicographic (distance, label) maximum of the k
    * primitive state entries — `java.lang.Double.compare` total order
    * (NaN greatest, −0.0 < 0.0). Ties keep the lowest index; tied
    * entries are value-identical pairs, so which one a later admission
    * overwrites cannot change the surviving multiset. */
  @inline private def topKMaxIdx(d0: Array[Double], l0: Array[Double],
                                 k: Int): Int = {
    var mi = 0; var i = 1
    while (i < k) {
      val c = java.lang.Double.compare(d0(i), d0(mi))
      if (c > 0 || (c == 0 && java.lang.Double.compare(l0(i), l0(mi)) > 0)) mi = i
      i += 1
    }
    mi
  }

  /** Scan rows [s, e) of the row-major block buffer for ONE query's
    * bounded top-k state (d0/l0 arrays of size k, `cnt0` entries so
    * far, `maxI0` the max index once full). The admission test is the
    * exact IEEE comparison (`d < max || (d == max && label <
    * maxLabel)`) against the current k-th entry, and every admitted
    * row's distance comes from the same complete ascending-lag fold.
    * Returns the updated (cnt << 32) | maxI. */
  @inline private def scanRun(featBuf: Array[Double], labBuf: Array[Double],
                              s: Int, e: Int, lags: Int, k: Int,
                              q: Array[Double],
                              d0: Array[Double], l0: Array[Double],
                              cnt0: Int, maxI0: Int): Long = {
    var c = cnt0; var mi = maxI0
    var thrD = 0.0; var thrL = 0.0
    if (c == k) { thrD = d0(mi); thrL = l0(mi) }
    var r = s
    while (r < e) {
      val base = r * lags
      var d = 0.0; var j = 0
      while (j < lags) { val t = featBuf(base + j) - q(j); d += t * t; j += 1 }
      val label = labBuf(r)
      if (c < k) {
        d0(c) = d; l0(c) = label; c += 1
        if (c == k) {
          mi = topKMaxIdx(d0, l0, k); thrD = d0(mi); thrL = l0(mi)
        }
      } else if (d < thrD || (d == thrD && label < thrL)) {
        d0(mi) = d; l0(mi) = label
        mi = topKMaxIdx(d0, l0, k); thrD = d0(mi); thrL = l0(mi)
      }
      r += 1
    }
    (c.toLong << 32) | mi.toLong
  }
}
