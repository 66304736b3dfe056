package graft.functions

/** E-divisive change-point detection (Matteson & James 2014, "A
  * Nonparametric Approach for Multiple Change Point Analysis of
  * Multivariate Data") — the algorithm behind the reference's
  * `e_divisive(med_filtered, pvalue=0.05, permutations=100)` call
  * (metrics_advisor.py:148, via the public signal-processing-algorithms
  * package).
  *
  * Hierarchical binary segmentation: find the split that maximizes the
  * scaled energy statistic Q(τ); accept it if a keyed permutation test
  * deems it significant; recurse into both halves.
  *
  * O(n log n) per split scan (Fenwick-tree rank queries over the 1-D L1
  * distances — see scanQ) with O(n) extra memory; no n×n distance
  * matrix. Scale-out happens across signals (one series per task), not
  * within — per-series cost is bounded by retention.
  */
object EDivisive {

  final case class ChangePoint(index: Int, qhat: Double)

  /** Permutations are SORT-ORDERS, not Fisher-Yates walks: permutation
    * p of a segment is its positions sorted by (keys(p)(j), j). A fixed
    * random order restricted to any subset is still a uniform
    * permutation of that subset, the keys are position-local (computable
    * anywhere, no sequential RNG state), and — the reason for the
    * design — a sort by precomputed keys is expressible in SQL, so the
    * DuckDB oracle replays the exact draw (the r4 verdict's "splitmix
    * move"; Fisher-Yates is inherently sequential and was the one part
    * of this kernel no oracle could replay).
    *
    * So one argsort of all positions per permutation serves every
    * segment the recursion tests: restricted to [lo, hi) it is that
    * segment's order. Equal keys keep position order (the j
    * tie-break), so the order is total even on a key collision.
    */
  private[graft] def argsortKeys(keys: Array[Long]): Array[Int] = {
    val n = keys.length
    val sorted = keys.clone()
    java.util.Arrays.sort(sorted)
    val order = new Array[Int](n)
    // equal keys share one lower bound b; placed(b) of them are placed
    val placed = new Array[Int](n)
    var j = 0
    while (j < n) {
      val first = lowerBound(sorted, keys(j))
      order(first + placed(first)) = j
      placed(first) += 1
      j += 1
    }
    order
  }

  /** Fenwick tree over value ranks carrying (count, sum of values);
    * answers Σ|x_a − p| over the inserted set in O(log n). With
    * ×1e4-integer values every distance sum is an exact Long
    * (order-independent — the property the SQL oracle's list_sum
    * replay rests on; at |q| ≤ ~1e9 and n ≤ ~1e5 nothing approaches
    * 2⁶³).
    */
  private final class L1Fenwick(n: Int) {
    private val cnt = new Array[Long](n + 1)
    private val sum = new Array[Long](n + 1)
    private var totalCnt = 0L
    private var totalSum = 0L
    def insert(rank: Int, v: Long): Unit = {
      var i = rank + 1
      while (i <= n) { cnt(i) += 1; sum(i) += v; i += i & (-i) }
      totalCnt += 1; totalSum += v
    }
    def l1To(rank: Int, p: Long): Long = {
      var cBelow = 0L; var sBelow = 0L
      var i = rank + 1
      while (i > 0) { cBelow += cnt(i); sBelow += sum(i); i -= i & (-i) }
      p * cBelow - sBelow + (totalSum - sBelow) - p * (totalCnt - cBelow)
    }
  }

  /** Lower-bound rank of each x[lo, hi) value among the segment's
    * sorted values: equal values share a rank (they contribute zero
    * distance either way). A permutation of the segment holds the same
    * values, so its ranks are these, reordered.
    */
  private def segmentRanks(x: Array[Long], lo: Int, hi: Int): Array[Int] = {
    val n = hi - lo
    val sortedVals = java.util.Arrays.copyOfRange(x, lo, hi)
    java.util.Arrays.sort(sortedVals)
    Array.tabulate(n)(r => lowerBound(sortedVals, x(lo + r)))
  }

  /** First position of `sorted` holding a value ≥ v. */
  private def lowerBound(sorted: Array[Long], v: Long): Int = {
    var lb = 0; var ub = sorted.length
    while (lb < ub) {
      val mid = (lb + ub) >>> 1
      if (sorted(mid) < v) lb = mid + 1 else ub = mid
    }
    lb
  }

  /** Max Q over all splits of a quantized segment `seg` whose value
    * ranks are `rank` ([[segmentRanks]]), with min segment size;
    * returns (argmax τ relative to the segment, maxQ).
    *
    * For 1-D series with the |·| metric the pairwise-distance sums that
    * feed Q are order statistics: Σ_{a<i}|x_a − x_i| is a rank query on
    * a Fenwick tree of the prefix set. Two O(n log n) passes give the
    * within-left / within-right sums for every τ (cross follows from
    * the total), so the whole split scan is O(n log n) instead of the
    * O(n²) incremental form — this sits inside a permutation test
    * inside a recursion, so it is the engine's hottest loop.
    *
    * The sums are exact Longs; Q is assembled from them by one fixed
    * IEEE sequence (the same expression the oracle writes verbatim),
    * scaled ×1e4 against the 4-dp series — callers divide once at the
    * edge.
    */
  private[graft] def scanQ(seg: Array[Long], rank: Array[Int], minSize: Int): (Int, Double) = {
    val n = seg.length
    val dLeft = new Array[Long](n)
    val fwd = new L1Fenwick(n)
    var i = 0
    while (i < n) {
      dLeft(i) = fwd.l1To(rank(i), seg(i))
      fwd.insert(rank(i), seg(i))
      i += 1
    }
    val dRight = new Array[Long](n)
    val bwd = new L1Fenwick(n)
    i = n - 1
    while (i >= 0) {
      dRight(i) = bwd.l1To(rank(i), seg(i))
      bwd.insert(rank(i), seg(i))
      i -= 1
    }
    val rightAt = new Array[Long](n + 1)
    i = n - 1
    while (i >= 0) { rightAt(i) = rightAt(i + 1) + dRight(i); i -= 1 }
    val total = rightAt(0)
    var left = 0L
    var j = 1
    while (j < minSize) { left += dLeft(j); j += 1 }
    var bestTau = -1; var bestQ = Double.NegativeInfinity
    var t = minSize
    while (t <= n - minSize) {
      val right = rightAt(t)
      val cross = total - left - right
      val m = t.toDouble; val k = (n - t).toDouble
      val t1 = cross.toDouble * (2.0 / (m * k))
      val t2 = if (m > 1) left.toDouble * (2.0 / (m * (m - 1))) else 0.0
      val t3 = if (k > 1) right.toDouble * (2.0 / (k * (k - 1))) else 0.0
      val q = (m * k / (m + k)) * (t1 - t2 - t3)
      if (q > bestQ) { bestQ = q; bestTau = t }
      left += dLeft(t)
      t += 1
    }
    (bestTau, bestQ)
  }

  /** Permutation test on the quantized series: is q0 significant at
    * `pvalue` on x[lo, hi) against the |keys| sort-order permutations?
    * `order(p)` is permutation p's argsort of the whole series and
    * `rank` the segment's value ranks ([[segmentRanks]]), so a
    * permutation costs one pass over the order and one split scan, with
    * no sort. Early exit: the test fails as soon as exceed reaches
    * ⌊pvalue·(permutations+1)⌋ — most segments in the recursion are NOT
    * significant and bail after a couple of permutations. The verdict
    * equals the full count (remaining permutations only add to exceed),
    * which is what the oracle computes.
    */
  private def significantQ(x: Array[Long], lo: Int, hi: Int, q0: Double,
                           pvalue: Double, permutations: Int, order: Int => Array[Int],
                           rank: Array[Int], minSize: Int): Boolean = {
    if (permutations <= 0) return true
    val failAt = math.floor(pvalue * (permutations + 1)).toInt
    val perm = new Array[Long](hi - lo)
    val permRank = new Array[Int](hi - lo)
    var exceed = 0
    var p = 0
    while (p < permutations && exceed < failAt) {
      val o = order(p)
      var i = 0
      var k = 0
      while (k < o.length) {
        val j = o(k)
        if (j >= lo && j < hi) { perm(i) = x(j); permRank(i) = rank(j - lo); i += 1 }
        k += 1
      }
      val (_, q) = scanQ(perm, permRank, minSize)
      if (q >= q0) exceed += 1
      p += 1
    }
    (exceed + 1).toDouble / (permutations + 1) <= pvalue
  }

  /** All change points of the ×1e4-quantized series against
    * precomputed permutation keys (keys(p)(i) = sort key of position i
    * in permutation p — [[argsortKeys]]). qhat is ×1e4-scaled; divide
    * at the edge. Engine-exact and fully oracle-replayable. Each
    * permutation is argsorted once, on its first use.
    */
  def changePointsKeyed(q: Array[Long], keys: Array[Array[Long]],
                        pvalue: Double = 0.05, minSize: Int = 5,
                        maxPoints: Int = 64): Seq[ChangePoint] = {
    val orders = new Array[Array[Int]](keys.length)
    def order(p: Int): Array[Int] = {
      if (orders(p) == null) orders(p) = argsortKeys(keys(p))
      orders(p)
    }
    val found = scala.collection.mutable.ArrayBuffer.empty[ChangePoint]
    def recurse(lo: Int, hi: Int): Unit = {
      if (found.size >= maxPoints || hi - lo < 2 * minSize) return
      val rank = segmentRanks(q, lo, hi)
      val (t, qv) = scanQ(java.util.Arrays.copyOfRange(q, lo, hi), rank, minSize)
      if (t < 0) return
      if (!significantQ(q, lo, hi, qv, pvalue, keys.length, order, rank, minSize)) return
      val tau = lo + t
      found += ChangePoint(tau, qv)
      recurse(lo, tau)
      recurse(tau, hi)
    }
    recurse(0, q.length)
    found.sortBy(_.index).toSeq
  }
}
