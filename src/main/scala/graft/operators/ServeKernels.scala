package graft.operators

/** Primitive kernels under the dense serving searchers of [[Serve]]: the
  * shared distance folds, the bounded (key, id) heaps, the per-thread
  * visited table of the graph walk, and the raw-sum gate that rejects a
  * list member before its `sqrt` and 4dp round.
  *
  * Everything here reproduces the boxed code it replaced bit for bit: the
  * folds keep the `i = 0..d−1` order, the heaps order by `Double.compare`
  * on the key and then by id (the `Ordering.Double.TotalOrdering` tuple
  * order: NaN last, −0.0 before +0.0), and the gate only drops members
  * the exact path would reject (see [[l2Gate]]).
  */
private[operators] object ServeKernels {

  /** Σ (q_i − v_i)² in double, i = 0..d−1. */
  def l2Sum(q: Array[Float], v: Array[Float]): Double = {
    var s = 0.0d
    var i = 0
    while (i < q.length) {
      val d = q(i).toDouble - v(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** [[l2Sum]] of four vectors in lockstep into `out(0..3)`: each lane
    * keeps the `i = 0..d−1` order, so every sum is bit-identical to
    * [[l2Sum]]'s, while the four independent chains overlap the add
    * latency a single fold waits on. */
  def l2Sum4(
      q: Array[Float], v0: Array[Float], v1: Array[Float], v2: Array[Float], v3: Array[Float],
      out: Array[Double]): Unit = {
    var s0, s1, s2, s3 = 0.0d
    var i = 0
    while (i < q.length) {
      val x = q(i).toDouble
      val d0 = x - v0(i).toDouble
      val d1 = x - v1(i).toDouble
      val d2 = x - v2(i).toDouble
      val d3 = x - v3(i).toDouble
      s0 += d0 * d0
      s1 += d1 * d1
      s2 += d2 * d2
      s3 += d3 * d3
      i += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
  }

  /** The metric's distance of `q` to `v` under the 4dp contract: an L2
    * family fold (`sqrt` for L2, none for L2Sq), or inner product /
    * cosine similarity, then [[Serve.sparkRound]]. */
  def dist(metric: Metric, roundDist: Int, q: Array[Float], v: Array[Float]): Double =
    metric match {
      case Metric.IP | Metric.Cosine =>
        var s = 0.0d
        var na = 0.0d; var nb = 0.0d
        var i = 0
        while (i < q.length) {
          s += q(i).toDouble * v(i).toDouble
          na += q(i).toDouble * q(i).toDouble
          nb += v(i).toDouble * v(i).toDouble
          i += 1
        }
        if (metric == Metric.Cosine) s = s / (math.sqrt(na) * math.sqrt(nb))
        Serve.sparkRound(s, roundDist)
      case _ => finishL2(metric, roundDist, l2Sum(q, v))
    }

  /** Rounded distance of an L2-family raw sum. */
  @inline def finishL2(metric: Metric, roundDist: Int, s: Double): Double =
    Serve.sparkRound(if (metric == Metric.L2) math.sqrt(s) else s, roundDist)

  /** Metrics whose distance is a monotone function of a raw L2 sum, so
    * the [[l2Gate]] applies. */
  def gated(metric: Metric): Boolean = metric == Metric.L2 || metric == Metric.L2Sq

  /** Bounds above which no gate is formed: past `unit·2^40` the 4dp grid
    * is no longer at least 2^12 ulps wide. */
  private val GateSpan = 1099511627776.0d // 2^40
  private val GateRel = 9.094947017729282e-13 // 2^-40

  /** Raw-sum gate for a rounded bound `b`: a raw L2 sum `s > l2Gate(b)`
    * provably rounds (after `sqrt` for L2) to a distance `r ≥ b`, and to
    * `r > b` when `b` is itself a rounded distance.
    *
    * Proof. Let u = 10^−roundDist, T = b + u/2 + m with the margin
    * m = (|b| + u)·2^−40, and the gate G = T² (L2) or T (L2Sq). Each of
    * the double operations forming G, and the correctly rounded `sqrt`
    * of a sum s > G (monotone, so fl(√s) ≥ fl(√G)), loses at most
    * 2^−53 of a value below 2(|b| + u), so x = fl(√s) (or s) is at least
    * T − (|b| + u)·2^−49. The decimal x̃ that HALF_UP rounding reads (the
    * shortest repr, within ulp(x)/2 ≤ x·2^−53 of x) is then
    * ≥ b + u/2 + m − (|b| + u)·2^−48 > b + u/2 + (|b| + u)·2^−41. HALF_UP
    * gives m' ≥ x̃/u − 1/2, so m'·u > b + (|b| + u)·2^−41, and the
    * rounded double r — the double nearest m'·u — is ≥ b. When b is a
    * rounded distance D(mb), |b − mb·u| ≤ ulp(b)/2, so x̃ ≥ (mb + 1/2)·u,
    * m' ≥ mb + 1, and r = D(m') > D(mb) = b because |b| < u·2^40 keeps
    * ulp(b) far below u. FastRound's fast path returns the same r as the
    * exact path (its own band argument), so the gate holds for both.
    *
    * NaN, ±Inf and bounds at or past `u·2^40` give +∞ (no gate), and a
    * NaN sum never passes `s > G`: both take the exact path. A bound so
    * low that T ≤ 0 admits no sum (−1 for L2, where r ≥ 0 > b). */
  def l2Gate(b: Double, unit: Double, metric: Metric): Double =
    if (!(math.abs(b) < unit * GateSpan)) Double.PositiveInfinity
    else {
      val t = b + 0.5d * unit + (math.abs(b) + unit) * GateRel
      if (metric == Metric.L2Sq) t
      else if (t <= 0.0d) -1.0d
      else t * t
    }

  /** (k1, i1) strictly before (k2, i2) in the serving order:
    * `Double.compare` on the key, then the id. */
  @inline def before(k1: Double, i1: Long, k2: Double, i2: Long): Boolean =
    k1 < k2 || (!(k1 > k2) && {
      val c = java.lang.Double.compare(k1, k2)
      c < 0 || (c == 0 && i1 < i2)
    })

  /** Bounded top-`cap` of (key, id) pairs: a max-heap on primitive
    * arrays with the worst member at the root (faiss `heap.h`'s shape). */
  final class BoundedHeap(val cap: Int) {
    private val keys = new Array[Double](cap)
    private val ids = new Array[Long](cap)
    private var n = 0

    def full: Boolean = n == cap
    def clear(): Unit = n = 0
    def worstKey: Double = keys(0)
    def worstId: Long = ids(0)

    /** Admit (key, id) when the heap has room or the pair precedes the
      * worst member, which it then replaces. */
    def offer(key: Double, id: Long): Boolean =
      if (n < cap) {
        var i = n
        n += 1
        var moving = true
        while (moving && i > 0) {
          val p = (i - 1) >>> 1
          if (before(keys(p), ids(p), key, id)) {
            keys(i) = keys(p); ids(i) = ids(p); i = p
          } else moving = false
        }
        keys(i) = key; ids(i) = id
        true
      } else if (before(key, id, keys(0), ids(0))) {
        siftDown(key, id)
        true
      } else false

    /** Place (key, id) at the root and sift it down over `n` members. */
    private def siftDown(key: Double, id: Long): Unit = {
      var i = 0
      var moving = true
      while (moving) {
        val l = 2 * i + 1
        if (l >= n) moving = false
        else {
          val c = if (l + 1 < n && before(keys(l), ids(l), keys(l + 1), ids(l + 1))) l + 1 else l
          if (before(key, id, keys(c), ids(c))) {
            keys(i) = keys(c); ids(i) = ids(c); i = c
          } else moving = false
        }
      }
      keys(i) = key; ids(i) = id
    }

    /** Empty the heap into (keys, ids) sorted best first. */
    def drain(): (Array[Double], Array[Long]) = {
      val ks = new Array[Double](n)
      val is = new Array[Long](n)
      while (n > 0) {
        n -= 1
        ks(n) = keys(0); is(n) = ids(0)
        if (n > 0) siftDown(keys(n), ids(n))
      }
      (ks, is)
    }

    /** Drain as ranked `(id, distance)` rows, best first; `ascending`
      * false undoes the similarity negation of the key. */
    def ranked(ascending: Boolean): Seq[(Long, Double)] = {
      val (ks, is) = drain()
      Array.tabulate(ks.length)(j => (is(j), if (ascending) ks(j) else -ks(j))).toSeq
    }
  }

  /** Unbounded min-heap of (key, slot) pairs — the graph walk's
    * candidate queue, best first. */
  final class MinQueue {
    private var keys = new Array[Double](64)
    private var slots = new Array[Int](64)
    private var n = 0

    def nonEmpty: Boolean = n > 0
    def clear(): Unit = n = 0
    def topKey: Double = keys(0)
    def topSlot: Int = slots(0)

    def push(key: Double, slot: Int): Unit = {
      if (n == keys.length) {
        keys = java.util.Arrays.copyOf(keys, n * 2)
        slots = java.util.Arrays.copyOf(slots, n * 2)
      }
      var i = n
      n += 1
      var moving = true
      while (moving && i > 0) {
        val p = (i - 1) >>> 1
        if (before(key, slot, keys(p), slots(p))) {
          keys(i) = keys(p); slots(i) = slots(p); i = p
        } else moving = false
      }
      keys(i) = key; slots(i) = slot
    }

    /** Remove the best pair. */
    def pop(): Unit = {
      n -= 1
      if (n > 0) {
        val key = keys(n)
        val slot = slots(n)
        var i = 0
        var moving = true
        while (moving) {
          val l = 2 * i + 1
          if (l >= n) moving = false
          else {
            val c = if (l + 1 < n && before(keys(l + 1), slots(l + 1), keys(l), slots(l))) l + 1 else l
            if (before(keys(c), slots(c), key, slot)) {
              keys(i) = keys(c); slots(i) = slots(c); i = c
            } else moving = false
          }
        }
        keys(i) = key; slots(i) = slot
      }
    }
  }

  /** Per-thread scratch of one graph searcher, reused across queries
    * (hnswlib `VisitedListPool`, faiss `VisitedTable`): a slot is visited
    * in the current query when its stamp equals the query's generation,
    * so starting a query costs one increment, not a clear. The entry
    * memo of the coarse layer uses the same generation. */
  final class WalkScratch(slots: Int, entries: Int) {
    private val stamp = new Array[Int](slots)
    private val entryStamp = new Array[Int](entries)
    /** Memoized entry distances, valid where the entry is stamped. */
    val entryDist = new Array[Double](entries)
    /** Entry indices evaluated in the current query, `evaluated` of them. */
    val evalOrder = new Array[Int](entries)
    var evaluated = 0
    private var gen = 0

    /** Start a query: nothing is visited or evaluated. */
    def reset(): Unit = {
      gen += 1
      if (gen == 0) {
        java.util.Arrays.fill(stamp, 0)
        java.util.Arrays.fill(entryStamp, 0)
        gen = 1
      }
      evaluated = 0
    }

    /** Mark a slot visited; false when it already was. */
    def visit(slot: Int): Boolean =
      if (stamp(slot) == gen) false else { stamp(slot) = gen; true }

    /** Whether a slot is visited in the current query. */
    def seen(slot: Int): Boolean = stamp(slot) == gen

    def entryKnown(idx: Int): Boolean = entryStamp(idx) == gen

    def remember(idx: Int, d: Double): Unit = {
      entryStamp(idx) = gen
      entryDist(idx) = d
      evalOrder(evaluated) = idx
      evaluated += 1
    }
  }

  /** Where a list scan sends the members it cannot rule out. */
  abstract class ScanSink {
    /** Raw L2 sum above which a member cannot be accepted; +∞ for none. */
    var gate: Double = Double.PositiveInfinity
    /** Take a member with its rounded distance. */
    def accept(id: Long, d: Double): Unit
  }

  /** Top-k sink over rounded distances; gated once full when `metric`
    * is an L2 family metric. */
  final class TopKSink(k: Int, metric: Metric, unit: Double) extends ScanSink {
    val heap = new BoundedHeap(k)
    private val ascending = metric.ascending
    private val gates = gated(metric)
    def accept(id: Long, d: Double): Unit =
      if (heap.offer(if (ascending) d else -d, id) && gates && heap.full)
        gate = l2Gate(heap.worstKey, unit, metric)
  }

  /** Range sink of an ascending metric: members in the
    * [rangeFilter, radius) shell, gated by the radius when `metric` is an
    * L2 family metric. */
  final class ShellSink(radius: Double, rangeFilter: Double, metric: Metric, unit: Double)
      extends ScanSink {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    if (gated(metric)) gate = l2Gate(radius, unit, metric)
    def accept(id: Long, d: Double): Unit =
      if (d >= rangeFilter && d < radius) out += ((id, d))
  }

  /** Loud query checks shared by the dense searchers. */
  def requireK(k: Int): Unit =
    require(k >= 1, s"k must be >= 1, got $k")

  def requireDim(q: Array[Float], dim: Int): Unit =
    require(q.length == dim, s"query dimension ${q.length} does not match the shard dimension $dim")
}
