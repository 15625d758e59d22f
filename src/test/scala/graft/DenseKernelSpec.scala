package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Metric, Serve, ShardedServe}
import graft.plans.FastRound

/** The dense and binary serving kernels without Spark: graph, IVF, SQ8,
  * PQ and packed-binary searchers built straight from local maps over
  * seeded tie-dense corpora with NaN/±Inf components, duplicate vectors, distances inside FastRound's
  * boundary band, k ≥ n and filters passing all, 7% or none of the ids.
  * Every scan must equal a naive reference that rounds every candidate
  * and sorts by (distance, id); the bounded graph walk is pinned by
  * checksums of its answers and work counters. */
class DenseKernelSpec extends AnyFunSuite {

  private def f(bits: Int): Float = java.lang.Float.intBitsToFloat(bits)

  /** Grid vectors (exact 4dp ties), with duplicates, NaN and ±Inf
    * components, and axis vectors whose distance to the origin sits on a
    * 4dp half-step (FastRound's boundary band). */
  private def corpus(rnd: Random, n: Int, d: Int): Array[Array[Float]] = {
    val vs = new Array[Array[Float]](n)
    var i = 0
    while (i < n) {
      vs(i) = rnd.nextInt(16) match {
        case 0 if i > 0 => vs(rnd.nextInt(i)).clone()
        case 1 => Array.tabulate(d)(j => if (j == 0) Float.NaN else (rnd.nextInt(9) - 4) * 0.25f)
        case 2 =>
          val inf = if (rnd.nextBoolean()) Float.PositiveInfinity else Float.NegativeInfinity
          Array.tabulate(d)(j => if (j == d - 1) inf else (rnd.nextInt(9) - 4) * 0.25f)
        case 3 => Array.tabulate(d)(j => if (j == 0) ((rnd.nextInt(20) + 0.5) * 1e-4).toFloat else 0f)
        case _ => Array.fill(d)((rnd.nextInt(9) - 4) * 0.25f)
      }
      i += 1
    }
    vs
  }

  private def queries(rnd: Random, d: Int): Seq[Array[Float]] =
    Seq(new Array[Float](d)) ++ Seq.fill(5)(Array.fill(d)((rnd.nextInt(17) - 8) * 0.125f))

  private def naiveDist(metric: Metric, q: Array[Float], v: Array[Float]): Double = {
    var s = 0.0d; var na = 0.0d; var nb = 0.0d
    var i = 0
    while (i < q.length) {
      metric match {
        case Metric.IP | Metric.Cosine =>
          s += q(i).toDouble * v(i).toDouble
          na += q(i).toDouble * q(i).toDouble
          nb += v(i).toDouble * v(i).toDouble
        case _ =>
          val e = q(i).toDouble - v(i).toDouble
          s += e * e
      }
      i += 1
    }
    val raw = metric match {
      case Metric.L2 => math.sqrt(s)
      case Metric.Cosine => s / (math.sqrt(na) * math.sqrt(nb))
      case _ => s
    }
    FastRound.round(raw, 4)
  }

  /** Naive top-k: sort every candidate by (key, id) under Double.compare. */
  private def naiveTopK(
      metric: Metric, q: Array[Float], cands: Seq[(Long, Array[Float])], k: Int): Seq[(Long, Double)] = {
    def key(d: Double) = if (metric.ascending) d else -d
    cands.map { case (id, v) => (id, naiveDist(metric, q, v)) }
      .sortWith { case ((i1, d1), (i2, d2)) =>
        val c = java.lang.Double.compare(key(d1), key(d2))
        c < 0 || (c == 0 && i1 < i2)
      }
      .take(k)
  }

  /** Rows with distances as raw bits, so NaN answers compare equal. */
  private def bits(rows: Seq[(Long, Double)]): Seq[(Long, Long)] =
    rows.map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }

  private def allowedBy(rnd: Random, passRatio: Double): Long => Boolean = {
    val salt = rnd.nextLong()
    if (passRatio >= 1.0) (_: Long) => true
    else if (passRatio <= 0.0) (_: Long) => false
    else (id: Long) => (java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L ^ salt) & 0x7fffffff) % 100 <
      (passRatio * 100).toInt
  }

  /** A seeded IVF shard: `nlist` grid centroids, members on their
    * nearest centroid, lists sorted by id as the loaders keep them. */
  private final class Ivf(
      val ids: Array[Long], val vs: Array[Array[Float]],
      val cents: Array[(Long, Array[Float])],
      val members: Map[Long, Seq[Int]]) {
    def lists: java.util.HashMap[Long, (Array[Long], Array[Array[Float]])] = {
      val m = new java.util.HashMap[Long, (Array[Long], Array[Array[Float]])]()
      members.foreach { case (cid, is) => m.put(cid, (is.map(ids).toArray, is.map(vs).toArray)) }
      m
    }
    def radii: java.util.HashMap[Long, Double] = {
      val m = new java.util.HashMap[Long, Double]()
      // one list left without a radius (a missing radius reads 0)
      members.toSeq.sortBy(_._1).drop(1).foreach { case (cid, is) =>
        val c = cents.find(_._1 == cid).get._2
        m.put(cid, is.map(i => naiveDist(Metric.L2, c, vs(i))).filterNot(_.isNaN).foldLeft(0d)(math.max))
      }
      m
    }
  }

  private def ivfShard(rnd: Random, n: Int, d: Int, nlist: Int): Ivf = {
    val vs = corpus(rnd, n, d)
    val ids = Array.tabulate(n)(i => 3L * i + 7L)
    val cents = Array.tabulate(nlist)(c =>
      (10L * c + 1L, Array.fill(d)((rnd.nextInt(9) - 4) * 0.25f)))
    val members = (0 until n).groupBy { i =>
      cents.minBy(c => { val x = naiveDist(Metric.L2, c._2, vs(i)); if (x.isNaN) Double.MaxValue else x })._1
    }.map { case (cid, is) => cid -> is.sortBy(ids(_)) }
    new Ivf(ids, vs, cents, members)
  }

  /** Probe order of the naive reference: (key of the rounded centroid
    * distance, cluster id). */
  private def naiveProbe(metric: Metric, s: Ivf, q: Array[Float]): Seq[Long] =
    naiveTopK(metric, q, s.cents.toSeq, s.cents.length).map(_._1)

  private val PassRatios = Seq(1.0, 0.07, 0.0) // filtered-out 0, 0.93, 1.0

  test("IVF knn, filtered knn and range scans equal the naive round-every-candidate reference") {
    val rnd = new Random(20261019L)
    (1 to 12).foreach { trial =>
      val d = Seq(3, 4, 8, 17)(trial % 4)
      val n = 20 + rnd.nextInt(400)
      val s = ivfShard(rnd, n, d, 2 + rnd.nextInt(6))
      Seq(Metric.L2, Metric.L2Sq, Metric.IP, Metric.Cosine).foreach { metric =>
        val searcher = new Serve.LocalIvfSearcher(s.cents, s.lists, metric)
        queries(rnd, d).foreach { q =>
          val order = naiveProbe(metric, s, q)
          Seq(1, 3, 10, n + 5).foreach { k =>
            Seq(1, 2, s.cents.length).foreach { nprobe =>
              val probed = order.take(nprobe).flatMap(cid => s.members.getOrElse(cid, Nil))
              val got = searcher.search(q, k, nprobe)
              val want = naiveTopK(metric, q, probed.map(i => (s.ids(i), s.vs(i))), k)
              assert(bits(got) == bits(want), s"trial $trial $metric k=$k nprobe=$nprobe")
              assert(searcher.lastCandidates == probed.size)
              PassRatios.foreach { ratio =>
                val allowed = allowedBy(rnd, ratio)
                val inProbe = probed.filter(i => allowed(s.ids(i)))
                // ensure_topk_full: fewer than k allowed → every list
                val scanned =
                  if (inProbe.size >= k) inProbe
                  else order.flatMap(cid => s.members.getOrElse(cid, Nil)).filter(i => allowed(s.ids(i)))
                val fgot = searcher.search(q, k, nprobe, allowed)
                val fwant = naiveTopK(metric, q, scanned.map(i => (s.ids(i), s.vs(i))), k)
                assert(bits(fgot) == bits(fwant), s"trial $trial $metric k=$k nprobe=$nprobe pass=$ratio")
                assert(searcher.lastCandidates == scanned.size)
              }
            }
          }
        }
      }
      // range: the ball-pruned shell of every list, L2
      val searcher = new Serve.LocalIvfSearcher(s.cents, s.lists, Metric.L2)
      val radii = s.radii
      val eps = math.pow(10d, -4d)
      queries(rnd, d).foreach { q =>
        Seq((0.5, 0.0), (1.25, 0.5), (3.0, 0.0), (-1.0, 0.0), (0.00015, 0.0)).foreach { case (radius, rf) =>
          PassRatios.foreach { ratio =>
            val allowed = allowedBy(rnd, ratio)
            val scanned = s.cents.toSeq.flatMap { case (cid, c) =>
              val dc = naiveDist(Metric.L2, q, c)
              val r = radii.getOrDefault(cid, 0d)
              if (dc - r <= radius + eps && dc + r >= rf - eps) s.members.getOrElse(cid, Nil) else Nil
            }.filter(i => allowed(s.ids(i)))
            val want = scanned.map(i => (s.ids(i), naiveDist(Metric.L2, q, s.vs(i))))
              .filter { case (_, x) => x >= rf && x < radius }
              .sortBy { case (id, x) => (x, id) }
            val got = searcher.rangeSearch(q, radius, rf, radii, allowed)
            assert(bits(got) == bits(want), s"trial $trial range $radius/$rf pass=$ratio")
            assert(searcher.lastCandidates == scanned.size)
          }
        }
      }
    }
  }

  /** An SQ8 shard over the same seeded IVF layout: codes drawn at random,
    * bounds per dimension, raw vectors resident. */
  private def sq8(rnd: Random, s: Ivf): (Serve.LocalIvfSq8Searcher, Map[Long, Array[Byte]], Array[Double], Array[Double]) = {
    val d = s.cents.head._2.length
    val mn = Array.fill(d)(-1.0 - rnd.nextDouble())
    val mx = Array.fill(d)(1.0 + rnd.nextDouble())
    val codes = s.ids.map(id => id -> Array.fill(d)(rnd.nextInt(256).toByte)).toMap
    val lists = new java.util.HashMap[Long, (Array[Long], Array[Array[Byte]])]()
    s.members.foreach { case (cid, is) => lists.put(cid, (is.map(s.ids).toArray, is.map(i => codes(s.ids(i))).toArray)) }
    val raw = new java.util.HashMap[Long, Array[Float]]()
    s.ids.indices.foreach(i => raw.put(s.ids(i), s.vs(i)))
    (new Serve.LocalIvfSq8Searcher(s.cents, lists, mn, mx, new Serve.ResidentRawTier(raw)), codes, mn, mx)
  }

  test("SQ8 coded knn and range scans equal the naive round-every-candidate reference") {
    val rnd = new Random(7177L)
    (1 to 8).foreach { trial =>
      val d = Seq(3, 4, 8, 16)(trial % 4)
      val n = 20 + rnd.nextInt(300)
      val s = ivfShard(rnd, n, d, 2 + rnd.nextInt(5))
      val (searcher, codes, mn, mx) = sq8(rnd, s)
      def adc(q: Array[Float], code: Array[Byte]): Double = {
        var acc = 0.0d
        var i = 0
        while (i < d) {
          val recon = mn(i) + ((code(i) & 0xFF).toDouble + 0.5d) * (mx(i) - mn(i)) / 255.0d
          val e = q(i).toDouble - recon
          acc += e * e
          i += 1
        }
        FastRound.round(math.sqrt(acc), 4)
      }
      def byAdc(q: Array[Float], idx: Seq[Int]): Seq[(Long, Double)] =
        idx.map(i => (s.ids(i), adc(q, codes(s.ids(i)))))
          .sortWith { case ((i1, d1), (i2, d2)) =>
            val c = java.lang.Double.compare(d1, d2)
            c < 0 || (c == 0 && i1 < i2)
          }
      (queries(rnd, d) :+ Array.fill(d)(Float.NaN)).foreach { q =>
        val order = naiveProbe(Metric.L2, s, q)
        Seq(1, 2, s.cents.length).foreach { nprobe =>
          PassRatios.foreach { ratio =>
            val allowed = allowedBy(rnd, ratio)
            val scanned = order.take(nprobe).flatMap(cid => s.members.getOrElse(cid, Nil))
              .filter(i => allowed(s.ids(i)))
            Seq((1, 1), (3, 10), (10, 40), (n + 5, n + 5)).foreach { case (k, reorderK) =>
              val finalists = byAdc(q, scanned).take(reorderK)
              val want = naiveTopK(Metric.L2, q, finalists.map { case (id, _) => (id, s.vs(((id - 7L) / 3L).toInt)) }, k)
              val got = searcher.search(q, k, nprobe, reorderK, allowed)
              assert(bits(got) == bits(want), s"trial $trial nprobe=$nprobe k=$k/$reorderK pass=$ratio")
              assert(searcher.lastCandidates == scanned.size)
              assert(searcher.lastRawFetched == finalists.size)
            }
            Seq((1.5, 0.0), (2.5, 1.0), (-1.0, 0.0)).foreach { case (radius, rf) =>
              val want = byAdc(q, scanned).filter { case (_, x) => x >= rf && x < radius }
                .sortBy { case (id, x) => (x, id) }
              assert(bits(searcher.rangeSearch(q, radius, rf, nprobe, allowed)) == bits(want))
              assert(searcher.lastCandidates == scanned.size)
            }
          }
        }
      }
    }
  }

  test("PQ coded knn, filtered knn and range scans equal the naive round-every-candidate reference") {
    val rnd = new Random(6091L)
    (1 to 8).foreach { trial =>
      val (d, m) = Seq((4, 2), (8, 4), (6, 3), (16, 8))(trial % 4)
      val dsub = d / m
      val ksub = 2 + rnd.nextInt(40)
      val n = 20 + rnd.nextInt(300)
      val s = ivfShard(rnd, n, d, 2 + rnd.nextInt(5))
      val model = graft.operators.ProductQuant.PQModel(m, ksub, dsub,
        Array.fill(m, ksub)(Array.fill(dsub)((rnd.nextInt(17) - 8) * 0.125f)))
      val codes = s.ids.map(id => id -> Array.fill(m)(rnd.nextInt(ksub).toByte)).toMap
      val lists = new java.util.HashMap[Long, (Array[Long], Array[Array[Byte]])]()
      s.members.foreach { case (cid, is) => lists.put(cid, (is.map(s.ids).toArray, is.map(i => codes(s.ids(i))).toArray)) }
      val raw = new java.util.HashMap[Long, Array[Float]]()
      s.ids.indices.foreach(i => raw.put(s.ids(i), s.vs(i)))
      val searcher = new Serve.LocalIvfPqSearcher(s.cents, lists, model, new Serve.ResidentRawTier(raw))
      // per-subspace double folds, subspaces summed left to right
      def adc(q: Array[Float], code: Array[Byte]): Double = {
        var acc = 0.0d
        (0 until m).foreach { sub =>
          val cw = model.codebooks(sub)(code(sub) & 0xFF)
          var part = 0.0d
          (0 until dsub).foreach { j =>
            val e = q(sub * dsub + j).toDouble - cw(j).toDouble
            part += e * e
          }
          acc += part
        }
        FastRound.round(math.sqrt(acc), 4)
      }
      def byAdc(q: Array[Float], idx: Seq[Int]): Seq[(Long, Double)] =
        idx.map(i => (s.ids(i), adc(q, codes(s.ids(i)))))
          .sortWith { case ((i1, d1), (i2, d2)) =>
            val c = java.lang.Double.compare(d1, d2)
            c < 0 || (c == 0 && i1 < i2)
          }
      (queries(rnd, d) :+ Array.fill(d)(Float.NaN)).foreach { q =>
        val order = naiveProbe(Metric.L2, s, q)
        Seq(1, 2, s.cents.length).foreach { nprobe =>
          PassRatios.foreach { ratio =>
            val allowed = allowedBy(rnd, ratio)
            val scanned = order.take(nprobe).flatMap(cid => s.members.getOrElse(cid, Nil))
              .filter(i => allowed(s.ids(i)))
            Seq((1, 1), (3, 10), (10, 40), (n + 5, n + 5)).foreach { case (k, reorderK) =>
              val finalists = byAdc(q, scanned).take(reorderK)
              val want = naiveTopK(Metric.L2, q, finalists.map { case (id, _) => (id, s.vs(((id - 7L) / 3L).toInt)) }, k)
              val got = searcher.search(q, k, nprobe, reorderK, allowed)
              assert(bits(got) == bits(want), s"trial $trial nprobe=$nprobe k=$k/$reorderK pass=$ratio")
              assert(searcher.lastCandidates == scanned.size)
              assert(searcher.lastRawFetched == finalists.size)
            }
            Seq((1.5, 0.0), (2.5, 1.0), (-1.0, 0.0)).foreach { case (radius, rf) =>
              val want = byAdc(q, scanned).filter { case (_, x) => x >= rf && x < radius }
                .sortBy { case (id, x) => (x, id) }
              assert(bits(searcher.rangeSearch(q, radius, rf, nprobe, allowed)) == bits(want))
              assert(searcher.lastCandidates == scanned.size)
              assert(searcher.lastRawFetched == 0L)
            }
          }
        }
      }
    }
  }

  /** Packed signatures with few set bits (dense Hamming ties), all-zero
    * rows (|or| = 0 against the zero query), all-one rows and duplicates. */
  private def signatures(rnd: Random, n: Int, w: Int): Array[Array[Long]] = {
    val vs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      vs(i) = rnd.nextInt(8) match {
        case 0 => new Array[Long](w)
        case 1 => Array.fill(w)(-1L)
        case 2 if i > 0 => vs(rnd.nextInt(i)).clone()
        case _ => Array.fill(w)(rnd.nextLong() & rnd.nextLong() & rnd.nextLong())
      }
      i += 1
    }
    vs
  }

  private def binQueries(rnd: Random, w: Int, corpus: Array[Array[Long]]): Seq[Array[Long]] =
    Seq(new Array[Long](w), Array.fill(w)(-1L), corpus(rnd.nextInt(corpus.length)).clone()) ++
      Seq.fill(3)(Array.fill(w)(rnd.nextLong() & rnd.nextLong()))

  private def naiveBinDist(metric: Metric, q: Array[Long], v: Array[Long]): Double = {
    val inter = q.indices.map(i => java.lang.Long.bitCount(q(i) & v(i)).toLong).sum
    val uni = q.indices.map(i => java.lang.Long.bitCount(q(i) | v(i)).toLong).sum
    if (metric == Metric.Hamming) (uni - inter).toDouble
    else if (uni == 0L) 0.0
    else FastRound.round(1.0 - inter.toDouble / uni.toDouble, 4)
  }

  private def naiveBin(
      metric: Metric, q: Array[Long], cands: Seq[(Long, Array[Long])]): Seq[(Long, Double)] =
    cands.map { case (id, v) => (id, naiveBinDist(metric, q, v)) }
      .sortWith { case ((i1, d1), (i2, d2)) =>
        val c = java.lang.Double.compare(d1, d2)
        c < 0 || (c == 0 && i1 < i2)
      }

  private val BinaryMetrics = Seq(Metric.Hamming, Metric.Jaccard)

  test("flat binary knn, filtered knn, iterator and range scans equal the naive reference") {
    val rnd = new Random(1311L)
    (1 to 6).foreach { trial =>
      val w = Seq(1, 2, 3)(trial % 3)
      val n = 10 + rnd.nextInt(300)
      val ids = Array.tabulate(n)(i => 3L * i + 7L)
      val ws = signatures(rnd, n, w)
      BinaryMetrics.foreach { metric =>
        val searcher = new Serve.LocalBinarySearcher(ids, ws, metric)
        binQueries(rnd, w, ws).foreach { q =>
          PassRatios.foreach { ratio =>
            val allowed = allowedBy(rnd, ratio)
            val cands = ids.indices.filter(i => allowed(ids(i))).map(i => (ids(i), ws(i)))
            val ranked = naiveBin(metric, q, cands)
            Seq(1, 3, 10, n + 5).foreach { k =>
              val got = if (ratio == 1.0) searcher.search(q, k) else searcher.search(q, k, allowed)
              assert(bits(got) == bits(ranked.take(k)), s"trial $trial $metric k=$k pass=$ratio")
              assert(searcher.lastCandidates == cands.size)
            }
            val it = searcher.iterator(q, 12, allowed)
            assert(it.nextPage(5) == ranked.take(5) && it.nextPage(5) == ranked.slice(5, 10))
            assert(it.nextPage(5) == ranked.slice(10, 12) && !it.hasNext)
            val shells =
              if (metric == Metric.Hamming) Seq((5.0, 0.0), (12.0, 3.0), (0.5, 0.0), (-1.0, 0.0))
              else Seq((0.5, 0.0), (0.9, 0.2), (1.01, 0.0), (0.0001, 0.0))
            shells.foreach { case (radius, rf) =>
              val want = ranked.filter { case (_, x) => x >= rf && x < radius }
              assert(bits(searcher.rangeSearch(q, radius, rf, allowed)) == bits(want),
                s"trial $trial $metric range $radius/$rf pass=$ratio")
            }
          }
        }
      }
    }
  }

  test("binary IVF knn, filtered knn and range scans equal the naive reference") {
    val rnd = new Random(2718L)
    (1 to 6).foreach { trial =>
      val w = Seq(1, 2, 3)(trial % 3)
      val n = 20 + rnd.nextInt(300)
      val ids = Array.tabulate(n)(i => 3L * i + 7L)
      val ws = signatures(rnd, n, w)
      // one all-zero centroid among random ones
      val cents = Array.tabulate(2 + rnd.nextInt(6))(c =>
        (10L * c + 1L, if (c == 0) new Array[Long](w) else Array.fill(w)(rnd.nextLong() & rnd.nextLong())))
      BinaryMetrics.foreach { metric =>
        def probe(q: Array[Long]): Seq[Long] = naiveBin(metric, q, cents.toSeq).map(_._1)
        val members = ids.indices.groupBy(i => probe(ws(i)).head)
        val lists = new java.util.HashMap[Long, (Array[Long], Array[Array[Long]])]()
        members.foreach { case (cid, is) => lists.put(cid, (is.map(ids).toArray, is.map(ws).toArray)) }
        val searcher = new Serve.LocalBinaryIvfSearcher(cents, lists, metric)
        binQueries(rnd, w, ws).foreach { q =>
          val order = probe(q)
          Seq(1, 2, cents.length).foreach { nprobe =>
            PassRatios.foreach { ratio =>
              val allowed = allowedBy(rnd, ratio)
              val scanned = order.take(nprobe).flatMap(cid => members.getOrElse(cid, Nil))
                .filter(i => allowed(ids(i)))
              val ranked = naiveBin(metric, q, scanned.map(i => (ids(i), ws(i))))
              Seq(1, 3, 10, n + 5).foreach { k =>
                val got = if (ratio == 1.0) searcher.search(q, k, nprobe) else searcher.search(q, k, nprobe, allowed)
                assert(bits(got) == bits(ranked.take(k)), s"trial $trial $metric k=$k nprobe=$nprobe pass=$ratio")
                assert(searcher.lastCandidates == scanned.size)
              }
              val shells =
                if (metric == Metric.Hamming) Seq((5.0, 0.0), (12.0, 3.0), (0.5, 0.0), (-1.0, 0.0))
                else Seq((0.5, 0.0), (0.9, 0.2), (1.01, 0.0), (0.0001, 0.0))
              shells.foreach { case (radius, rf) =>
                val want = ranked.filter { case (_, x) => x >= rf && x < radius }
                assert(bits(searcher.rangeSearch(q, radius, rf, nprobe, allowed)) == bits(want),
                  s"trial $trial $metric range $radius/$rf nprobe=$nprobe pass=$ratio")
                assert(searcher.lastCandidates == scanned.size)
              }
            }
          }
        }
      }
    }
  }

  /** A seeded graph shard: edges to the 6 nearest nodes plus a ring
    * (so every node is reachable), every 7th node an entry, ids spread
    * so slots and ids differ. */
  private final class Graph(
      val ids: Array[Long], val vs: Array[Array[Float]],
      val adj: Map[Long, Array[Long]], val entries: Array[Long]) {
    def searcher(metric: Metric, packedTier: Boolean = false): Serve.LocalGraphSearcher = {
      val g = new java.util.HashMap[Long, Array[Long]]()
      adj.foreach { case (src, dst) => g.put(src, dst) }
      if (!packedTier) {
        val vm = new java.util.HashMap[Long, Array[Float]]()
        ids.indices.foreach(i => vm.put(ids(i), vs(i)))
        new Serve.LocalGraphSearcher(g, vm, entries, metric)
      } else {
        // a 4-byte-per-component tier with an exact decode closure
        val pm = new java.util.HashMap[Long, Array[Byte]]()
        ids.indices.foreach { i =>
          val b = java.nio.ByteBuffer.allocate(vs(i).length * 4)
          vs(i).foreach(b.putFloat)
          pm.put(ids(i), b.array())
        }
        new Serve.LocalGraphSearcher(g, null, entries, metric, packed = pm, packedDecode = { b =>
          val fb = java.nio.ByteBuffer.wrap(b).asFloatBuffer()
          val out = new Array[Float](fb.remaining())
          fb.get(out)
          out
        })
      }
    }
  }

  private def graph(rnd: Random, n: Int, d: Int): Graph = {
    val vs = corpus(rnd, n, d)
    val ids = Array.tabulate(n)(i => 5L * i + 3L)
    val adj = (0 until n).map { i =>
      val near = (0 until n).filter(_ != i)
        .sortBy(j => { val x = naiveDist(Metric.L2, vs(i), vs(j)); (if (x.isNaN) Double.MaxValue else x, j) })
        .take(6)
      ids(i) -> (near :+ ((i + 1) % n) :+ ((i + n - 1) % n)).distinct.map(ids).sorted.toArray
    }.toMap
    new Graph(ids, vs, adj, ids.indices.filter(_ % 7 == 0).map(ids).toArray)
  }

  private val GraphMetrics = Seq(Metric.L2, Metric.L2Sq, Metric.IP, Metric.Cosine)

  test("graph walk at ef >= n equals exhaustive truth, filtered and not, float and packed tiers") {
    val rnd = new Random(4242L)
    (1 to 4).foreach { trial =>
      val d = Seq(3, 8, 5, 16)(trial - 1)
      val n = 60 + rnd.nextInt(80)
      val g = graph(rnd, n, d)
      GraphMetrics.foreach { metric =>
        val searchers = Seq(g.searcher(metric), g.searcher(metric, packedTier = true),
          g.searcher(metric).enableCoarseEntries(2))
        queries(rnd, d).foreach { q =>
          PassRatios.foreach { ratio =>
            val allowed = allowedBy(rnd, ratio)
            val cands = g.ids.indices.filter(i => allowed(g.ids(i))).map(i => (g.ids(i), g.vs(i)))
            Seq(1, 10, n + 5).foreach { k =>
              val want = bits(naiveTopK(metric, q, cands, k))
              searchers.foreach { s =>
                assert(bits(s.search(q, k, n + 5, allowed)) == want, s"trial $trial $metric k=$k pass=$ratio")
              }
              if (ratio == 1.0) assert(bits(searchers.head.search(q, k, n + 5)) == want)
              assert(bits(searchers.head.bruteSearch(q, k, allowed)) == want)
            }
          }
        }
      }
    }
  }

  /** Checksums of the bounded-ef walks (answers as raw bits, ndis, nhops)
    * recorded from the boxed PriorityQueue/HashSet walk these kernels
    * replaced, per metric. */
  private val PinnedWalks: Map[String, Int] = Map(
    "l2" -> 825625919, "l2sq" -> 532432841, "ip" -> 24019516, "cosine" -> -1116123527)

  test("bounded-ef graph walks reproduce pinned answers and work counters") {
    val rnd = new Random(90210L)
    // the d = 33 shard folds long odd-length vectors (the bench corpus is d = 64)
    val shards = (1 to 4).map(t => graph(rnd, 150 + 40 * t, Seq(4, 8, 12, 33)(t - 1)))
    val qs = shards.map(g => queries(rnd, g.vs.head.length) ++ queries(rnd, g.vs.head.length))
    val sums = GraphMetrics.map { metric =>
      val trace = shards.zip(qs).flatMap { case (g, gq) =>
        val flat = g.searcher(metric)
        val packedTier = g.searcher(metric, packedTier = true)
        val coarse = g.searcher(metric).enableCoarseEntries(2)
        val allowed = allowedBy(new Random(g.ids.length.toLong), 0.3)
        gq.flatMap { q =>
          Seq((1, 4), (5, 8), (10, 16), (10, 32)).flatMap { case (k, ef) =>
            Seq(flat, coarse).flatMap { s =>
              val a = s.search(q, k, ef)
              val st1 = s.lastStats
              val b = s.search(q, k, ef, allowed)
              val st2 = s.lastStats
              val r = s.rangeSearch(q, 1.0, 0.0, ef)
              Seq(bits(a), Seq((st1.ndis, st1.nhops)), bits(b), Seq((st2.ndis, st2.nhops)), bits(r))
            } ++ {
              // the packed tier walks exactly as the float tier
              assert(bits(packedTier.search(q, k, ef)) == bits(flat.search(q, k, ef)))
              assert(packedTier.lastStats == flat.lastStats)
              Nil
            }
          }
        }
      }
      metric.name -> scala.util.hashing.MurmurHash3.seqHash(trace)
    }.toMap
    assert(sums == PinnedWalks, s"walk checksums $sums")
  }

  test("one searcher shared by 4 threads answers as it does single-threaded") {
    val rnd = new Random(31337L)
    val g = graph(rnd, 200, 8)
    val walk = g.searcher(Metric.L2).enableCoarseEntries(2)
    val s = ivfShard(rnd, 600, 8, 6)
    val ivf = new Serve.LocalIvfSearcher(s.cents, s.lists, Metric.L2)
    val radii = s.radii
    val (coded, _, _, _) = sq8(rnd, s)
    val allowed = allowedBy(rnd, 0.07)
    val qs = (1 to 8).flatMap(_ => queries(rnd, 8))
    def answers(q: Array[Float]): Seq[Seq[(Long, Long)]] = Seq(
      bits(walk.search(q, 10, 24)), bits(walk.search(q, 5, 16, allowed)),
      bits(ivf.search(q, 10, 2)), bits(ivf.search(q, 10, 2, allowed)),
      bits(ivf.rangeSearch(q, 1.5, 0.0, radii)), bits(coded.search(q, 10, 2, 30)))
    val single = qs.map(answers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = (0 until 5).forall { rep =>
            val order = new Random(t * 100L + rep).shuffle(qs.indices.toVector)
            order.forall(i => answers(qs(i)) == single(i))
          }
        })
      }
      futures.zipWithIndex.foreach { case (fu, t) => assert(fu.get(), s"thread $t diverged") }
    } finally pool.shutdown()
  }

  test("the raw-sum gate keeps a member that ties the heap's worst distance on a lower id") {
    // zero query; member 10 at distance 0.1011 fills the k = 1 heap, and
    // member 5's raw sum sits one ulp above (0.1011 + 0.00005)² while its
    // sqrt, 0.10114999999999999, still rounds HALF_UP to 0.1011 — a tie
    // the lower id wins. A gate without its margin drops member 5.
    val w = Array(f(0x3dcf0d84), 0f, 0f, 0f)
    val tie = Array(f(0x3dcf27bb), f(0x378ce876), f(0x318f1b8b), 0f)
    val far = Array(0.5f, 0.5f, 0.5f, 0.5f)
    val q = new Array[Float](4)
    assert(naiveDist(Metric.L2, q, w) == 0.1011 && naiveDist(Metric.L2, q, tie) == 0.1011)
    // as the second of two members (one at a time) and as the fourth of
    // a full four-member lane batch
    Seq((Array(10L, 5L), Array(w, tie)), (Array(10L, 11L, 12L, 5L), Array(w, far, far, tie))).foreach {
      case (ids, vs) =>
        val lists = new java.util.HashMap[Long, (Array[Long], Array[Array[Float]])]()
        lists.put(1L, (ids, vs))
        val s = new Serve.LocalIvfSearcher(Array((1L, new Array[Float](4))), lists, Metric.L2)
        assert(s.search(q, 1, 1) == Seq((5L, 0.1011)), s"members ${ids.toSeq}")
        assert(s.search(q, 1, 1, (_: Long) => true) == Seq((5L, 0.1011)))
    }
  }

  test("dense float arms reject k < 1 and a query of the wrong dimension") {
    val rnd = new Random(5L)
    val g = graph(rnd, 40, 4)
    val walk = g.searcher(Metric.L2)
    val s = ivfShard(rnd, 80, 4, 3)
    val ivf = new Serve.LocalIvfSearcher(s.cents, s.lists, Metric.L2)
    val (coded, _, _, _) = sq8(rnd, s)
    val router = new ShardedServe.ShardedIvfServing(
      Seq(ivf, new Serve.LocalIvfSearcher(s.cents, s.lists, Metric.L2)), Metric.L2)
    val graphRouter = new ShardedServe.ShardedGraphServing(Seq(walk, g.searcher(Metric.L2)), Metric.L2)
    val codedRouter = new ShardedServe.ShardedIvfCodedServing(Seq(coded))
    // the binary arms and their router keep the same reject contract
    val bids = Array.tabulate(30)(i => 2L * i + 1L)
    val bws = signatures(rnd, 30, 2)
    val bin = new Serve.LocalBinarySearcher(bids, bws, Metric.Hamming)
    val binLists = new java.util.HashMap[Long, (Array[Long], Array[Array[Long]])]()
    binLists.put(1L, (bids.take(15), bws.take(15)))
    binLists.put(2L, (bids.drop(15), bws.drop(15)))
    val binCents = Array((1L, bws(0)), (2L, bws(20)))
    val binIvf = new Serve.LocalBinaryIvfSearcher(binCents, binLists, Metric.Jaccard)
    val binRouter = new ShardedServe.ShardedBinaryServing(
      Seq(bin, new Serve.LocalBinarySearcher(bids.map(_ + 100L), bws, Metric.Hamming)))
    val emptyBin = new Serve.LocalBinarySearcher(Array.emptyLongArray, Array.empty[Array[Long]], Metric.Hamming)
    val bq = bws(3)
    val q = Array(0.25f, 0f, 0f, 0f)
    val all = (_: Long) => true
    def rejects(msg: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    Seq(0, -3).foreach { k =>
      val m = s"got $k"
      rejects(m)(bin.search(bq, k)); rejects(m)(bin.search(bq, k, all)); rejects(m)(bin.iterator(bq, k))
      rejects(m)(binIvf.search(bq, k, 1)); rejects(m)(binIvf.search(bq, k, 2, all))
      rejects(m)(binRouter.search(bq, k)); rejects(m)(binRouter.search(bq, k, all))
      rejects(m)(binRouter.iterator(bq, k)); rejects(m)(binRouter.iterator(bq, k, all))
      rejects(m)(walk.search(q, k, 10)); rejects(m)(walk.search(q, k, 10, all))
      rejects(m)(walk.bruteSearch(q, k)); rejects(m)(walk.rangeSearch(q, 1.0, 0.0, k))
      rejects(m)(ivf.search(q, k, 2)); rejects(m)(ivf.search(q, k, 2, all))
      rejects(m)(coded.search(q, k, 2, 10))
      rejects(m)(router.search(q, k, 2)); rejects(m)(graphRouter.search(q, k, 10))
      rejects(m)(codedRouter.search(q, k, 2, 10))
    }
    Seq(Array(0.25f, 0f, 0f), Array(0.25f, 0f, 0f, 0f, 0f)).foreach { bad =>
      val m = s"query dimension ${bad.length} does not match the shard dimension 4"
      rejects(m)(walk.search(bad, 5, 10)); rejects(m)(walk.search(bad, 5, 10, all))
      rejects(m)(walk.bruteSearch(bad, 5)); rejects(m)(walk.bruteRangeSearch(bad, 1.0, 0.0))
      rejects(m)(walk.rangeSearch(bad, 1.0, 0.0, 10))
      rejects(m)(ivf.search(bad, 5, 2)); rejects(m)(ivf.search(bad, 5, 2, all))
      rejects(m)(ivf.rangeSearch(bad, 1.0, 0.0, s.radii))
      rejects(m)(coded.search(bad, 5, 2, 10)); rejects(m)(coded.rangeSearch(bad, 1.0, 0.0, 2))
      rejects(m)(router.search(bad, 5, 2)); rejects(m)(router.rangeSearch(bad, 1.0, 0.0, Seq(s.radii, s.radii)))
      rejects(m)(graphRouter.search(bad, 5, 10)); rejects(m)(codedRouter.search(bad, 5, 2, 10))
    }
    // a signature's word count is checked once per query, against the
    // shard's, also when no candidate is scanned
    Seq(Array(1L), Array(1L, 2L, 3L)).foreach { bad =>
      val m = s"query ${bad.length} words vs shard 2"
      rejects(m)(bin.search(bad, 5)); rejects(m)(bin.search(bad, 5, (_: Long) => false))
      rejects(m)(bin.iterator(bad, 5)); rejects(m)(bin.rangeSearch(bad, 9.0, 0.0))
      rejects(m)(binIvf.search(bad, 5, 2)); rejects(m)(binIvf.rangeSearch(bad, 0.5, 0.0, 2))
      rejects(m)(binRouter.search(bad, 5)); rejects(m)(binRouter.rangeSearch(bad, 9.0, 0.0))
    }
    rejects("query 1 words vs shard 0")(emptyBin.search(Array(1L), 5))
    // a shard of mixed word counts is rejected when it is built
    val mixed = "binary shard signatures of mixed word count: 3 and 2"
    rejects(mixed)(new Serve.LocalBinarySearcher(Array(1L, 2L), Array(Array(1L, 2L), Array(1L, 2L, 3L)), Metric.Hamming))
    rejects(mixed)(new Serve.LocalBinaryIvfSearcher(Array((1L, Array(0L, 0L))), {
      val l = new java.util.HashMap[Long, (Array[Long], Array[Array[Long]])]()
      l.put(1L, (Array(1L), Array(Array(1L, 2L, 3L))))
      l
    }, Metric.Hamming))
  }
}
