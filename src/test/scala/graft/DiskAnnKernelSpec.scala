package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ProductQuant, Serve, ShardedServe}
import graft.plans.FastRound

/** The DiskANN serving searcher without Spark: shards built straight from
  * seeded random graphs (out-degree 4–8, some nodes without out-edges,
  * 2–3 entries), an explicit grid PQ codebook (so ADC ties are common),
  * random codes and a resident raw tier — one tie-dense grid shard, one
  * with NaN/±Inf raw components, duplicates and ids missing from the raw
  * tier. The fixed-hop `search`, the convergent `searchBeam` and
  * `rangeSearch` are pinned by checksums of their answers and work
  * counters. */
class DiskAnnKernelSpec extends AnyFunSuite {

  private def f(bits: Int): Float = java.lang.Float.intBitsToFloat(bits)

  /** Rows with distances as raw bits, so NaN answers compare equal. */
  private def bits(rows: Seq[(Long, Double)]): Seq[(Long, Long)] =
    rows.map { case (id, d) => (id, java.lang.Double.doubleToRawLongBits(d)) }

  private def allowedBy(salt: Long, percent: Int): Long => Boolean =
    (id: Long) => (java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L ^ salt) & 0x7fffffff) % 100 < percent

  /** A seeded shard: ids spread so slots and ids differ, grid codebooks,
    * random codes, sorted adjacency. `wild` adds NaN/±Inf raw components,
    * duplicate vectors, 4dp half-step distances and raw-tier gaps. */
  private final class Shard(
      val ids: Array[Long], val raw: Map[Long, Array[Float]],
      val adj: Map[Long, Array[Long]], val entries: Array[Long],
      val model: ProductQuant.PQModel, val codes: Map[Long, Array[Byte]]) {
    val dim: Int = model.m * model.dsub
    def searcher(l: Int, beamIters: Int, roundDist: Option[Int], cache: Int): Serve.LocalDiskAnnSearcher = {
      val g = new java.util.HashMap[Long, Array[Long]]()
      adj.foreach { case (src, dst) => g.put(src, dst) }
      val c = new java.util.HashMap[Long, Array[Byte]]()
      codes.foreach { case (id, code) => c.put(id, code) }
      val r = new java.util.HashMap[Long, Array[Float]]()
      raw.foreach { case (id, v) => r.put(id, v) }
      val s = new Serve.LocalDiskAnnSearcher(g, c, entries, model, new Serve.ResidentRawTier(r),
        l, beamIters, roundDist)
      if (cache > 0) s.enableWarmCache(cache) else s
    }
  }

  private def shard(rnd: Random, n: Int, m: Int, dsub: Int, ksub: Int, wild: Boolean): Shard = {
    val d = m * dsub
    val ids = Array.tabulate(n)(i => 4L * i + 1L)
    def grid(): Array[Float] = Array.fill(d)((rnd.nextInt(5) - 2) * 0.5f)
    val vs = new Array[Array[Float]](n)
    (0 until n).foreach { i =>
      vs(i) = if (!wild) grid() else rnd.nextInt(12) match {
        case 0 if i > 0 => vs(rnd.nextInt(i)).clone()
        case 1 => Array.tabulate(d)(j => if (j == 0) Float.NaN else (rnd.nextInt(5) - 2) * 0.5f)
        case 2 =>
          val inf = if (rnd.nextBoolean()) Float.PositiveInfinity else Float.NegativeInfinity
          Array.tabulate(d)(j => if (j == d - 1) inf else (rnd.nextInt(5) - 2) * 0.5f)
        case 3 => Array.tabulate(d)(j => if (j == 0) ((rnd.nextInt(20) + 0.5) * 1e-4).toFloat else 0f)
        case _ => grid()
      }
    }
    val raw = ids.indices.filter(i => !wild || i % 13 != 5).map(i => ids(i) -> vs(i)).toMap
    val codebooks = Array.fill(m)(Array.fill(ksub)(Array.fill(dsub)((rnd.nextInt(5) - 2) * 0.5f)))
    val codes = ids.map(id => id -> Array.fill(m)(rnd.nextInt(ksub).toByte)).toMap
    val adj = ids.indices.filter(_ => rnd.nextInt(10) != 0).map { i =>
      val deg = 4 + rnd.nextInt(5)
      ids(i) -> rnd.shuffle((0 until n).filter(_ != i).toVector).take(deg).map(ids).sorted.toArray
    }.toMap
    val entries = rnd.shuffle(ids.toVector).take(2 + rnd.nextInt(2)).sorted.toArray
    new Shard(ids, raw, adj, entries, ProductQuant.PQModel(m, ksub, dsub, codebooks), codes)
  }

  private def queries(rnd: Random, d: Int, wild: Boolean): Seq[Array[Float]] =
    Seq(new Array[Float](d)) ++ Seq.fill(5)(Array.fill(d)((rnd.nextInt(9) - 4) * 0.25f)) ++
      (if (wild) Seq(Array.tabulate(d)(j => if (j == 1) Float.NaN else 0.5f)) else Nil)

  /** (shard, beamIters) per pinned fixture: two tie-dense grid shards and
    * two wild ones, at dims 4, 6, 8 and 12. */
  private def fixtures(): Seq[(String, Shard, Int)] = {
    val rnd = new Random(20261019L)
    Seq(
      ("grid", shard(rnd, 90, 2, 2, 4, wild = false), 2),
      ("grid-wide", shard(rnd, 160, 4, 2, 16, wild = false), 3),
      ("wild", shard(rnd, 120, 2, 3, 8, wild = true), 2),
      ("wild-deep", shard(rnd, 70, 4, 3, 8, wild = true), 4))
  }

  /** Checksums of the answers (raw bits) and work counters, recorded from
    * the boxed HashMap/LinkedHashSet searcher the flat kernel replaced. */
  private val PinnedSearch: Map[String, Int] = Map(
    "grid" -> -541054766, "grid-wide" -> 725438925, "wild" -> 2061785977, "wild-deep" -> 583978453)
  private val PinnedBeam: Map[String, Int] = Map(
    "grid" -> -195248546, "grid-wide" -> 2036987710, "wild" -> -343812340, "wild-deep" -> -1054687427)

  test("fixed-hop search reproduces pinned answers and work counters") {
    val sums = fixtures().map { case (name, s, iters) =>
      val rnd = new Random(s.ids.length.toLong)
      val qs = queries(rnd, s.dim, name.startsWith("wild"))
      val allowed = allowedBy(rnd.nextLong(), 30)
      val n = s.ids.length
      val trace = for {
        rd <- Seq(None, Some(4))
        cache <- Seq(0, n / 5)
        (k, l) <- Seq((1, 1), (10, 10), (5, 16), (10, 16), (10, n + 3))
      } yield {
        val sr = s.searcher(l, iters, rd, cache)
        qs.flatMap { q =>
          Seq(null, allowed).flatMap { a =>
            val got = if (a == null) sr.search(q, k) else sr.search(q, k, a)
            Seq(bits(got), Seq((sr.lastNdis, sr.lastVisited), (sr.lastRawFetched, sr.lastCacheHits)))
          }
        }
      }
      name -> scala.util.hashing.MurmurHash3.seqHash(trace)
    }.toMap
    assert(sums == PinnedSearch, s"search checksums $sums")
  }

  test("convergent searchBeam and rangeSearch reproduce pinned answers and work counters") {
    val sums = fixtures().map { case (name, s, iters) =>
      val rnd = new Random(s.ids.length.toLong + 1L)
      val qs = queries(rnd, s.dim, name.startsWith("wild"))
      val allowed = allowedBy(rnd.nextLong(), 30)
      val n = s.ids.length
      val trace = for {
        rd <- Seq(None, Some(4))
        cache <- Seq(0, n / 5)
        (k, l) <- Seq((1, 1), (10, 10), (5, 16), (10, n + 3))
      } yield {
        val sr = s.searcher(l, iters, rd, cache)
        def counters = Seq((sr.lastNdis, sr.lastVisited), (sr.lastRawFetched, sr.lastCacheHits),
          (sr.lastExpanded, sr.lastHops))
        qs.flatMap { q =>
          Seq(1, 4, 8).flatMap { bw =>
            val a = sr.searchBeam(q, k, bw)
            val ca = counters
            val b = sr.searchBeam(q, k, bw, allowed)
            val cb = counters
            Seq(bits(a), ca, bits(b), cb)
          } ++ Seq((1.5, 0.0, null), (2.25, 0.5, allowed)).flatMap { case (radius, rf, al) =>
            Seq(bits(sr.rangeSearch(q, radius, rf, 4, al)), counters)
          }
        }
      }
      name -> scala.util.hashing.MurmurHash3.seqHash(trace)
    }.toMap
    assert(sums == PinnedBeam, s"beam checksums $sums")
  }

  test("the beam's rescoring gate keeps a later tie on a lower id") {
    // entry 10 sits at exact distance 0.1011 from the zero query; its one
    // neighbor 5 has a raw sum one ulp above (0.1011 + 0.00005)² whose
    // sqrt still rounds HALF_UP to 0.1011. The beam expands 10 first, so
    // 5 meets a full k = 1 heap and wins the tie on its lower id — a gate
    // without its margin drops it.
    val w = Array(f(0x3dcf0d84), 0f, 0f, 0f)
    val tie = Array(f(0x3dcf27bb), f(0x378ce876), f(0x318f1b8b), 0f)
    val model = ProductQuant.PQModel(1, 2, 4, Array(Array(w, Array(1f, 1f, 1f, 1f))))
    val g = new java.util.HashMap[Long, Array[Long]]()
    g.put(10L, Array(5L))
    val codes = new java.util.HashMap[Long, Array[Byte]]()
    codes.put(10L, Array(0.toByte)); codes.put(5L, Array(1.toByte))
    val raw = new java.util.HashMap[Long, Array[Float]]()
    raw.put(10L, w); raw.put(5L, tie)
    val s = new Serve.LocalDiskAnnSearcher(g, codes, Array(10L), model,
      new Serve.ResidentRawTier(raw), 2, 1)
    val q = new Array[Float](4)
    assert(FastRound.round(math.sqrt(tie.map(x => x.toDouble * x).sum), 4) == 0.1011)
    assert(s.searchBeam(q, 1, beamWidth = 1) == Seq((5L, 0.1011)))
    assert(s.lastExpanded == 2L && s.lastHops == 2L)
    assert(s.search(q, 1) == Seq((5L, 0.1011)))
  }

  test("one warm-cached searcher and a 2-shard router shared by 4 threads answer as single-threaded") {
    val (_, a, iters) = fixtures()(2)
    val rnd = new Random(31337L)
    val s = a.searcher(16, iters, Some(4), a.ids.length / 5)
    val d = a.dim
    // a second shard of the same dimension and codebook: a's graph over
    // shifted ids, so the router merges two disjoint id ranges
    val shifted = new Shard(a.ids.map(_ + 100000L), a.raw.map { case (id, v) => (id + 100000L, v) },
      a.adj.map { case (src, dst) => (src + 100000L, dst.map(_ + 100000L)) },
      a.entries.map(_ + 100000L), a.model, a.codes.map { case (id, c) => (id + 100000L, c) })
    val router = new ShardedServe.ShardedDiskAnnServing(
      Seq(a.searcher(16, iters, Some(4), 20), shifted.searcher(16, iters, Some(4), 0)))
    val allowed = allowedBy(rnd.nextLong(), 30)
    val qs = (1 to 4).flatMap(_ => queries(rnd, d, wild = true))
    def answers(q: Array[Float]): Seq[Seq[(Long, Long)]] = Seq(
      bits(s.search(q, 10)), bits(s.search(q, 5, allowed)), bits(s.searchBeam(q, 10, 4)),
      bits(s.searchBeam(q, 10, 1, allowed)), bits(s.rangeSearch(q, 1.5, 0.0, 4)),
      bits(router.search(q, 10)), bits(router.search(q, 10, allowed)))
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

  test("DiskANN verbs reject k < 1 and a query of the wrong dimension; builds reject uncoded ids") {
    val (_, a, iters) = fixtures().head
    val s = a.searcher(16, iters, Some(4), 10)
    val router = new ShardedServe.ShardedDiskAnnServing(Seq(s, a.searcher(16, iters, None, 0)))
    val d = a.dim
    val q = Array.fill(d)(0.5f)
    def rejects(msg: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    Seq(0, -3).foreach { k =>
      val m = s"got $k"
      rejects(m)(s.search(q, k)); rejects(m)(s.search(q, k, (_: Long) => true))
      rejects(m)(s.searchBeam(q, k)); rejects(m)(router.search(q, k))
      rejects(m)(router.search(q, k, (_: Long) => true))
    }
    Seq(Array.fill(d - 1)(0.5f), Array.fill(d + 1)(0.5f)).foreach { bad =>
      val m = s"query dimension ${bad.length} does not match the shard dimension $d"
      rejects(m)(s.search(bad, 5)); rejects(m)(s.search(bad, 5, (_: Long) => true))
      rejects(m)(s.searchBeam(bad, 5)); rejects(m)(s.rangeSearch(bad, 1.0, 0.0))
      rejects(m)(router.search(bad, 5)); rejects(m)(router.iterator(bad, 5))
    }
    // L < k stays loud, and the verbs still answer after every rejection
    rejects("search_list_size 16 must be >= k 17")(s.search(q, 17))
    assert(s.search(q, 5).length == 5)
    def build(edit: (java.util.HashMap[Long, Array[Long]], java.util.HashMap[Long, Array[Byte]]) => Unit,
        entries: Array[Long] = a.entries): Serve.LocalDiskAnnSearcher = {
      val g = new java.util.HashMap[Long, Array[Long]]()
      a.adj.foreach { case (src, dst) => g.put(src, dst) }
      val c = new java.util.HashMap[Long, Array[Byte]]()
      a.codes.foreach { case (id, code) => c.put(id, code) }
      edit(g, c)
      new Serve.LocalDiskAnnSearcher(g, c, entries, a.model, new Serve.ResidentRawTier(
        new java.util.HashMap[Long, Array[Float]]()), 16, iters)
    }
    val src = a.adj.keys.min
    rejects(s"graph edge $src → 2 has no PQ code")(build((g, _) => g.put(src, g.get(src) :+ 2L)))
    rejects("graph node 2 has no PQ code")(build((g, _) => g.put(2L, Array(src))))
    rejects("entry point 3 has no PQ code")(build((_, _) => (), a.entries :+ 3L))
    rejects(s"PQ code of id $src has 3 bytes")(build((_, c) => c.put(src, Array[Byte](0, 0, 0))))
    rejects(s"PQ code of id $src names codeword 9 of 4")(build((_, c) => c.put(src, Array[Byte](9, 0))))
  }
}
