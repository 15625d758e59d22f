package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Serve, ShardedServe}

/** The sparse DAAT engine without Spark: searchers built straight from
  * local posting maps. The BM25 sweep is the twin of ServeSpec's IP
  * property sweep — tie-dense corpora where WAND, MaxScore and range must
  * equal naive full scoring over the same half-up contributions — and the
  * hostile-input cases pin the reject contract on both scorers. */
class SparseEngineSpec extends AnyFunSuite {

  /** term -> (ids sorted, values) from (term, id, value) rows. */
  private def byTerm[V: scala.reflect.ClassTag](rows: Seq[(String, Long, V)]) = {
    val m = new java.util.HashMap[String, (Array[Long], Array[V])]()
    rows.groupBy(_._1).foreach { case (t, ps) =>
      val sorted = ps.sortBy(_._2)
      m.put(t, (sorted.map(_._2).toArray, sorted.map(_._3).toArray))
    }
    m
  }

  private def ipSearcher(rows: Seq[(String, Long, Long)]): Serve.LocalSparseSearcher = {
    val pm = byTerm(rows)
    val mt = new java.util.HashMap[String, Long]()
    pm.forEach((t, p) => mt.put(t, p._2.max))
    new Serve.LocalSparseSearcher(new Serve.IpScorer(pm, mt))
  }

  private def bm25Searcher(
      rows: Seq[(String, Long, Double)], idf: String => Double): Serve.LocalSparseSearcher = {
    val pm = byTerm(rows)
    val im = new java.util.HashMap[String, Double]()
    val mm = new java.util.HashMap[String, Double]()
    pm.forEach { (t, p) => im.put(t, idf(t)); mm.put(t, p._2.max) }
    new Serve.LocalSparseSearcher(new Serve.Bm25Scorer(pm, im, mm))
  }

  test("BM25 WAND = MaxScore = naive on randomized tie-dense corpora, range = naive shell") {
    val rnd = new scala.util.Random(20261017L)
    (1 to 20).foreach { trial =>
      // tiny vocabularies, few (tf, dl) pairs: dense score ties, while the
      // BM25 formulas keep idf/tfw off any decimal grid, so raw sums that
      // differ can still render to one 4dp score
      val vocab = 3 + rnd.nextInt(10)
      val nDocs = 5 + rnd.nextInt(60)
      val tfw = (0 until nDocs).flatMap { d =>
        val dl = 3 + rnd.nextInt(6)
        (0 until 1 + rnd.nextInt(5)).map(_ => s"t${rnd.nextInt(vocab)}").distinct.map { t =>
          val tf = 1 + rnd.nextInt(3)
          (t, d.toLong, tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 5.3)))
        }
      }
      val df = tfw.groupBy(_._1).map { case (t, ps) => t -> ps.size }
      val idf = df.map { case (t, n) => t -> math.log(1 + (nDocs - n + 0.5) / (n + 0.5)) }
      val searcher = bm25Searcher(tfw, idf)
      val query = (0 until 1 + rnd.nextInt(4))
        .map(_ => (s"t${rnd.nextInt(vocab)}", 1L + rnd.nextInt(3)))
        .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }.toSeq
      // naive reference: every doc with a query term, scored by the same
      // half-up scaled contributions, rendered at 4dp, (score desc, id asc)
      val naive = tfw.flatMap { case (t, d, w) =>
          query.filter(_._1 == t).map { case (_, qw) =>
            d -> Serve.sparkRound(qw.toDouble * idf(t) * w * 1e9d, 0).toLong
          }
        }
        .groupBy(_._1).toSeq
        .map { case (d, cs) => (d, Serve.sparkRound(cs.map(_._2).sum.toDouble / 1e9d, 4)) }
        .sortBy { case (d, s) => (-s, d) }
      val k = 1 + rnd.nextInt(6)
      val mod = 2 + rnd.nextInt(3)
      val keep = rnd.nextInt(mod)
      val allowed = (id: Long) => id % mod == keep
      val ctx = s"trial $trial (vocab=$vocab docs=$nDocs k=$k)"
      assert(searcher.search(query, k) == naive.take(k), ctx)
      assert(searcher.lastAbandoned == 0, s"$ctx: WAND counted abandons")
      assert(searcher.searchMaxScore(query, k) == naive.take(k), s"maxscore $ctx")
      assert(searcher.lastSkipped == 0, s"$ctx: MaxScore counted skips")
      val naiveF = naive.filter(h => allowed(h._1)).take(k)
      assert(searcher.search(query, k, allowed) == naiveF, s"filtered $ctx")
      assert(searcher.searchMaxScore(query, k, allowed) == naiveF, s"filtered maxscore $ctx")
      // radius ON a rendered score exercises the strict > boundary
      val radius = if (naive.isEmpty) 0.0 else naive(rnd.nextInt(naive.length))._2
      assert(searcher.rangeSearch(query, radius, 1e9) == naive.filter(_._2 > radius),
        s"range $ctx radius=$radius")
    }
    // directed floor case: doc 1 beats doc 0 by one 4dp step (1.0001 vs
    // 1.0) with a raw bound only 1 above its raw sum — a floor above
    // (worst + 0.5e-4)·1e9 would prune it on every verb
    val tight = bm25Searcher(Seq(("t", 0L, 1.0), ("t", 1L, 1.00006)), _ => 1.0)
    assert(tight.search(Seq("t" -> 1L), 1) == Seq((1L, 1.0001)))
    assert(tight.searchMaxScore(Seq("t" -> 1L), 1) == Seq((1L, 1.0001)))
    assert(tight.rangeSearch(Seq("t" -> 1L), 1.0, 1e9) == Seq((1L, 1.0001)))
  }

  test("k < 1 and negative query weights are rejected on both scorers, every verb") {
    // the corpus on which an unchecked negative weight made MaxScore
    // return (0, 4.0) for the exact top-1 (3, 6.0)
    val rows = Seq(
      ("t0", 0L, 2L), ("t2", 1L, 3L), ("t3", 1L, 3L), ("t3", 2L, 1L), ("t0", 3L, 3L),
      ("t3", 3L, 3L), ("t0", 4L, 3L), ("t1", 5L, 3L), ("t2", 5L, 3L), ("t3", 5L, 3L),
      ("t2", 6L, 2L), ("t3", 7L, 3L), ("t2", 8L, 2L), ("t3", 9L, 3L), ("t1", 10L, 3L),
      ("t2", 10L, 1L), ("t3", 10L, 2L))
    val ip = ipSearcher(rows)
    val bm25 = bm25Searcher(rows.map { case (t, d, tf) => (t, d, tf * 0.25) }, _ => 1.5)
    assert(ip.searchMaxScore(Seq("t0" -> 2L), 1) == Seq((3L, 6.0)))
    assert(ip.hasRawData && !bm25.hasRawData)
    assert(ip.getVectorByIds(Seq(4L, 99L)) == Seq(4L -> Seq("t0" -> 3L)))
    intercept[UnsupportedOperationException](bm25.getVectorByIds(Seq(4L)))
    val good = Seq("t0" -> 2L, "t1" -> 1L)
    val negative = Seq("t0" -> 2L, "t1" -> -1L)
    val all: Long => Boolean = _ => true
    for (s <- Seq(ip, bm25); k <- Seq(0, -3)) {
      intercept[IllegalArgumentException](s.search(good, k))
      intercept[IllegalArgumentException](s.search(good, k, all))
      intercept[IllegalArgumentException](s.searchMaxScore(good, k))
      intercept[IllegalArgumentException](s.searchMaxScore(good, k, all))
    }
    for (s <- Seq(ip, bm25)) {
      intercept[IllegalArgumentException](s.search(negative, 1))
      intercept[IllegalArgumentException](s.searchMaxScore(negative, 1))
      intercept[IllegalArgumentException](s.rangeSearch(negative, 0.0, 1e9))
    }
    // the router surfaces the shard's own exception
    val router = new ShardedServe.ShardedSparseServing(Seq(ip, ipSearcher(rows)))
    intercept[IllegalArgumentException](router.search(good, 0))
    intercept[IllegalArgumentException](router.searchMaxScore(negative, 1))
  }
}
