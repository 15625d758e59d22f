package graft

import org.apache.spark.sql.functions._

import graft.operators.{BruteForce, GraphSearch, Metric, Serve}
import graft.sources.Tables

/** Gates for the per-query sequential serving adapter (Serve): the
  * ef-driven best-first walk of the reference's HnswSearcher, driver-local
  * over a loaded shard. Latency itself is nondeterministic — the gates pin
  * SEMANTICS: exact agreement where the graph makes the walk exhaustive,
  * recall floors on the sparse graph, and the early-exit stats. */
class ServeSpec extends SparkSpec {

  private lazy val base = Tables
    .embeddings(spark, sf0001)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val queries = Tables
    .embeddings(spark, sf0001)
    .filter(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def knnGraph(k: Int) = BruteForce
    .knnFused(
      Tables.embeddings(spark, sf0001)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      base, k, Metric.L2, roundDist = Some(4), excludeSelf = true)
    .select(col("qid").as("src"), col("nid").as("dst"))

  private lazy val entries = Tables
    .embeddings(spark, sf0001)
    .filter(col("vec_id") % 250 === 0)
    .select(col("vec_id").as("nid"))

  private def exactTopK(k: Int): Map[Long, Seq[Long]] = BruteForce
    .knn(queries, base, k, Metric.L2, roundDist = Some(4))
    .select("qid", "nid", "rnk").collect()
    .groupBy(_.getLong(0))
    .map { case (q, rows) => q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }

  private def queryVecs: Seq[(Long, Array[Float])] = queries.collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  test("exhaustive walk on a well-connected graph equals brute force exactly") {
    // degree-16 graph on 500 nodes with ef = n: the beam visits every
    // reachable node, so the top-k must EQUAL the exact answer (the
    // determinism contract: 4dp round before compare, ties by id)
    val searcher = Serve.load(knnGraph(16), base, entries, Metric.L2)
    val exact = exactTopK(10)
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, k = 10, ef = 500).map(_._1)
      assert(got == exact(qid), s"query $qid: $got != ${exact(qid)}")
    }
  }

  test("bruteSearch fallback equals exact brute force, filtered and not") {
    // the conditional-wrapper fallback (IndexConditionalWrapper.cc:34-95):
    // exact by construction over the resident tier, so it must EQUAL the
    // batch answer under the same 4dp/(dist,id) contract
    val searcher = Serve.load(knnGraph(8), base, entries, Metric.L2)
    val exact = exactTopK(10)
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.bruteSearch(qv, 10).map(_._1)
      assert(got == exact(qid), s"query $qid: $got != ${exact(qid)}")
    }
    val exactF = BruteForce
      .knn(queries, base.filter(col("id") % 3 === 0), 10, Metric.L2, roundDist = Some(4))
      .select("qid", "nid", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.bruteSearch(qv, 10, id => id % 3 == 0).map(_._1)
      assert(got == exactF(qid), s"query $qid filtered: $got != ${exactF(qid)}")
    }
  }

  test("ef-bounded walk keeps the recall floor and exits early") {
    val searcher = Serve.load(knnGraph(8), base, entries, Metric.L2)
    val exact = exactTopK(10)
    val n = base.count()
    var hits = 0; var total = 0
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, k = 10, ef = 32).map(_._1).toSet
      hits += got.intersect(exact(qid).toSet).size
      total += 10
      // ef early exit: the walk must not have scored the whole base
      assert(searcher.lastStats.ndis < n,
        s"query $qid scored ${searcher.lastStats.ndis} of $n — no early exit")
      assert(searcher.lastStats.nhops > 0)
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.6, s"serving recall@10 $recall below the ANN floor")
  }

  test("wider ef does not lose recall (the reference's ef knob semantics)") {
    val searcher = Serve.load(knnGraph(8), base, entries, Metric.L2)
    val exact = exactTopK(10)
    def recallAt(ef: Int): Double = {
      var hits = 0
      queryVecs.foreach { case (qid, qv) =>
        hits += searcher.search(qv, 10, ef).map(_._1).toSet.intersect(exact(qid).toSet).size
      }
      hits.toDouble / (queryVecs.size * 10)
    }
    assert(recallAt(64) >= recallAt(10))
  }

  test("refined serving: raw-tier rescoring, identity when tiers coincide, SERVE telemetry") {
    import graft.operators.{Quantization, Telemetry}
    val g = knnGraph(8)
    // identity: approx == raw ⇒ refined == plain (same contract end to end)
    val plain = Serve.load(g, base, entries, Metric.L2)
    val same = Serve.loadRefined(g, base, base, entries, Metric.L2)
    Telemetry.reset()
    queryVecs.take(3).foreach { case (_, qv) =>
      val a = plain.search(qv, 10, 32)
      val b = same.search(qv, 10, 32, refine = 1)
      assert(a == b)
    }
    // quantized traversal tier + raw refine (the HNSW_SQ serving shape):
    // refined answers must clear the same ANN floor as the batch twin
    val stats = Quantization.sq8Train(base)
    val approx = base
      .crossJoin(broadcast(stats))
      .select(col("id"),
        Quantization.sq8Recon(
          Quantization.sq8Code(col("vec"), col("mn"), col("mx")),
          col("mn"), col("mx")).as("vec"))
    val refined = Serve.loadRefined(
      g, approx.select(col("id"), col("vec").cast("array<float>").as("vec")),
      base, entries, Metric.L2)
    val exact = exactTopK(10)
    var hits = 0
    queryVecs.foreach { case (qid, qv) =>
      hits += refined.search(qv, 10, ef = 32).map(_._1).toSet
        .intersect(exact(qid).toSet).size
    }
    assert(hits.toDouble / (queryVecs.size * 10) >= 0.6)
    // per-query latency landed in the Telemetry registry (TimeRecorder analog)
    val verbs = Telemetry.summary(spark).select("verb").collect().map(_.getString(0)).toSet
    assert(verbs.contains("search") && verbs.contains("search_refined"), verbs.toString)
  }

  test("index handles expose the serving adapter over their own shard") {
    import graft.operators.{HnswIndex, HnswVariant}
    val h = new HnswIndex(knnGraph(8), base, entries, Metric.L2,
      efSearch = 32, beamIters = 4, HnswVariant.Exact)
    val s = h.serving()
    val (_, qv) = queryVecs.head
    val got = s.search(qv, 10, 32)
    assert(got.size == 10)
    assert(got == got.sortBy { case (id, d) => (d, id) }, "results not (dist, id)-ordered")
  }

  test("serving iterator pages equal the batch AnnIterator pages") {
    import graft.operators.IvfIndex
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val searcher = Serve.loadIvf(IvfIndex.build(base, cents, Some(4)), cents, Metric.L2)
    val nlist = cents.count().toInt
    // batch iterator pages 1-2 (the exact stream, 5 per page)
    // the batch iterator streams raw distances; compare under the serving
    // side's 4dp contract
    def r4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    def batchPage(p: Int) = BruteForce
      .annIteratorPage(queries, base, Metric.L2, page = p, pageSize = 5)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r4(r.getDouble(2)))).sortBy(t => (t._2, t._1)).toSeq
      }
    val (p1, p2) = (batchPage(1), batchPage(2))
    queryVecs.foreach { case (qid, qv) =>
      // full-probe ranked stream = the exact stream the batch pages
      val it = new Serve.ServingIterator(searcher.search(qv, k = 15, nprobe = nlist))
      assert(it.nextPage(5) == p1(qid), s"page 1 mismatch for $qid")
      assert(it.nextPage(5) == p2(qid), s"page 2 mismatch for $qid")
      it.reset()
      assert(it.nextPage(5) == p1(qid), "reset did not rewind")
    }
  }

  test("IVF serving equals the batch probed search bit-for-bit") {
    import graft.operators.IvfIndex
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val index = IvfIndex.build(base, cents, Some(4))
    val batch = IvfIndex
      .search(queries, index, cents, 10, nprobe = 2, Metric.L2, Some(4))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    val searcher = Serve.loadIvf(index, cents, Metric.L2)
    val total = base.count()
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, nprobe = 2)
      assert(got == batch(qid), s"query $qid:\n  serve $got\n  batch ${batch(qid)}")
      // partial probing scans a strict subset of the base (2 lists here)
      searcher.search(qv, 10, nprobe = 1)
      assert(searcher.lastCandidates < total)
    }
  }

  // shared fixture for the quantized IVF serving tests: explicit-centroid
  // IVF index + the batch-side result collector
  private def ivfFixture = {
    import graft.operators.IvfIndex
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    (cents, IvfIndex.build(base, cents, Some(4)))
  }

  private def collectKnn(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }

  test("IVF_SQ8 serving (codes resident, paged raw) equals the batch searchSq8 bit-for-bit") {
    import graft.operators.{IvfIndex, Quantization}
    val (cents, index) = ivfFixture
    val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
    val batch = collectKnn(IvfIndex.searchSq8(
      queries, index, cents, 10, nprobe = 2, reorderK = 30, Some(4), Some(st)))
    val searcher = Serve.loadIvfSq8(index, cents, Some(st))
    // tier semantics: codes-only residency, raw REACHABLE (V8 true — the
    // SCANN-style raw-rerank contract this repo's SQ8 registers), paged
    assert(searcher.hasRawData && !searcher.rawResident)
    val dim = base.head().getSeq[Float](1).length
    val n = base.count()
    // resident bytes: 1 byte/dim codes vs 4 bytes/dim fp32 — the coded
    // tier must hold well under half the fp32 list bytes
    assert(searcher.residentCodeBytes * 2 < n * (8L + 4L * dim),
      s"coded tier ${searcher.residentCodeBytes} B not small vs fp32 ${n * (8L + 4L * dim)} B")
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, nprobe = 2, reorderK = 30)
      assert(got == batch(qid), s"query $qid:\n  serve $got\n  batch ${batch(qid)}")
      // the raw tier is touched for ≤ reorderK finalists only
      assert(searcher.lastRawFetched <= 30)
    }
    // V7 via the paged tier: exact raw vectors, request order
    val want = queryVecs.take(2).map(_._1)
    val exactVecs = base.filter(col("id").isInCollection(want)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    searcher.getVectorByIds(want).foreach { case (id, v) =>
      assert(v.sameElements(exactVecs(id)), s"V7 decode mismatch for $id")
    }
  }

  test("IVF_SQ8 serving with resident raw (SCANN with_raw_data shape) matches too") {
    import graft.operators.{IvfIndex, Quantization}
    val (cents, index) = ivfFixture
    val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
    val batch = collectKnn(IvfIndex.searchSq8(
      queries, index, cents, 10, nprobe = 2, reorderK = 30, Some(4), Some(st)))
    val searcher = Serve.loadIvfSq8(index, cents, Some(st), rawResident = true)
    assert(searcher.hasRawData && searcher.rawResident)
    queryVecs.foreach { case (qid, qv) =>
      assert(searcher.search(qv, 10, nprobe = 2, reorderK = 30) == batch(qid))
    }
  }

  test("IVF_SQ8 filtered serving equals the batch over the pre-filtered index (same quantizer)") {
    import graft.operators.{IvfIndex, Quantization}
    val (cents, index) = ivfFixture
    // the quantizer is the FULL index's trained model on both sides — a
    // filter must never retrain bounds (the Train-once contract)
    val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
    val allowed: Long => Boolean = id => id % 3 != 0
    val batch = collectKnn(IvfIndex.searchSq8(
      queries, index.filter(col("id") % 3 =!= 0), cents, 10,
      nprobe = 2, reorderK = 30, Some(4), Some(st)))
    val searcher = Serve.loadIvfSq8(index, cents, Some(st))
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, nprobe = 2, reorderK = 30, allowed)
      assert(got == batch(qid), s"query $qid:\n  serve $got\n  batch ${batch(qid)}")
      assert(got.forall { case (id, _) => allowed(id) })
    }
  }

  test("IVF_PQ serving equals the batch searchPq bit-for-bit") {
    import graft.operators.{IvfIndex, ProductQuant}
    val (cents, index) = ivfFixture
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val batch = collectKnn(IvfIndex.searchPq(
      queries, index, cents, model, 10, nprobe = 2, reorderK = 50, Some(4)))
    val searcher = Serve.loadIvfPq(index, cents, model)
    assert(searcher.hasRawData && !searcher.rawResident)
    val dim = base.head().getSeq[Float](1).length
    val n = base.count()
    // m=8 code bytes per vector vs 4·dim fp32 bytes — far under a quarter
    assert(searcher.residentCodeBytes * 4 < n * (8L + 4L * dim),
      s"PQ coded tier ${searcher.residentCodeBytes} B not small vs fp32")
    val total = base.count()
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, nprobe = 2, reorderK = 50)
      assert(got == batch(qid), s"query $qid:\n  serve $got\n  batch ${batch(qid)}")
      searcher.search(qv, 10, nprobe = 1, reorderK = 50)
      assert(searcher.lastCandidates < total) // probed subset, not a scan
    }
  }

  test("binary serving equals the batch BIN_FLAT search (hamming + jaccard, filtered, sharded, range, V7)") {
    import graft.functions.VectorFunctions.signBits
    import graft.operators.ShardedServe
    val bbin = base.select(col("id"), signBits(col("vec")).as("vec"))
    val qbin = queries.select(col("qid"), signBits(col("qvec")).as("qvec"))
    val qv = qbin.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val total = bbin.count()
    Seq(Metric.Hamming -> None, Metric.Jaccard -> Some(4)).foreach { case (metric, round) =>
      val batch = collectKnn(BruteForce.knn(qbin, bbin, 10, metric, roundDist = round))
      val s = Serve.loadBinary(bbin, metric)
      assert(s.hasRawData)
      // packed residency: 32 bin1 dims per long (signBits layout) — far
      // under the fp32 bytes
      val dim = base.head().getSeq[Float](1).length
      assert(s.residentBytes < total * (8L + 4L * dim) / 4,
        s"packed binary tier ${s.residentBytes} B not small vs fp32")
      qv.foreach { case (qid, q) =>
        val got = s.search(q, 10)
        assert(got == batch(qid), s"${metric.name} query $qid:\n  serve $got\n  batch ${batch(qid)}")
      }
      // universal bitset: equality vs the batch over the pre-filtered base
      val allowed: Long => Boolean = id => id % 2 == 0
      val batchF = collectKnn(
        BruteForce.knn(qbin, bbin.filter(col("id") % 2 === 0), 10, metric, roundDist = round))
      qv.foreach { case (qid, q) =>
        val got = s.search(q, 10, allowed)
        assert(got == batchF(qid), s"${metric.name} filtered query $qid mismatch")
        assert(s.lastCandidates < total) // the filter scales the scan cost
      }
      // sharded router: 4 doc shards merge to the single-index answer
      val router = new ShardedServe.ShardedBinaryServing(
        (0 until 4).map(sh => Serve.loadBinary(
          bbin.filter(pmod(col("id"), lit(4L)) === sh.toLong), metric)))
      qv.foreach { case (qid, q) =>
        assert(router.search(q, 10) == batch(qid), s"${metric.name} sharded query $qid mismatch")
      }
    }
    // V5 shell (hamming): serving range == batch range, single and sharded
    val s = Serve.loadBinary(bbin, Metric.Hamming)
    val router = new ShardedServe.ShardedBinaryServing(
      (0 until 4).map(sh => Serve.loadBinary(
        bbin.filter(pmod(col("id"), lit(4L)) === sh.toLong), Metric.Hamming)))
    val batchR = BruteForce
      .rangeSearch(qbin, bbin, Metric.Hamming, radius = 30.0, rangeFilter = 20.0)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    qv.foreach { case (qid, q) =>
      val got = s.rangeSearch(q, radius = 30.0, rangeFilter = 20.0)
      assert(got == batchR.getOrElse(qid, Seq.empty), s"range query $qid mismatch")
      assert(router.rangeSearch(q, 30.0, 20.0) == got, s"sharded range $qid mismatch")
    }
    // V7: the packed signature is the index's raw data
    val want = qv.take(2).map(_._1)
    val exactSig = bbin.filter(col("id").isInCollection(want)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    s.getVectorByIds(want).foreach { case (id, w) =>
      assert(w.sameElements(exactSig(id)), s"V7 signature mismatch for $id")
    }
  }

  test("binary serving iterator pages equal the batch binary AnnIterator pages (filtered + sharded)") {
    import graft.functions.VectorFunctions.signBits
    import graft.operators.ShardedServe
    val bbin = base.select(col("id"), signBits(col("vec")).as("vec"))
    val qbin = queries.select(col("qid"), signBits(col("qvec")).as("qvec"))
    val qv = qbin.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def batchPage(p: Int, filter: Option[org.apache.spark.sql.Column]) = BruteForce
      .annIteratorPage(qbin, bbin, Metric.Hamming, page = p, pageSize = 5,
        baseFilter = filter)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    val (p1, p2) = (batchPage(1, None), batchPage(2, None))
    val s = Serve.loadBinary(bbin, Metric.Hamming)
    val router = new ShardedServe.ShardedBinaryServing(
      (0 until 4).map(sh => Serve.loadBinary(
        bbin.filter(pmod(col("id"), lit(4L)) === sh.toLong), Metric.Hamming)))
    qv.foreach { case (qid, q) =>
      val it = s.iterator(q, n = 15)
      assert(it.nextPage(5) == p1(qid), s"page 1 mismatch for $qid")
      assert(it.nextPage(5) == p2(qid), s"page 2 mismatch for $qid")
      it.reset()
      assert(it.nextPage(5) == p1(qid), "reset did not rewind")
      // sharded stream: exact per-shard scans merge page-for-page
      val rit = router.iterator(q, n = 15)
      assert(rit.nextPage(5) == p1(qid), s"sharded page 1 for $qid")
      assert(rit.nextPage(5) == p2(qid), s"sharded page 2 for $qid")
    }
    // filtered stream vs the batch iterator over the pre-filtered base
    val allowed: Long => Boolean = id => id % 2 == 0
    val fCol = Some(col("id") % 2 === 0)
    val (f1, f2) = (batchPage(1, fCol), batchPage(2, fCol))
    qv.foreach { case (qid, q) =>
      val it = s.iterator(q, n = 15, allowed)
      assert(it.nextPage(5) == f1(qid), s"filtered page 1 for $qid")
      assert(it.nextPage(5) == f2(qid), s"filtered page 2 for $qid")
      val rit = router.iterator(q, n = 15, allowed)
      assert(rit.nextPage(5) == f1(qid), s"sharded filtered page 1 for $qid")
    }
  }

  test("sharded quantized-IVF router: per-segment rerank merges exactly at full rerank, never worse at partial") {
    import graft.operators.{Quantization, ShardedServe}
    val (cents, index) = ivfFixture
    val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
    val shards = (0 until 4).map(sh => Serve.loadIvfSq8(
      index.filter(pmod(col("id"), lit(4L)) === sh.toLong), cents, Some(st)))
    val router = new ShardedServe.ShardedIvfCodedServing(shards)
    val single = Serve.loadIvfSq8(index, cents, Some(st))
    queryVecs.foreach { case (qid, qv) =>
      // reorderK covering every probed doc: per-shard pools union to the
      // single index's pool, so the merged exact top-k is EQUAL
      val full = router.search(qv, 10, nprobe = 2, reorderK = 1000)
      assert(full == single.search(qv, 10, 2, 1000), s"full-rerank mismatch $qid")
      // partial rerank: the reference's per-segment reorder contract —
      // merged == mergeTopK of per-shard answers, and the union pool is
      // a SUPERSET of the single pool so no rank gets worse
      val merged = router.search(qv, 10, 2, 30)
      assert(merged == ShardedServe.mergeTopK(
        shards.map(_.search(qv, 10, 2, 30)), 10, ascending = true),
        s"router != mergeTopK for $qid")
      val sres = single.search(qv, 10, 2, 30)
      merged.zip(sres).foreach { case ((_, dm), (_, ds)) =>
        assert(dm <= ds + 1e-12, s"rank got worse under sharding for $qid: $dm > $ds")
      }
    }
    // a shard coded under a DIFFERENT trained quantizer is rejected loudly
    val stOther = Quantization.sq8Train(
      index.filter(col("id") % 2 === 0).select(col("id"), col("vec")))
    intercept[IllegalArgumentException] {
      new ShardedServe.ShardedIvfCodedServing(Seq(
        shards.head,
        Serve.loadIvfSq8(index.filter(pmod(col("id"), lit(4L)) === 1L),
          cents, Some(stOther))))
    }
  }

  test("quantized IVF serving range equals the batch range over the reconstructed-code frame") {
    import graft.operators.{IvfIndex, Quantization}
    val (cents, index) = ivfFixture
    val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
    // the coded tier's exact geometry: the reconstructed-code frame (the
    // decode the serving scan computes inline)
    val recon = index.crossJoin(broadcast(st)).select(
      col("id"),
      Quantization.sq8Recon(
        Quantization.sq8Code(col("vec"), col("mn"), col("mx")),
        col("mn"), col("mx")).as("vec"),
      col("cluster_id"))
    val batch = IvfIndex
      .rangeSearch(queries, recon, cents, nprobe = 2, Metric.L2,
        radius = 1.2, rangeFilter = 0.5, Some(4))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    val s = Serve.loadIvfSq8(index, cents, Some(st))
    var any = 0
    queryVecs.foreach { case (qid, qv) =>
      val got = s.rangeSearch(qv, radius = 1.2, rangeFilter = 0.5, nprobe = 2)
      assert(got == batch.getOrElse(qid, Seq.empty),
        s"coded range mismatch for $qid:\n  serve $got\n  batch ${batch.get(qid)}")
      any += got.size
    }
    assert(any > 0, "degenerate fixture: no range hits at all")
  }

  test("binary IVF serving equals the batch probed search (knn + range + filtered)") {
    import graft.functions.VectorFunctions.signBits
    import graft.operators.IvfIndex
    val bbin = base.select(col("id"), signBits(col("vec")).as("vec"))
    val qbin = queries.select(col("qid"), signBits(col("qvec")).as("qvec"))
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("cluster_id"), signBits(col("embedding")).as("centroid"))
    val index = IvfIndex.build(bbin, cents, None, Metric.Hamming)
    val qv = qbin.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val s = Serve.loadBinaryIvf(index, cents, Metric.Hamming)
    val total = bbin.count()
    val batch = collectKnn(IvfIndex.search(qbin, index, cents, 10, nprobe = 1, Metric.Hamming))
    qv.foreach { case (qid, q) =>
      val got = s.search(q, 10, nprobe = 1)
      assert(got == batch(qid), s"bin IVF knn $qid:\n  serve $got\n  batch ${batch(qid)}")
      assert(s.lastCandidates < total) // probed subset, not a scan
    }
    // V5: the batch bin_ivf_range_hamming shell
    val batchR = IvfIndex
      .rangeSearch(qbin, index, cents, nprobe = 1, Metric.Hamming,
        radius = 26.0, rangeFilter = 1.0)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    qv.foreach { case (qid, q) =>
      assert(s.rangeSearch(q, 26.0, 1.0, nprobe = 1) == batchR.getOrElse(qid, Seq.empty),
        s"bin IVF range $qid mismatch")
    }
    // bitset: equality vs the batch over the pre-filtered index
    val batchF = collectKnn(IvfIndex.search(
      qbin, index.filter(col("id") % 2 === 0), cents, 10, nprobe = 1, Metric.Hamming))
    qv.foreach { case (qid, q) =>
      assert(s.search(q, 10, 1, id => id % 2 == 0) == batchF(qid),
        s"bin IVF filtered $qid mismatch")
    }
  }

  test("randomized sweep: quantized IVF serving equals the batch across seeded corpora") {
    import graft.operators.{IvfIndex, ProductQuant, Quantization}
    val sess = spark
    import sess.implicits._
    for (dim <- Seq(8, 32, 64)) {
      val n = 400
      val rnd = new scala.util.Random(dim * 31L + 7)
      val bdf = (0 until n).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))).toDF("id", "vec")
      val cents = bdf.filter(col("id") % 50 === 0)
        .select(col("id").as("cluster_id"), col("vec").as("centroid"))
      val index = IvfIndex.build(bdf, cents, Some(4))
      val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
      val qdf = (0 until 5).map(i =>
        ((1000 + i).toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))).toDF("qid", "qvec")
      val qv = qdf.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val batchS = collectKnn(IvfIndex.searchSq8(
        qdf, index, cents, 5, nprobe = 3, reorderK = 20, Some(4), Some(st)))
      val s8 = Serve.loadIvfSq8(index, cents, Some(st))
      qv.foreach { case (qid, v) =>
        assert(s8.search(v, 5, nprobe = 3, reorderK = 20) == batchS(qid),
          s"sq8 sweep dim=$dim query $qid")
      }
      // PQ arm (dim divisible by m=4, explicit codebook from the corpus)
      val model = ProductQuant.explicitModel(bdf, m = 4, ksub = 8, step = 50)
      val batchP = collectKnn(IvfIndex.searchPq(
        qdf, index, cents, model, 5, nprobe = 3, reorderK = 20, Some(4)))
      val sp = Serve.loadIvfPq(index, cents, model)
      qv.foreach { case (qid, v) =>
        assert(sp.search(v, 5, nprobe = 3, reorderK = 20) == batchP(qid),
          s"pq sweep dim=$dim query $qid")
      }
    }
  }

  test("DiskANN serving (PQ+graph resident, raw paged) equals the batch beam bit-for-bit") {
    import graft.operators.{DiskAnn, ProductQuant}
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val idx = DiskAnn.build(base, model, entries.select(col("nid")),
      degree = 5, searchListSize = 16, beamIters = 2, roundDist = Some(4))
    val batch = collectKnn(DiskAnn.search(idx, queries, 10))
    val searcher = Serve.loadDiskAnn(idx)
    assert(searcher.hasRawData && !searcher.rawResident)
    val total = base.count()
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10)
      assert(got == batch(qid), s"query $qid:\n  serve $got\n  batch ${batch(qid)}")
      // the memory/disk split observables: the beam visits a bounded
      // subset, and the raw tier is touched for the visited set only
      assert(searcher.lastVisited < total, "beam visited the whole base")
      assert(searcher.lastRawFetched <= searcher.lastVisited)
      assert(searcher.lastNdis > 0)
    }
    // filter applies at the rescoring fetch (the batch `filter` contract)
    val batchF = collectKnn(DiskAnn.search(idx, queries, 10,
      Some(col("id") % 3 =!= 0)))
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, id => id % 3 != 0)
      assert(got == batchF(qid), s"filtered query $qid mismatch")
    }
    // V7 pages exact raw vectors from the SSD tier
    val want = queryVecs.take(2).map(_._1)
    val exactVecs = base.filter(col("id").isInCollection(want)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    searcher.getVectorByIds(want).foreach { case (id, v) =>
      assert(v.sameElements(exactVecs(id)), s"V7 mismatch for $id")
    }
  }

  test("paged raw tier reads sectors by footer fence — bounded by the fetch, never a store scan") {
    import graft.operators.{IvfIndex, Quantization}
    import graft.sources.SectorStore
    val (cents, index) = ivfFixture
    val st = Quantization.sq8Train(index.select(col("id"), col("vec")))
    // page store at FINE granularity so the 500-row fixture spans many
    // pages (by default a page holds as many rows as fit in 4 KiB)
    val dir = graft.queries.StreamStage.dir("graft-sectors").toString
    SectorStore.save(index.select(col("id"), col("vec")), dir, rowsPerGroup = 16)
    val batch = collectKnn(IvfIndex.searchSq8(
      queries, index, cents, 5, nprobe = 2, reorderK = 5, Some(4), Some(st)))
    val searcher = Serve.loadIvfSq8(index, cents, Some(st), rawStoreDir = Some(dir))
    val tier = searcher.rawTier.asInstanceOf[Serve.PagedRawTier]
    assert(tier.totalSectors >= 8, s"store has only ${tier.totalSectors} sectors")
    assert(tier.totalRows == base.count())
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 5, nprobe = 2, reorderK = 5)
      assert(got == batch(qid), s"query $qid:\n  serve $got\n  batch ${batch(qid)}")
      // THE BOUNDED-READ CONTRACT (diskann.cc:560-660 sector reads): the
      // fetch touches at most one sector per requested id and decodes a
      // strict subset of the store — IO tracks the fetch count, not the
      // corpus size
      assert(tier.lastSectorsRead <= tier.lastRequested,
        s"$qid read ${tier.lastSectorsRead} sectors for ${tier.lastRequested} ids")
      assert(tier.lastSectorsRead < tier.totalSectors,
        s"$qid read the whole store (${tier.lastSectorsRead} sectors)")
      assert(tier.lastRowsScanned < tier.totalRows,
        s"$qid decoded ${tier.lastRowsScanned} of ${tier.totalRows} rows")
      assert(tier.lastBytesRead * 2 < tier.totalBytes,
        s"$qid read ${tier.lastBytesRead} of ${tier.totalBytes} bytes")
      assert(tier.lastFetched == tier.lastRequested, "finalist id missing from store")
    }
    // absent ids: beyond every fence → zero sectors read, zero rows back
    // (lastFetched counts rows RETURNED, not ids requested)
    val m = tier.fetch(Seq(10000000L))
    assert(m.isEmpty && tier.lastFetched == 0L && tier.lastSectorsRead == 0L)
  }

  test("DiskANN warm-node cache: answers bit-identical, paged reads cut by the cached fraction") {
    import graft.operators.{DiskAnn, ProductQuant}
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val idx = DiskAnn.build(base, model, entries.select(col("nid")),
      degree = 5, searchListSize = 16, beamIters = 2, roundDist = Some(4))
    val cold = Serve.loadDiskAnn(idx)
    val warm = Serve.loadDiskAnn(idx, cacheNodes = 100)
    assert(warm.warmCachedNodes == 100L && warm.residentCacheBytes > 0L)
    assert(cold.warmCachedNodes == 0L && cold.residentCacheBytes == 0L)
    var coldFetched = 0L
    var warmFetched = 0L
    queryVecs.foreach { case (qid, qv) =>
      val a = cold.search(qv, 10)
      val b = warm.search(qv, 10)
      assert(a == b, s"query $qid: cache changed the answer\n  cold $a\n  warm $b")
      // same walk ⇒ same rescoring want-set; the cache only re-routes IO
      assert(warm.lastCacheHits + warm.lastRawFetched == cold.lastRawFetched,
        s"query $qid: hits ${warm.lastCacheHits} + paged ${warm.lastRawFetched} " +
          s"!= cold ${cold.lastRawFetched}")
      coldFetched += cold.lastRawFetched
      warmFetched += warm.lastRawFetched
    }
    // entry-adjacent nodes recur in every visited set — the cache must
    // absorb a real fraction of the paged reads
    assert(warmFetched * 2 < coldFetched,
      s"warm cache saved too little: $warmFetched vs $coldFetched paged reads")

    // THE KNOB-SWEEP HANDLE CARRIES THE CACHE (benchmark_float_qps.cpp
    // sweeps L on one loaded index): a tuned deployment must keep the
    // search_cache_budget_gb latency win through withSearchListSize
    val tuned = warm.withSearchListSize(24)
    assert(tuned.warmCachedNodes == warm.warmCachedNodes,
      "withSearchListSize dropped the warm cache")
    val coldTuned = cold.withSearchListSize(24)
    queryVecs.foreach { case (qid, qv) =>
      val a = coldTuned.search(qv, 10)
      val b = tuned.search(qv, 10)
      assert(a == b, s"query $qid: carried cache changed the answer at L=24")
      assert(tuned.lastCacheHits + tuned.lastRawFetched == coldTuned.lastRawFetched,
        s"query $qid: tuned-handle IO split inconsistent")
    }
    assert(queryVecs.exists { case (_, qv) => tuned.search(qv, 10); tuned.lastCacheHits > 0 },
      "carried cache never hit")
  }

  test("DiskANN convergent beam: mid-walk rescoring, IO bounded by expansions, cache-invariant") {
    import graft.operators.{DiskAnn, ProductQuant}
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val idx = DiskAnn.build(base, model, entries.select(col("nid")),
      degree = 8, searchListSize = 64, beamIters = 2, roundDist = Some(4))
    val cold = Serve.loadDiskAnn(idx)
    val warm = Serve.loadDiskAnn(idx, cacheNodes = 100)
    val exact = exactTopK(10)
    val total = base.count()
    var recallHits = 0L
    var recallDenom = 0L
    queryVecs.foreach { case (qid, qv) =>
      val a = cold.searchBeam(qv, 10, beamWidth = 4)
      // deterministic: same walk twice is bit-identical
      assert(a == cold.searchBeam(qv, 10, beamWidth = 4), s"query $qid nondeterministic")
      // THE MID-WALK IO CONTRACT (diskann.cc:560-660): sectors are paid
      // for expanded nodes only — never the full ADC-visited set the
      // fixed-hop walk rescores at the end
      assert(cold.lastRawFetched <= cold.lastExpanded,
        s"query $qid fetched ${cold.lastRawFetched} > expanded ${cold.lastExpanded}")
      assert(cold.lastExpanded < cold.lastVisited,
        s"query $qid expanded everything it ADC-visited")
      assert(cold.lastExpanded < total, s"query $qid expanded the whole base")
      assert(cold.lastHops >= 1 && cold.lastNdis > 0)
      // answered distances are EXACT (paid with a sector read): every
      // returned (id, dist) matches the brute-force distance contract
      val exactIds = exact(qid)
      recallHits += a.map(_._1).count(exactIds.take(10).contains)
      recallDenom += 10
      // warm cache re-routes IO but never changes the answer
      val b = warm.searchBeam(qv, 10, beamWidth = 4)
      assert(a == b, s"query $qid: warm cache changed the beam answer\n  $a\n  $b")
      assert(warm.lastCacheHits + warm.lastRawFetched == cold.lastRawFetched,
        s"query $qid: beam IO split inconsistent")
      // filtered: allowed applies to answers, walk still routes
      val f = cold.searchBeam(qv, 10, beamWidth = 4, allowed = id => id % 3 == 0)
      assert(f.forall(_._1 % 3 == 0), s"query $qid: filtered beam leaked disallowed ids")
    }
    // converged beam at L=64 on the degree-8 graph: the recall floor the
    // walk's best-first expansion holds on this corpus (deterministic —
    // measured 0.78 with the coarse ksub=16 ADC steering; the exhaustive
    // gate below is the semantic one)
    val recall = recallHits.toDouble / recallDenom
    assert(recall >= 0.75, f"beam recall@10 $recall%.3f below floor 0.75")
    // L >= n with convergence expands every reachable node — the answer
    // must EQUAL exact brute force when the graph reaches the true top-k
    val wide = cold.withSearchListSize(total.toInt)
    var wideHits = 0L
    queryVecs.foreach { case (qid, qv) =>
      wideHits += wide.searchBeam(qv, 10, beamWidth = 8).map(_._1)
        .count(exact(qid).take(10).contains)
    }
    assert(wideHits.toDouble / recallDenom >= 0.99,
      f"exhaustive beam recall ${wideHits.toDouble / recallDenom}%.3f below 0.99")
  }

  test("DiskANN shard router: per-shard warm caches keep the merge bit-identical") {
    import graft.operators.{DiskAnn, ProductQuant, ShardedServe}
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val half = base.count() / 2
    val parts = Seq(base.filter(col("id") < half), base.filter(col("id") >= half))
    def routerWith(cacheNodes: Int) = new ShardedServe.ShardedDiskAnnServing(
      parts.map { p =>
        val idx = DiskAnn.build(p, model, p.select(min(col("id")).as("nid")),
          degree = 5, searchListSize = 16, beamIters = 2, roundDist = Some(4))
        Serve.loadDiskAnn(idx, cacheNodes = cacheNodes)
      })
    val cold = routerWith(0)
    val warm = routerWith(50)
    queryVecs.foreach { case (qid, qv) =>
      val a = cold.search(qv, 10)
      val b = warm.search(qv, 10)
      assert(a == b, s"query $qid: shard caches changed the merged answer")
    }
  }

  test("saved DiskANN serves straight from its sector-laid raw dir") {
    import graft.operators.{DiskAnn, ProductQuant}
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val idx = DiskAnn.build(base, model, entries.select(col("nid")),
      degree = 5, searchListSize = 16, beamIters = 2, roundDist = Some(4))
    val dir = graft.queries.StreamStage.dir("graft-diskann-store").toString
    idx.save(dir)
    val idx2 = DiskAnn.load(spark, dir)
    assert(idx2.rawDir.contains(s"$dir/raw"))
    val batch = collectKnn(DiskAnn.search(idx, queries, 10))
    val searcher = Serve.loadDiskAnn(idx2)
    val tier = searcher.rawTier.asInstanceOf[Serve.PagedRawTier]
    queryVecs.take(3).foreach { case (qid, qv) =>
      assert(searcher.search(qv, 10) == batch(qid), s"saved-index serve $qid mismatch")
      assert(tier.lastSectorsRead > 0L && tier.lastSectorsRead <= tier.lastRequested)
    }
  }

  test("sharded DiskANN router merges per-shard beams to the union top-k") {
    import graft.operators.{DiskAnn, ProductQuant, ShardedServe}
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    // two doc shards, each its own DiskANN index (graph + codes + raw)
    val shards = (0 until 2).map { sh =>
      val sb = base.filter(pmod(col("id"), lit(2L)) === sh.toLong)
      val es = sb.filter(pmod(col("id"), lit(100L)) === sh.toLong).select(col("id").as("nid"))
      Serve.loadDiskAnn(DiskAnn.build(sb, model, es,
        degree = 5, searchListSize = 16, beamIters = 2, roundDist = Some(4)))
    }
    val router = new ShardedServe.ShardedDiskAnnServing(shards)
    assert(router.hasRawData)
    queryVecs.foreach { case (qid, qv) =>
      val merged = router.search(qv, 10)
      assert(merged == ShardedServe.mergeTopK(
        shards.map(_.search(qv, 10)), 10, ascending = true),
        s"diskann router != mergeTopK for $qid")
      assert(merged == merged.sortBy { case (id, d) => (d, id) })
      // filter passes through to each shard's rescoring fetch
      val filt = router.search(qv, 10, id => id % 3 != 0)
      assert(filt.forall { case (id, _) => id % 3 != 0 })
    }
    // V7 scatter-unions exact raw from the shard raw tiers
    val want = queryVecs.take(2).map(_._1)
    val exactVecs = base.filter(col("id").isInCollection(want)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    router.getVectorByIds(want).foreach { case (id, v) =>
      assert(v.sameElements(exactVecs(id)))
    }
  }

  test("graph range serving: exhaustive walk shell equals the batch brute-force range") {
    val searcher = Serve.load(knnGraph(16), base, entries, Metric.L2)
    val batch = BruteForce
      .rangeSearch(queries, base, Metric.L2, radius = 0.9, rangeFilter = 0.0,
        roundDist = Some(4))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    queryVecs.foreach { case (qid, qv) =>
      // ef >= n: the retained pool is every reachable node ⇒ the shell
      // members are exactly the exact range answer
      val got = searcher.rangeSearch(qv, radius = 0.9, rangeFilter = 0.0, ef = 1000)
      assert(got == batch.getOrElse(qid, Seq.empty), s"query $qid: $got")
      // bounded ef stays SOUND: a subset of the exact shell, still ordered
      val bounded = searcher.rangeSearch(qv, radius = 0.9, rangeFilter = 0.0, ef = 32)
      val exactSet = batch.getOrElse(qid, Seq.empty).toSet
      assert(bounded.forall(exactSet.contains), s"query $qid bounded range unsound")
      assert(bounded == bounded.sortBy { case (id, d) => (d, id) })
      // the bitset passes through the range walk: exhaustive + filter ==
      // the exact shell restricted to allowed ids
      val gotF = searcher.rangeSearch(qv, 0.9, 0.0, ef = 1000,
        allowed = (id: Long) => id % 2 == 1)
      assert(gotF == batch.getOrElse(qid, Seq.empty).filter(_._1 % 2 == 1),
        s"filtered range for $qid: $gotF")
    }
  }

  test("brute range serving (IDMAP analog) equals the batch brute-force range, filtered and not") {
    val searcher = Serve.load(knnGraph(16), base, entries, Metric.L2)
    val batch = BruteForce
      .rangeSearch(queries, base, Metric.L2, radius = 0.9, rangeFilter = 0.1,
        roundDist = Some(4))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.bruteRangeSearch(qv, radius = 0.9, rangeFilter = 0.1)
      assert(got == batch.getOrElse(qid, Seq.empty), s"query $qid: $got")
      val gotF = searcher.bruteRangeSearch(qv, 0.9, 0.1, allowed = (id: Long) => id % 2 == 1)
      assert(gotF == batch.getOrElse(qid, Seq.empty).filter(_._1 % 2 == 1),
        s"filtered brute range for $qid: $gotF")
    }
  }

  test("DiskANN range serving: exhaustive beam shell equals the batch brute-force range") {
    import graft.operators.{DiskAnn, ProductQuant}
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val idx = DiskAnn.build(base, model, entries.select(col("nid")),
      degree = 8, searchListSize = 64, beamIters = 2, roundDist = Some(4))
    val cold = Serve.loadDiskAnn(idx)
    val total = base.count().toInt
    val batch = BruteForce
      .rangeSearch(queries, base, Metric.L2, radius = 0.9, rangeFilter = 0.0,
        roundDist = Some(4))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    val wide = cold.withSearchListSize(total)
    queryVecs.foreach { case (qid, qv) =>
      // L >= n with convergence expands every reachable node; every
      // answered distance is exact (sector-paid), so the shell IS the
      // exact range answer on a connected graph
      val got = wide.rangeSearch(qv, radius = 0.9, rangeFilter = 0.0)
      assert(got == batch.getOrElse(qid, Seq.empty), s"query $qid: $got")
      // bounded L stays SOUND: a subset of the exact shell, ordered,
      // and deterministic across repeat walks
      val bounded = cold.rangeSearch(qv, radius = 0.9, rangeFilter = 0.0)
      val exactSet = batch.getOrElse(qid, Seq.empty).toSet
      assert(bounded.forall(exactSet.contains), s"query $qid bounded range unsound")
      assert(bounded == bounded.sortBy { case (id, d) => (d, id) })
      assert(bounded == cold.rangeSearch(qv, 0.9, 0.0), s"query $qid nondeterministic")
      // bitset applies to answers only (the walk routes through)
      val gotF = wide.rangeSearch(qv, 0.9, 0.0, allowed = (id: Long) => id % 2 == 1)
      assert(gotF == batch.getOrElse(qid, Seq.empty).filter(_._1 % 2 == 1),
        s"filtered diskann range for $qid: $gotF")
    }
  }

  test("sparse range serving equals the batch rangeIP under the static-threshold WAND") {
    import graft.operators.SparseSearch
    val docs = Tables.documents(spark, sf0001)
    val bp = SparseSearch.postings(docs, "doc_id", "text")
    val qp = SparseSearch
      .postings(docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
      .select(col("id").as("qid"), col("term"), col("tf").as("qtf"))
    val batch = SparseSearch
      .rangeIP(qp, bp.select(col("id"), col("term"), col("tf")),
        radius = 220.0, rangeFilter = 1e9)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    val searcher = Serve.loadSparse(bp.select(col("term"), col("id"), col("tf")))
    qp.collect().groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val terms = rows.map(r => (r.getString(1), r.getLong(2))).toSeq
      val got = searcher.rangeSearch(terms, radius = 220.0, rangeFilter = 1e9)
      assert(got == batch.getOrElse(q, Seq.empty), s"query $q: $got")
      // filtered shell: the bitset passes through
      val gotF = searcher.rangeSearch(terms, 220.0, 1e9, allowed = (id: Long) => id % 2 == 1)
      assert(gotF == batch.getOrElse(q, Seq.empty).filter(_._1 % 2 == 1),
        s"filtered query $q: $gotF")
    }
  }

  test("IVF serving under filter equals the batch filtered probe, widening when starved") {
    import graft.operators.IvfIndex
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val index = IvfIndex.build(base, cents, Some(4))
    val searcher = Serve.loadIvf(index, cents, Metric.L2)
    val total = base.count()
    def batchOn(filtered: org.apache.spark.sql.DataFrame, nprobe: Int, full: Boolean) =
      IvfIndex
        .search(queries, filtered, cents, 10, nprobe, Metric.L2, Some(4),
          ensureTopkFull = full)
        .select("qid", "nid", "dist").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
        }
    // 50% bitset, nprobe=2: same probed lists as the batch over the
    // filtered index — bit-for-bit equal, cost counts allowed ids only
    val b1 = batchOn(index.filter(col("id") % 2 === 1), nprobe = 2, full = false)
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, 2, (id: Long) => id % 2 == 1)
      assert(got == b1.getOrElse(qid, Seq.empty), s"query $qid: $got")
      assert(searcher.lastCandidates < total / 2,
        s"filtered probe scored ${searcher.lastCandidates} — not probe-bounded")
    }
    // STARVED bitset (~1/20 allowed), nprobe=1: the probed list cannot
    // deliver k allowed — serving widens to the remaining lists, exactly
    // the batch ensure_topk_full expansion (ivf.cc:750-760)
    val b2 = batchOn(index.filter(col("id") % 20 === 0), nprobe = 1, full = true)
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, 1, (id: Long) => id % 20 == 0)
      assert(got == b2.getOrElse(qid, Seq.empty), s"starved query $qid: $got")
    }
  }

  test("IVF range serving: lossless ball prune equals the batch range, lists skipped") {
    import graft.operators.IvfIndex
    // 25 lists: tighter balls give the triangle inequality teeth on the
    // real embedding geometry (5 corpus-wide lists never prune)
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val index = IvfIndex.build(base, cents, Some(4))
    val radii = IvfIndex.listRadii(index, cents)
    val batch = IvfIndex
      .rangeSearchPruned(queries, index, cents, radii,
        radius = 0.9, rangeFilter = 0.0, roundDist = Some(4))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }
    val searcher = Serve.loadIvf(index, cents, Metric.L2)
    val rm = new java.util.HashMap[Long, Double]()
    radii.collect().foreach(r => rm.put(r.getLong(0), r.getDouble(1)))
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.rangeSearch(qv, radius = 0.9, rangeFilter = 0.0, rm)
      assert(got == batch.getOrElse(qid, Seq.empty), s"query $qid: $got")
      val full = searcher.lastCandidates
      // bitset on the range arm: shell membership is per-doc and the ball
      // prune bounds lists, not docs — the filtered answer is exactly the
      // unfiltered shell restricted to allowed ids, and the cost counter
      // scales with the filter (allowed ids only)
      val gotF = searcher.rangeSearch(qv, 0.9, 0.0, rm, allowed = (id: Long) => id % 2 == 1)
      assert(gotF == batch.getOrElse(qid, Seq.empty).filter(_._1 % 2 == 1),
        s"filtered range for $qid: $gotF")
      assert(full == 0 || searcher.lastCandidates < full,
        s"filtered range scored ${searcher.lastCandidates} of $full scanned — not filter-scaled")
    }
    // prune evidence needs separated balls (the corpus embeddings overlap
    // at every granularity): two tight clusters around 0 and 10 — a query
    // at 0 with radius 1 must never scan the far list
    import spark.implicits._
    val pts = Seq(
      (0L, Seq(0.0f, 0.1f)), (1L, Seq(0.1f, 0.0f)),
      (2L, Seq(10.0f, 10.1f)), (3L, Seq(10.1f, 10.0f))
    ).toDF("id", "vec")
    val c2 = Seq((0L, Seq(0.05f, 0.05f)), (1L, Seq(10.05f, 10.05f)))
      .toDF("cluster_id", "centroid")
    val idx2 = IvfIndex.build(pts, c2, Some(4))
    val rm2 = new java.util.HashMap[Long, Double]()
    IvfIndex.listRadii(idx2, c2).collect()
      .foreach(r => rm2.put(r.getLong(0), r.getDouble(1)))
    val s2 = Serve.loadIvf(idx2, c2, Metric.L2)
    val near = s2.rangeSearch(Array(0.0f, 0.0f), radius = 1.0, rangeFilter = 0.0, rm2)
    assert(near.map(_._1).toSet == Set(0L, 1L))
    assert(s2.lastCandidates == 2, s"far list not pruned: ${s2.lastCandidates} scanned")
  }

  test("sparse DAAT-WAND serving equals the batch exact top-k, skipping engaged") {
    import graft.operators.SparseSearch
    import spark.implicits._
    // Zipf-ish synthetic postings (the harness corpus's 31-term vocabulary
    // never lets upper-bound pruning engage — same reason graft.Scale
    // generates its own): u³-skewed terms over a 2000-term vocabulary
    val nDocs = 3000
    val bp = spark.range(nDocs.toLong).toDF("id")
      .select(col("id"), explode(sequence(lit(1), lit(30))).as("j"))
      .select(col("id"),
        concat(lit("t"), floor(pow(
          pmod(xxhash64(col("id") * 7919 + col("j") * 31), lit(1000000)).cast("double")
            / 1000000.0d, 3.0d) * 2000).cast("long")).as("term"),
        lit(1L).as("one"))
      .groupBy(col("id"), col("term")).agg(sum(col("one")).as("tf"))
    val qp = spark.range(5L).toDF("qid")
      .select(col("qid"), explode(sequence(lit(1), lit(12))).as("j"))
      .select(col("qid"),
        concat(lit("t"), floor(pow(
          pmod(xxhash64(col("qid") * 131 + col("j") * 17 + 7), lit(1000000)).cast("double")
            / 1000000.0d, 3.0d) * 2000).cast("long")).as("term"),
        lit(1L).as("one"))
      .groupBy(col("qid"), col("term")).agg(sum(col("one")).as("qtf"))
    val searcher = Serve.loadSparse(bp.select(col("term"), col("id"), col("tf")))
    val batch = SparseSearch
      .searchIP(qp, bp.select(col("id"), col("term"), col("tf")), 10)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    val queriesLocal = qp.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => (r.getString(1), r.getLong(2))).toSeq }
    var anySkip = false
    queriesLocal.foreach { case (q, terms) =>
      val got = searcher.search(terms, 10)
      assert(got == batch(q), s"query $q: $got != ${batch(q)}")
      anySkip ||= searcher.lastSkipped > 0
      // the WAND walk must not have fully scored every doc with a hit
      assert(searcher.lastScored < nDocs)
    }
    assert(anySkip, "upper-bound skipping never engaged on the Zipf corpus")
    // the DAAT-MaxScore serving arm: same exact contract, and the
    // essential-list split must leave non-essential-only docs unvisited
    var anyAbandon = false
    queriesLocal.foreach { case (q, terms) =>
      val got = searcher.searchMaxScore(terms, 10)
      assert(got == batch(q), s"maxscore query $q: $got != ${batch(q)}")
      anyAbandon ||= searcher.lastAbandoned > 0
      assert(searcher.lastScored < nDocs,
        s"maxscore fully scored ${searcher.lastScored} of $nDocs — no pruning")
    }
    assert(anyAbandon, "maxscore early abandonment never engaged on the Zipf corpus")
    // sharded: 3 doc-partitioned posting shards, each a complete inverted
    // index over its docs — per-shard exact arms merge to the SAME answer
    val router = new graft.operators.ShardedServe.ShardedSparseServing(
      (0 until 3).map(sh => Serve.loadSparse(
        bp.filter(col("id") % 3 === sh).select(col("term"), col("id"), col("tf")))))
    queriesLocal.foreach { case (q, terms) =>
      assert(router.search(terms, 10) == batch(q), s"sharded WAND query $q")
      assert(router.searchMaxScore(terms, 10) == batch(q), s"sharded maxscore query $q")
    }
  }

  test("WAND equals the naive scorer on randomized corpora (property sweep)") {
    import spark.implicits._
    // 20 seeded random corpora: tiny vocabularies force heavy collisions
    // and dense ties — the WAND pruning/tie edge cases a single corpus
    // never covers
    val rnd = new scala.util.Random(20260814L)
    (1 to 20).foreach { trial =>
      val vocab = 3 + rnd.nextInt(12)
      val nDocs = 5 + rnd.nextInt(40)
      val rows = (0 until nDocs).flatMap { d =>
        (0 until 1 + rnd.nextInt(6)).map(_ => (d.toLong, s"t${rnd.nextInt(vocab)}", 1L))
      }
      val bp = rows.toDF("id", "term", "one")
        .groupBy(col("id"), col("term")).agg(sum(col("one")).as("tf"))
      val local = bp.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val qterms = (0 until 1 + rnd.nextInt(4))
        .map(_ => (s"t${rnd.nextInt(vocab)}", 1L + rnd.nextInt(3)))
        .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }.toSeq
      val k = 1 + rnd.nextInt(5)
      // naive reference: full scoring, (score desc, id asc)
      val naive = local
        .groupBy(_._1)
        .map { case (id, ps) =>
          id -> qterms.map { case (t, q) =>
            ps.find(_._2 == t).map(_._3 * q).getOrElse(0L)
          }.sum
        }
        .filter(_._2 > 0L)
        .toSeq
        .map { case (id, s) => (id, s.toDouble) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k)
      val searcher = Serve.loadSparse(bp.select(col("term"), col("id"), col("tf")))
      val got = searcher.search(qterms, k)
      assert(got == naive, s"trial $trial (vocab=$vocab docs=$nDocs k=$k): $got != $naive")
      // MaxScore must agree on the same adversarial tie-dense corpora
      val gotMs = searcher.searchMaxScore(qterms, k)
      assert(gotMs == naive,
        s"maxscore trial $trial (vocab=$vocab docs=$nDocs k=$k): $gotMs != $naive")
      // and under a random bitset — the abandon-on-tie logic must stay
      // sound when the heap's worst element keeps shifting
      val mod = 2 + rnd.nextInt(3)
      val keep = rnd.nextInt(mod)
      val naiveF = local
        .groupBy(_._1)
        .map { case (id, ps) =>
          id -> qterms.map { case (t, q) =>
            ps.find(_._2 == t).map(_._3 * q).getOrElse(0L)
          }.sum
        }
        .filter { case (id, s) => s > 0L && id % mod == keep }
        .toSeq
        .map { case (id, s) => (id, s.toDouble) }
        .sortBy { case (id, s) => (-s, id) }
        .take(k)
      val gotWf = searcher.search(qterms, k, allowed = (id: Long) => id % mod == keep)
      assert(gotWf == naiveF, s"filtered wand trial $trial: $gotWf != $naiveF")
      val gotMsF = searcher.searchMaxScore(qterms, k, allowed = (id: Long) => id % mod == keep)
      assert(gotMsF == naiveF, s"filtered maxscore trial $trial: $gotMsF != $naiveF")
      // range with a random lower bound — the static-threshold pivot must
      // keep exactly the naive shell (thresholds often land ON a score,
      // exercising the strict > boundary)
      val lo = rnd.nextInt(8).toDouble
      val naiveRange = local
        .groupBy(_._1)
        .map { case (id, ps) =>
          id -> qterms.map { case (t, q) =>
            ps.find(_._2 == t).map(_._3 * q).getOrElse(0L)
          }.sum
        }
        .filter { case (_, s) => s.toDouble > lo }
        .toSeq
        .map { case (id, s) => (id, s.toDouble) }
        .sortBy { case (id, s) => (-s, id) }
      val gotRange = searcher.rangeSearch(qterms, radius = lo, rangeFilter = 1e9)
      assert(gotRange == naiveRange, s"range trial $trial lo=$lo: $gotRange != $naiveRange")
    }
  }

  test("sparse serving iterator pages equal the batch sparse AnnIterator pages") {
    import graft.operators.SparseSearch
    val docs = Tables.documents(spark, sf0001)
    val bp = SparseSearch.postings(docs, "doc_id", "text")
    val qp = SparseSearch
      .postings(docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
      .select(col("id").as("qid"), col("term"), col("tf").as("qtf"))
    def batchPage(p: Int) = SparseSearch
      .annIteratorPage(qp, bp.select(col("id"), col("term"), col("tf")), p, 5)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    val (p1, p2) = (batchPage(1), batchPage(2))
    val searcher = Serve.loadSparse(bp.select(col("term"), col("id"), col("tf")))
    qp.collect().groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val terms = rows.map(r => (r.getString(1), r.getLong(2))).toSeq
      // the exact ranked stream (WAND depth 10) pages like the batch V6
      val it = new Serve.ServingIterator(searcher.search(terms, 10))
      assert(it.nextPage(5) == p1.getOrElse(q, Seq.empty), s"page 1 for $q")
      assert(it.nextPage(5) == p2.getOrElse(q, Seq.empty), s"page 2 for $q")
      it.reset()
      assert(it.nextPage(5) == p1.getOrElse(q, Seq.empty), "reset did not rewind")
    }
  }

  test("bitset-filtered sparse WAND equals the batch filtered search") {
    import graft.operators.SparseSearch
    val docs = Tables.documents(spark, sf0001)
    val bp = SparseSearch.postings(docs, "doc_id", "text")
    val qp = SparseSearch
      .postings(docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
      .select(col("id").as("qid"), col("term"), col("tf").as("qtf"))
    val batch = SparseSearch
      .searchIP(qp, bp.select(col("id"), col("term"), col("tf")), 10,
        filter = Some(col("id") % 2 === 1))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    val searcher = Serve.loadSparse(bp.select(col("term"), col("id"), col("tf")))
    qp.collect().groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val terms = rows.map(r => (r.getString(1), r.getLong(2))).toSeq
      val got = searcher.search(terms, 10, allowed = (id: Long) => id % 2 == 1)
      assert(got == batch(q), s"query $q: $got != ${batch(q)}")
      val gotMs = searcher.searchMaxScore(terms, 10, allowed = (id: Long) => id % 2 == 1)
      assert(gotMs == batch(q), s"maxscore query $q: $gotMs != ${batch(q)}")
    }
  }

  test("BM25 WAND serving equals the batch searchBM25 bit-for-bit") {
    import graft.operators.{SparseIndexModel, SparseSearch}
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val bp = SparseSearch.postings(docs, "doc_id", "text")
      .join(SparseSearch.docLengths(docs, "doc_id", "text"), "id")
      .select(col("term"), col("id"), col("tf"), col("dl").cast("long").as("dl"))
    val termStats = bp.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("tf")).as("min_tf"))
    val nDocs = docs.count()
    val avgdl = bp.select(col("id"), col("dl")).distinct()
      .agg(avg(col("dl"))).head().getDouble(0)
    val model = new SparseIndexModel(bp, termStats, (nDocs, avgdl), 1.2, 0.75)
    val qp = SparseSearch
      .postings(docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
      .select(col("id").as("qid"), col("term"), col("tf").as("qtf"))
    val batch = SparseSearch.searchBM25(qp, model, 10)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    val searcher = Serve.loadSparseBM25(model)
    // sharded BM25: shard-sliced postings under the COLLECTION's global
    // stats (df/idf, N, avgdl) — per-shard scores are the global scores
    // restricted to shard docs, so the merge is exact
    val router = new graft.operators.ShardedServe.ShardedSparseServing(
      (0 until 3).map { sh =>
        Serve.loadSparseBM25(new SparseIndexModel(
          bp.filter(col("id") % 3 === sh), termStats, (nDocs, avgdl), 1.2, 0.75))
      })
    // BM25 range under the same scaled-integer contract
    val batchRange = SparseSearch.rangeBM25(qp, model, radius = 12.0, rangeFilter = 1e9)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    // filtered batch oracle: the bitset contract on the BM25 arms
    val batchF = SparseSearch.searchBM25(qp, model, 10, filter = Some(col("id") % 2 === 1))
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    qp.collect()
      .groupBy(_.getLong(0))
      .foreach { case (q, rows) =>
        val terms = rows.map(r => (r.getString(1), r.getLong(2))).toSeq
        val got = searcher.search(terms, 10)
        assert(got == batch(q), s"query $q:\n  serve $got\n  batch ${batch(q)}")
        // the MaxScore arm must agree in the DEGENERATE-vocabulary regime
        // too (31 terms: the essential split rarely engages — the
        // all-essential path is the edge case here)
        val gotMs = searcher.searchMaxScore(terms, 10)
        assert(gotMs == batch(q), s"maxscore query $q: $gotMs")
        val gotSharded = router.search(terms, 10)
        assert(gotSharded == batch(q), s"sharded query $q: $gotSharded")
        val gotRange = searcher.rangeSearch(terms, radius = 12.0, rangeFilter = 1e9)
        assert(gotRange == batchRange.getOrElse(q, Seq.empty), s"range query $q: $gotRange")
        // bitset on BM25 top-k (the last filter-contract asymmetry): WAND,
        // MaxScore, and the sharded router all match the batch filtered path
        val allowed = (id: Long) => id % 2 == 1
        val gotWf = searcher.search(terms, 10, allowed)
        assert(gotWf == batchF(q), s"filtered query $q: $gotWf != ${batchF(q)}")
        val gotMsF = searcher.searchMaxScore(terms, 10, allowed)
        assert(gotMsF == batchF(q), s"filtered maxscore query $q: $gotMsF")
        assert(router.search(terms, 10, allowed) == batchF(q), s"filtered sharded $q")
        assert(router.searchMaxScore(terms, 10, allowed) == batchF(q),
          s"filtered sharded maxscore $q")
      }
  }

  test("BM25 MaxScore + filtered serving on a Zipf corpus: equality with pruning engaged") {
    import graft.operators.{SparseIndexModel, SparseSearch}
    // Zipf-ish corpus (u³-skewed terms over a 2000-term vocabulary) with
    // VARIABLE doc lengths — the regime where the BM25 essential-list
    // split discriminates: head terms carry near-zero idf (low UB → non-
    // essential, their long posting lists never drive candidates), tail
    // terms stay essential
    val nDocs = 3000
    val bp0 = spark.range(nDocs.toLong).toDF("id")
      .select(col("id"), explode(sequence(lit(1), (lit(20) + pmod(col("id"), lit(21))).cast("int"))).as("j"))
      .select(col("id"),
        concat(lit("t"), floor(pow(
          pmod(xxhash64(col("id") * 7919 + col("j") * 31), lit(1000000)).cast("double")
            / 1000000.0d, 3.0d) * 2000).cast("long")).as("term"),
        lit(1L).as("one"))
      .groupBy(col("id"), col("term")).agg(sum(col("one")).as("tf"))
    val dls = bp0.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
    val bp = bp0.join(dls, "id").select(col("term"), col("id"), col("tf"), col("dl"))
    val termStats = bp.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("tf")).as("min_tf"))
    val avgdl = dls.agg(avg(col("dl"))).head().getDouble(0)
    val model = new SparseIndexModel(bp, termStats, (nDocs.toLong, avgdl), 1.2, 0.75)
    val qp = spark.range(5L).toDF("qid")
      .select(col("qid"), explode(sequence(lit(1), lit(12))).as("j"))
      .select(col("qid"),
        concat(lit("t"), floor(pow(
          pmod(xxhash64(col("qid") * 131 + col("j") * 17 + 7), lit(1000000)).cast("double")
            / 1000000.0d, 3.0d) * 2000).cast("long")).as("term"),
        lit(1L).as("one"))
      .groupBy(col("qid"), col("term")).agg(sum(col("one")).as("qtf"))
    def batchTop(filter: Option[org.apache.spark.sql.Column]) = SparseSearch
      .searchBM25(qp, model, 10, filter = filter)
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (-t._2, t._1)).toSeq
      }
    val batch = batchTop(None)
    val batchF = batchTop(Some(col("id") % 2 === 1))
    val searcher = Serve.loadSparseBM25(model)
    // sharded: shard-sliced postings under the COLLECTION's global stats
    val router = new graft.operators.ShardedServe.ShardedSparseServing(
      (0 until 3).map { sh =>
        Serve.loadSparseBM25(new SparseIndexModel(
          bp.filter(col("id") % 3 === sh), termStats, (nDocs.toLong, avgdl), 1.2, 0.75))
      })
    val queriesLocal = qp.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => (r.getString(1), r.getLong(2))).toSeq }
    val allowed = (id: Long) => id % 2 == 1
    var anyAbandon = false
    queriesLocal.foreach { case (q, terms) =>
      assert(searcher.search(terms, 10) == batch(q), s"wand query $q")
      val gotMs = searcher.searchMaxScore(terms, 10)
      assert(gotMs == batch(q), s"maxscore query $q: $gotMs != ${batch(q)}")
      anyAbandon ||= searcher.lastAbandoned > 0
      // the essential-list split must keep the arm from fully completing
      // every doc that has any query term
      assert(searcher.lastScored < nDocs,
        s"maxscore completed ${searcher.lastScored} of $nDocs — no pruning")
      // bitset on both arms + the sharded router (the round-9 contract)
      assert(searcher.search(terms, 10, allowed) == batchF(q), s"filtered wand $q")
      assert(searcher.searchMaxScore(terms, 10, allowed) == batchF(q),
        s"filtered maxscore $q")
      assert(router.search(terms, 10) == batch(q), s"sharded wand $q")
      assert(router.searchMaxScore(terms, 10) == batch(q), s"sharded maxscore $q")
      assert(router.search(terms, 10, allowed) == batchF(q), s"sharded filtered wand $q")
      assert(router.searchMaxScore(terms, 10, allowed) == batchF(q),
        s"sharded filtered maxscore $q")
    }
    assert(anyAbandon, "BM25 MaxScore early abandonment never engaged on the Zipf corpus")
    // randomized agreement sweep on the loaded searcher: WAND (already
    // batch-gated) vs MaxScore under random sub-queries, ks, and bitsets —
    // the tie/rounding edge cases one query set never covers
    val rnd = new scala.util.Random(20260815L)
    val allTerms = queriesLocal.values.flatten.map(_._1).toArray.distinct
    (1 to 15).foreach { trial =>
      val terms = (0 until 1 + rnd.nextInt(8))
        .map(_ => (allTerms(rnd.nextInt(allTerms.length)), 1L + rnd.nextInt(3)))
        .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).sum) }.toSeq
      val k = 1 + rnd.nextInt(12)
      val a = searcher.search(terms, k)
      val b = searcher.searchMaxScore(terms, k)
      assert(a == b, s"trial $trial k=$k: wand $a != maxscore $b")
      val mod = 2 + rnd.nextInt(3); val keep = rnd.nextInt(mod)
      val aF = searcher.search(terms, k, (id: Long) => id % mod == keep)
      val bF = searcher.searchMaxScore(terms, k, (id: Long) => id % mod == keep)
      assert(aF == bF, s"filtered trial $trial k=$k: wand $aF != maxscore $bF")
    }
  }

  test("bitset-filtered serving: filtered nodes route the walk but never answer") {
    val searcher = Serve.load(knnGraph(16), base, entries, Metric.L2)
    // exhaustive walk + filter == brute force over the allowed set only
    val allowedBase = base.filter(col("id") % 2 === 1)
    val exact = BruteForce
      .knn(queries, allowedBase, 10, Metric.L2, roundDist = Some(4))
      .select("qid", "nid", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, ef = 500, allowed = (id: Long) => id % 2 == 1)
      assert(got.forall(_._1 % 2 == 1), s"filtered node answered for $qid")
      assert(got.map(_._1) == exact(qid), s"query $qid: ${got.map(_._1)} != ${exact(qid)}")
    }
  }

  test("graph serving equals brute force on randomized connected graphs (property sweep)") {
    import spark.implicits._
    // adversarial regime the corpus never produces: tiny integer-grid
    // vectors (dense distance TIES at 4dp) on random connected graphs —
    // exercises the (dist, id) tie order, the two-pool admission, and the
    // early-exit bookkeeping under exhaustive walks
    def d4(q: Array[Float], v: Array[Float]): Double = {
      var s = 0.0d; var i = 0
      while (i < q.length) { val d = q(i) - v(i); s += d.toDouble * d.toDouble; i += 1 }
      java.math.BigDecimal.valueOf(math.sqrt(s))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    }
    val rnd = new scala.util.Random(20260814L)
    (1 to 12).foreach { trial =>
      val n = 20 + rnd.nextInt(80)
      val dim = 1 + rnd.nextInt(4)
      val vecs = (0L until n.toLong).map(id =>
        id -> Array.fill(dim)((rnd.nextInt(5) - 2).toFloat))
      // connected by a bidirectional path, plus random extra arcs
      val edges = (1 until n).flatMap(i =>
        Seq((i - 1L, i.toLong), (i.toLong, i - 1L))) ++
        (0 until n * 2).flatMap { _ =>
          val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
          if (a != b) Seq((a, b)) else Nil
        }
      val baseDf = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
      val searcher = Serve.load(
        edges.toDF("src", "dst"), baseDf,
        Seq(Tuple1(rnd.nextInt(n).toLong)).toDF("nid"), Metric.L2)
      val k = 1 + rnd.nextInt(8)
      (1 to 3).foreach { _ =>
        val q = Array.fill(dim)((rnd.nextInt(5) - 2).toFloat)
        val exact = vecs.map { case (id, v) => (id, d4(q, v)) }
          .sortBy { case (id, d) => (d, id) }.take(k)
        val got = searcher.search(q, k, ef = n * 2)
        assert(got == exact, s"trial $trial (n=$n dim=$dim k=$k): $got != $exact")
        val mod = 2 + rnd.nextInt(2)
        val exactF = vecs.filter(_._1 % mod == 0)
          .map { case (id, v) => (id, d4(q, v)) }
          .sortBy { case (id, d) => (d, id) }.take(k)
        val gotF = searcher.search(q, k, n * 2, (id: Long) => id % mod == 0)
        assert(gotF == exactF, s"filtered trial $trial: $gotF != $exactF")
      }
    }
  }

  test("selective filter at ef≈2k: exactly k allowed answers, capacity never polluted") {
    // the regime that exposed the one-pool admission bug: a ~50% bitset
    // with ef barely above k. With the old (single-pool) admission the
    // disallowed nodes occupied the bounded ef-set and EVICTED allowed
    // ones — returning fewer / worse than k allowed answers. Two-pool
    // admission must return exactly k allowed answers with ANN recall.
    val allowed = (id: Long) => id % 2 == 1
    val allowedBase = base.filter(col("id") % 2 === 1)
    val exact = BruteForce
      .knn(queries, allowedBase, 10, Metric.L2, roundDist = Some(4))
      .select("qid", "nid", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    val searcher = Serve.load(knnGraph(16), base, entries, Metric.L2)
    def recallAt(ef: Int): Double = {
      var hits = 0
      queryVecs.foreach { case (qid, qv) =>
        val got = searcher.search(qv, 10, ef, allowed)
        assert(got.size == 10,
          s"query $qid at ef=$ef returned ${got.size} of 10 allowed answers")
        assert(got.forall(t => allowed(t._1)), s"filtered node answered for $qid")
        hits += got.map(_._1).toSet.intersect(exact(qid).toSet).size
      }
      hits.toDouble / (queryVecs.size * 10)
    }
    val r20 = recallAt(20) // ef = 2k — capacity binds, the old bug's regime
    assert(r20 >= 0.6, s"filtered serving recall@10 $r20 below the ANN floor at ef=2k")
    // ef monotonicity must hold under the filter too (the reference's knob)
    assert(recallAt(64) >= r20)
    // COMPLETE graph: one expansion evaluates every node, so the ef-bounded
    // two-pool walk is PROVABLY exact over the allowed set even at ef=2k —
    // under the old admission the global top-20 (mixed) would usually hold
    // fewer than 10 allowed ids, failing equality. Exact-equality gate.
    val complete = base.select(col("id").as("src"))
      .crossJoin(base.select(col("id").as("dst")))
      .filter(col("src") =!= col("dst"))
    val searcherC = Serve.load(complete, base, entries, Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      val got = searcherC.search(qv, 10, ef = 20, allowed).map(_._1)
      assert(got == exact(qid), s"query $qid: $got != ${exact(qid)}")
    }
  }

  test("coarse entry layer: exhaustive equality kept, recall floor held, seeding evals cut") {
    // dense entry set (250 of 500 nodes) — the regime where flat seeding's
    // per-query scan of ALL entries dominates: the coarse layer must cut
    // total distance evaluations (√E anchors + probes·√E bucket members
    // vs the flat all-entries scan) while leaving the walk's gates intact.
    val denseEntries = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("nid"))
    val g = knnGraph(16)
    val flat = Serve.load(g, base, denseEntries, Metric.L2)
    val coarse = Serve.load(g, base, denseEntries, Metric.L2).enableCoarseEntries()
    val exact = exactTopK(10)
    // exhaustive walks: the seed cannot change the answer on a connected
    // graph with ef >= n — both searchers must EQUAL brute force
    queryVecs.foreach { case (qid, qv) =>
      assert(flat.search(qv, 10, ef = 500).map(_._1) == exact(qid), s"flat $qid")
      assert(coarse.search(qv, 10, ef = 500).map(_._1) == exact(qid), s"coarse $qid")
    }
    // the refined searcher delegates the layer to its traversal tier —
    // with coinciding tiers the exhaustive walk must still equal brute force
    val refined = Serve.loadRefined(g, base, base, denseEntries, Metric.L2)
      .enableCoarseEntries()
    queryVecs.foreach { case (qid, qv) =>
      assert(refined.search(qv, 10, ef = 500).map(_._1) == exact(qid),
        s"refined coarse $qid")
    }
    // bounded ef: the coarse seed must cut total evaluations and keep
    // the ANN floor
    var flatNdis = 0L
    var coarseNdis = 0L
    var hits = 0
    queryVecs.foreach { case (qid, qv) =>
      flat.search(qv, 10, ef = 32)
      flatNdis += flat.lastStats.ndis
      val got = coarse.search(qv, 10, ef = 32)
      coarseNdis += coarse.lastStats.ndis
      hits += got.map(_._1).toSet.intersect(exact(qid).toSet).size
    }
    assert(coarseNdis < flatNdis,
      s"coarse layer did not cut evaluations: $coarseNdis >= $flatNdis")
    val recall = hits.toDouble / (queryVecs.size * 10)
    assert(recall >= 0.6, s"coarse-entry recall@10 $recall below the ANN floor")
  }

  test("packed fp16 serving tier equals the float-grid searcher bit-for-bit (half the bytes)") {
    import graft.functions.VectorFunctions.{packFp16, unpackFp16}
    val g = knnGraph(16)
    // same half grid on both sides: the packed searcher decodes inline,
    // the float searcher loads the decoded values — bit-identical walks
    val bPacked = base.select(col("id"), packFp16(col("vec")).as("vec"))
    val bGrid = base.select(col("id"), unpackFp16(packFp16(col("vec"))).as("vec"))
    val packedS = Serve.loadPacked(g, bPacked, entries, Metric.L2)
    val gridS = Serve.load(g, bGrid, entries, Metric.L2)
    // queries narrowed to the half grid, as the batch packed queries
    // narrow both sides (bf_knn_l2_fp16_packed)
    val qGrid = queryVecs.map { case (qid, qv) =>
      (qid, qv.map(f => graft.plans.Half.halfToFloat(graft.plans.Half.floatToHalf(f))))
    }
    qGrid.foreach { case (qid, qv) =>
      assert(packedS.search(qv, 10, ef = 500) == gridS.search(qv, 10, ef = 500),
        s"exhaustive $qid")
      assert(packedS.search(qv, 10, ef = 32) == gridS.search(qv, 10, ef = 32),
        s"bounded $qid")
    }
    // V7/V8 on the packed tier: the packed data IS this index's raw data
    // (the reference's fp16 flat answers HasRawData true) — exact decode
    assert(packedS.hasRawData)
    val ids = qGrid.map(_._1).take(4)
    val got = packedS.getVectorByIds(ids).toMap
    val want = gridS.getVectorByIds(ids).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, v) => assert(v.toSeq == want(id).toSeq, s"V7 $id") }
    // the coarse entry layer composes with the packed tier (vecOf feeds
    // the anchor/bucket evaluations too)
    packedS.enableCoarseEntries()
    qGrid.foreach { case (qid, qv) =>
      assert(packedS.search(qv, 10, ef = 500) == gridS.search(qv, 10, ef = 500),
        s"coarse packed $qid")
    }
  }

  test("packed int8 serving tier equals the float-grid searcher bit-for-bit (quarter the bytes)") {
    import graft.functions.VectorFunctions.{packInt8, unpackInt8}
    val scale = 100.0d
    val g = knnGraph(16)
    // same int8-dequantized grid on both sides: the packed searcher
    // decodes inline (byte/scale → float), the float searcher loads the
    // decoded frame — bit-identical walks
    val bPacked = base.select(col("id"), packInt8(col("vec"), scale).as("vec"))
    val bGrid = base.select(col("id"),
      unpackInt8(packInt8(col("vec"), scale), scale).cast("array<float>").as("vec"))
    val packedS = Serve.loadPackedInt8(g, bPacked, entries, Metric.L2, scale)
    val gridS = Serve.load(g, bGrid, entries, Metric.L2)
    // queries narrowed to the same grid (the batch bf_knn_l2_int8_packed
    // narrows both sides): round-half-even of f·scale, clamp, decode
    val qGrid = queryVecs.map { case (qid, qv) =>
      (qid, qv.map { f =>
        val q8 = math.max(-128.0, math.min(127.0, math.rint(f.toDouble * scale)))
        (q8.toByte.toDouble / scale).toFloat
      })
    }
    qGrid.foreach { case (qid, qv) =>
      assert(packedS.search(qv, 10, ef = 500) == gridS.search(qv, 10, ef = 500),
        s"exhaustive $qid")
      assert(packedS.search(qv, 10, ef = 32) == gridS.search(qv, 10, ef = 32),
        s"bounded $qid")
    }
    // V7/V8: the packed int8 tier is this index's raw data — exact decode
    assert(packedS.hasRawData)
    val ids = qGrid.map(_._1).take(4)
    val got = packedS.getVectorByIds(ids).toMap
    val want = gridS.getVectorByIds(ids).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, v) => assert(v.toSeq == want(id).toSeq, s"V7 $id") }
    // the coarse entry layer composes with the int8 tier
    packedS.enableCoarseEntries()
    qGrid.foreach { case (qid, qv) =>
      assert(packedS.search(qv, 10, ef = 500) == gridS.search(qv, 10, ef = 500),
        s"coarse packed $qid")
    }
  }

  test("coarse entry sweep: random corpora x dims x entry counts hold recall at fewer evaluations") {
    // the evidence the default flip rests on (single-corpus nb=200k
    // numbers were one-point): seeded random corpora across dimensions
    // and entry-set sizes, asserting the coarse seed (a) never loses
    // meaningful recall vs the flat all-entries argmin scan and (b)
    // cuts total distance evaluations
    val sess = spark
    import sess.implicits._
    val nb = 2000
    var worstDelta = 0.0d
    for (dim <- Seq(16, 64, 256); nEntries <- Seq(144, 1024)) {
      val rnd = new scala.util.Random(dim * 7919L + nEntries)
      val bdf = (0 until nb).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextFloat()))).toDF("id", "vec")
      val qs = (0 until 8).map(i =>
        ((100000 + i).toLong, Array.fill(dim)(rnd.nextFloat())))
      val qdf = qs.toDF("qid", "qvec")
      val stride = nb / nEntries
      val edf = bdf.filter(col("id") % stride === 0).select(col("id").as("nid"))
      val g = BruteForce
        .knnFused(bdf.select(col("id").as("qid"), col("vec").as("qvec")),
          bdf, 8, Metric.L2, roundDist = Some(4), excludeSelf = true)
        .select(col("qid").as("src"), col("nid").as("dst"))
      // two independent searchers over the same shard: flat seeding vs
      // coarse (bucketed) seeding
      val flat = Serve.load(g, bdf, edf, Metric.L2)
      val coarse = Serve.load(g, bdf, edf, Metric.L2).enableCoarseEntries()
      val truth = BruteForce.knn(qdf, bdf, 10, Metric.L2, roundDist = Some(4))
        .select("qid", "nid").collect()
        .groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSet }
      var fHits = 0; var cHits = 0; var fNdis = 0L; var cNdis = 0L
      qs.foreach { case (qid, qv) =>
        val f = flat.search(qv, 10, ef = 64).map(_._1).toSet
        fNdis += flat.lastStats.ndis
        val c = coarse.search(qv, 10, ef = 64).map(_._1).toSet
        cNdis += coarse.lastStats.ndis
        fHits += f.intersect(truth(qid)).size
        cHits += c.intersect(truth(qid)).size
      }
      val (fR, cR) = (fHits / 80.0, cHits / 80.0)
      worstDelta = math.min(worstDelta, cR - fR)
      info(f"dim=$dim%3d E=$nEntries%4d: flat recall $fR%.3f ndis $fNdis; " +
        f"coarse recall $cR%.3f ndis $cNdis (${fNdis.toDouble / cNdis}%.2fx fewer)")
      assert(cNdis < fNdis,
        s"dim=$dim E=$nEntries: coarse did not cut evaluations ($cNdis >= $fNdis)")
      assert(cR >= fR - 0.05,
        f"dim=$dim E=$nEntries: coarse recall $cR%.3f fell >0.05 under flat $fR%.3f")
    }
    // aggregate parity: across the sweep the coarse seed must track flat
    assert(worstDelta >= -0.05, f"worst recall delta $worstDelta%.3f")
  }

  test("coded graph traversal tiers (SQ8/PQ) walk bit-identically to the decoded-frame searchers") {
    import graft.operators.{ProductQuant, Quantization}
    val g = knnGraph(16)
    // SQ8 codes resident: walk == float searcher over the decoded grid
    val st = Quantization.sq8Train(base)
    val codedS = Serve.loadPackedSq8(g, base, entries, Some(st))
    val gridFrame = base.crossJoin(broadcast(st)).select(col("id"),
      Quantization.sq8Recon(
        Quantization.sq8Code(col("vec"), col("mn"), col("mx")),
        col("mn"), col("mx")).cast("array<float>").as("vec"))
    val gridS = Serve.load(g, gridFrame, entries, Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      assert(codedS.search(qv, 10, ef = 500) == gridS.search(qv, 10, ef = 500),
        s"sq8 exhaustive $qid")
      assert(codedS.search(qv, 10, ef = 32) == gridS.search(qv, 10, ef = 32),
        s"sq8 bounded $qid")
    }
    // the coded tier is NOT raw data: V8 false, V7 refuses (the
    // reference's HNSW_SQ contract — fetch rides the refine tier)
    assert(!codedS.hasRawData)
    intercept[IllegalArgumentException](codedS.getVectorByIds(Seq(0L)))
    // 1 byte/dim codes vs 4 bytes/dim decoded floats
    assert(codedS.residentVectorBytes * 3 < gridS.residentVectorBytes,
      s"${codedS.residentVectorBytes} vs ${gridS.residentVectorBytes}")
    // refined composition: codes traverse, raw rescores — bit-identical
    // to the decoded-frame refined searcher
    val refCoded = Serve.loadRefinedSq8(g, base, entries, Some(st))
    val refFrame = Serve.loadRefined(g, gridFrame, base, entries, Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      assert(refCoded.search(qv, 10, ef = 32) == refFrame.search(qv, 10, ef = 32),
        s"sq8 refined $qid")
    }
    assert(refCoded.hasRawData)
    // coarse entry layer composes with the coded tier
    codedS.enableCoarseEntries()
    val gridS2 = Serve.load(g, gridFrame, entries, Metric.L2).enableCoarseEntries()
    queryVecs.foreach { case (qid, qv) =>
      assert(codedS.search(qv, 10, ef = 500) == gridS2.search(qv, 10, ef = 500),
        s"sq8 coarse $qid")
    }
    // PQ codes resident: walk == float searcher over the recon frame
    val model = ProductQuant.explicitModel(base, m = 8, ksub = 16, step = 25)
    val codedP = Serve.loadPackedPq(g, base, entries, model)
    val reconFrame = base.select(col("id"),
      ProductQuant.reconExpr(
        ProductQuant.encodeExpr(col("vec"), model), model).as("vec"))
    val gridP = Serve.load(g, reconFrame, entries, Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      assert(codedP.search(qv, 10, ef = 500) == gridP.search(qv, 10, ef = 500),
        s"pq exhaustive $qid")
      assert(codedP.search(qv, 10, ef = 32) == gridP.search(qv, 10, ef = 32),
        s"pq bounded $qid")
    }
    assert(codedP.residentVectorBytes * 8 < gridP.residentVectorBytes)
    // PQ refined composition
    val refP = Serve.loadRefinedPq(g, base, entries, model)
    val refPFrame = Serve.loadRefined(g, reconFrame, base, entries, Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      assert(refP.search(qv, 10, ef = 32) == refPFrame.search(qv, 10, ef = 32),
        s"pq refined $qid")
    }
  }

  test("sharded refined router merges per-shard coded-walk rescores; coded shards ride the graph router") {
    import graft.operators.{Quantization, ShardedServe}
    val st = Quantization.sq8Train(base)
    // per-shard graphs over doc shards (ids are global), coded traversal
    def shardOf(sh: Int) = {
      val sb = base.filter(pmod(col("id"), lit(2L)) === sh.toLong)
      val g = BruteForce
        .knnFused(sb.select(col("id").as("qid"), col("vec").as("qvec")),
          sb, 8, Metric.L2, roundDist = Some(4), excludeSelf = true)
        .select(col("qid").as("src"), col("nid").as("dst"))
      // entries must live inside the shard: ids ≡ sh (mod 100) share the
      // shard's parity (shard key is id % 2)
      val es = sb.filter(pmod(col("id"), lit(100L)) === sh.toLong).select(col("id").as("nid"))
      (g, sb, es)
    }
    val frames = (0 until 2).map(shardOf)
    val refShards = frames.map { case (g, sb, es) =>
      Serve.loadRefinedSq8(g, sb, es, Some(st))
    }
    val router = new ShardedServe.ShardedRefinedServing(refShards, Metric.L2)
    assert(router.hasRawData)
    queryVecs.foreach { case (qid, qv) =>
      val merged = router.search(qv, 10, ef = 500, refine = 2)
      // router == mergeTopK of the per-shard refined answers
      assert(merged == ShardedServe.mergeTopK(
        refShards.map(_.search(qv, 10, ef = 500, refine = 2)), 10, ascending = true),
        s"refined router != mergeTopK for $qid")
      assert(merged == merged.sortBy { case (id, d) => (d, id) })
    }
    // V7 across shards returns exact raw through each refine tier
    val want = queryVecs.take(2).map(_._1)
    val exactVecs = base.filter(col("id").isInCollection(want)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    router.getVectorByIds(want).foreach { case (id, v) =>
      assert(v.sameElements(exactVecs(id)))
    }
    // coded LocalGraphSearchers are LocalGraphSearchers: the existing
    // graph router shards them directly, merge == mergeTopK
    val codedShards = frames.map { case (g, sb, es) =>
      Serve.loadPackedSq8(g, sb, es, Some(st))
    }
    val codedRouter = new ShardedServe.ShardedGraphServing(codedShards, Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      assert(codedRouter.search(qv, 10, ef = 500) == ShardedServe.mergeTopK(
        codedShards.map(_.search(qv, 10, ef = 500)), 10, ascending = true),
        s"coded graph router != mergeTopK for $qid")
    }
  }

  test("HnswIndex.servingRefined serves each variant through its own coded tier") {
    import graft.operators.{HnswIndex, HnswVariant, Quantization}
    val g = knnGraph(8)
    val st = Quantization.sq8Train(base)
    val h = new HnswIndex(g, base, entries, Metric.L2,
      efSearch = 32, beamIters = 4, HnswVariant.Sq8(st))
    val viaHandle = h.servingRefined()
    val direct = Serve.loadRefinedSq8(g, base, entries, Some(st)).enableCoarseEntries()
    assert(viaHandle.hasRawData)
    queryVecs.foreach { case (qid, qv) =>
      assert(viaHandle.search(qv, 10, ef = 32) == direct.search(qv, 10, ef = 32),
        s"handle-served $qid differs from the direct coded loader")
    }
    // Exact variant rides the SHARED-tier refined loader (one map for
    // walk + rescore): answers equal the plain walk bit-for-bit (the
    // rescore recomputes identical distances)
    val he = new HnswIndex(g, base, entries, Metric.L2,
      efSearch = 32, beamIters = 4, HnswVariant.Exact)
    val se = he.servingRefined()
    val plain = Serve.load(g, base, entries, Metric.L2).enableCoarseEntries()
    queryVecs.foreach { case (qid, qv) =>
      assert(se.search(qv, 10, ef = 32) == plain.search(qv, 10, ef = 32),
        s"shared-tier refined $qid differs from the plain walk")
    }
    // V7 answers through the shared map
    val want = queryVecs.take(2).map(_._1)
    val exactVecs = base.filter(col("id").isInCollection(want)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    se.getVectorByIds(want).foreach { case (id, v) =>
      assert(v.sameElements(exactVecs(id)))
    }
  }

  test("hybrid RRF serving fuses exact arms bit-identically to the batch pipeline") {
    import graft.operators.{BruteForce, Fusion, IvfIndex, SparseIndexModel, SparseSearch}
    // batch pipeline: exact L2 arm + BM25 arm + integer RRF (the
    // hybrid_rrf_knn query's shape)
    val dense = BruteForce.knn(queries, base, 10, Metric.L2, roundDist = Some(4))
    val docs = Tables.documents(spark, sf0001)
    val bp = SparseSearch.postings(docs, "doc_id", "text")
      .join(SparseSearch.docLengths(docs, "doc_id", "text"), "id")
      .select(col("term"), col("id"), col("tf"), col("dl").cast("long").as("dl"))
    val termStats = bp.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("tf")).as("min_tf"))
    val avgdl = bp.select(col("id"), col("dl")).distinct()
      .agg(avg(col("dl"))).head().getDouble(0)
    val model = new SparseIndexModel(bp, termStats, (docs.count(), avgdl), 1.2, 0.75)
    val qp = SparseSearch
      .postings(docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
      .select(col("id").as("qid"), col("term"), col("tf").as("qtf"))
    val sparse = SparseSearch.searchBM25(qp, model, 10)
    val batch = Fusion.rrf(Seq(dense, sparse), 10)
      .select("qid", "nid", "score", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getLong(2))).toSeq
      }
    // serving arms: full-probe IVF (= exact L2) + BM25 WAND (bit-equal)
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val ivf = Serve.loadIvf(IvfIndex.build(base, cents, Some(4)), cents, Metric.L2)
    val nlist = cents.count().toInt
    val bm = Serve.loadSparseBM25(model)
    val sparseQ = qp.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => (r.getString(1), r.getLong(2))).toSeq }
    queryVecs.foreach { case (qid, qv) =>
      val denseRanked = ivf.search(qv, 10, nprobe = nlist).map(_._1)
      val sparseRanked = bm.search(sparseQ(qid), 10).map(_._1)
      val fused = Serve.hybridRrf(Seq(denseRanked, sparseRanked), 10)
      assert(fused == batch(qid), s"query $qid:\n  serve $fused\n  batch ${batch(qid)}")
    }
  }

  test("DiskANN-shape serving: PQ-reconstructed traversal tier + raw refine keeps the floor") {
    import graft.operators.ProductQuant
    // the reference's cached_beam_search serving split: the walk reads
    // only the in-memory PQ tier, raw vectors rescore the final window
    val pq = ProductQuant.train(spark, base, m = 8, ksub = 16)
    val approx = base.select(col("id"),
      ProductQuant.reconExpr(ProductQuant.encodeExpr(col("vec"), pq), pq)
        .cast("array<float>").as("vec"))
    val refined = Serve.loadRefined(knnGraph(8), approx, base, entries, Metric.L2)
    val exact = exactTopK(10)
    var hits = 0
    queryVecs.foreach { case (qid, qv) =>
      // a coarse PQ tier needs the refine_ratio lever: over-fetch 3×k of
      // a wider beam, exactly the knob the reference exposes for it
      hits += refined.search(qv, 10, ef = 64, refine = 3).map(_._1).toSet
        .intersect(exact(qid).toSet).size
    }
    assert(hits.toDouble / (queryVecs.size * 10) >= 0.6,
      s"PQ-tier serving recall ${hits.toDouble / (queryVecs.size * 10)} below floor")
    // filtered refined serving (the refine loop honors the same bitset
    // the walk does): identity tiers + exhaustive ef ⇒ exact equality
    // with brute force over the allowed set
    val sameTiers = Serve.loadRefined(knnGraph(16), base, base, entries, Metric.L2)
    val allowedExact = BruteForce
      .knn(queries, base.filter(col("id") % 2 === 1), 10, Metric.L2, roundDist = Some(4))
      .select("qid", "nid", "rnk").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    queryVecs.foreach { case (qid, qv) =>
      val got = sameTiers
        .search(qv, 10, ef = 1000, refine = 2, allowed = (id: Long) => id % 2 == 1)
        .map(_._1)
      assert(got == allowedExact(qid), s"filtered refined query $qid: $got")
    }
  }

  test("multi-shard scatter-gather equals the single-index answer across 1/2/8 shards") {
    import graft.operators.{Packing, ShardedServe}
    val exact = exactTopK(10)
    Seq(1, 2, 8).foreach { nShards =>
      // balanced build-time sharding (the deployment Serve's load caps
      // point at), then one loaded searcher per shard
      val assign = Packing
        .shardAssign(
          base.select(col("id").as("doc_id"),
            pmod(col("id") * 31, lit(97L)).as("n_chars")),
          nShards)
        .select(col("doc_id").as("id"), col("shard"))
      val sharded = base.join(assign, "id")
      val searchers = (0 until nShards).map { sh =>
        val shardBase = sharded.filter(col("shard") === sh).select(col("id"), col("vec"))
        val g = BruteForce
          .knnFused(
            shardBase.select(col("id").as("qid"), col("vec").as("qvec")),
            shardBase, 16, Metric.L2, roundDist = Some(4), excludeSelf = true)
          .select(col("qid").as("src"), col("nid").as("dst"))
        Serve.load(g, shardBase, shardBase.select(min(col("id")).as("nid")), Metric.L2)
      }
      val router = new ShardedServe.ShardedGraphServing(searchers, Metric.L2)
      queryVecs.foreach { case (qid, qv) =>
        // ef=500 makes each shard walk exhaustive ⇒ per-shard arms exact ⇒
        // the merge must EQUAL brute force over the union (= the 1-shard
        // searcher, gated by the first test) — for every shard count
        val got = router.search(qv, 10, ef = 500).map(_._1)
        assert(got == exact(qid), s"shards=$nShards query $qid: $got != ${exact(qid)}")
        // the paged iterator over the same exhaustive streams pages the
        // identical ranking
        val it = router.iterator(qv, 10, ef = 500)
        assert(it.nextPage(5).map(_._1) == exact(qid).take(5),
          s"shards=$nShards iterator page 1 for $qid")
        assert(it.nextPage(5).map(_._1) == exact(qid).drop(5),
          s"shards=$nShards iterator page 2 for $qid")
        // and under a bitset: the filter contract passes through the router
        val allowedExact = BruteForce
          .knn(queries.filter(col("qid") === qid), base.filter(col("id") % 2 === 1),
            10, Metric.L2, roundDist = Some(4))
          .select("nid", "rnk").collect().sortBy(_.getInt(1)).map(_.getLong(0)).toSeq
        val gotF = router.search(qv, 10, ef = 500, (id: Long) => id % 2 == 1).map(_._1)
        assert(gotF == allowedExact, s"shards=$nShards filtered query $qid: $gotF")
      }
    }
  }

  test("full lifecycle: factory build, save, load, append, then sharded serving") {
    import graft.operators.{IvfIndex, ShardedServe}
    import graft.IndexFactory
    // 1. factory-build an IVF_FLAT over the FIRST half — the sealed segment
    val half1 = base.filter(col("id") % 2 === 0)
    val half2 = base.filter(col("id") % 2 === 1)
    val built = IndexFactory
      .build(spark, "IVF_FLAT", half1, Metric.L2, nlist = 8, nprobe = 8,
        roundDist = Some(4))
      .asInstanceOf[graft.IvfFlatIndex]
    // 2. serialize + factory deserialize (V9)
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle").toString
    built.save(dir)
    val loaded = IndexFactory.loadIvf(spark, dir, Metric.L2, nprobe = 8, roundDist = Some(4))
    // 3. append the second half — the CC growing segment (V3)
    val grown = loaded.append(half2)
    assert(grown.count == base.count())
    // 4. serve: the appended single index and the two-segment router must
    // both equal exact brute force over the union (nprobe = nlist = 8,
    // the full-probe regime — probed IVF is exact there)
    val exact = exactTopK(10)
    val single = Serve.loadIvf(grown.index, grown.centroids, Metric.L2)
    val router = new ShardedServe.ShardedIvfServing(Seq(
      Serve.loadIvf(loaded.index, loaded.centroids, Metric.L2),
      Serve.loadIvf(IvfIndex.build(half2, loaded.centroids, Some(4)),
        loaded.centroids, Metric.L2)), Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      val one = single.search(qv, 10, nprobe = 8)
      val many = router.search(qv, 10, nprobe = 8)
      assert(one.map(_._1) == exact(qid), s"lifecycle single for $qid: $one")
      assert(many == one, s"lifecycle router for $qid: $many != $one")
    }
  }

  test("growing-segment serving: sealed + appended segments answer through the router") {
    import graft.operators.{IvfIndex, ShardedServe}
    // the deployment the *_CC kinds exist for (ivf.cc:1250-1262): a host
    // keeps appending segments against the FIXED trained centroids while
    // serving — each segment is its own searcher, the router reduces.
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val nlist = cents.count().toInt
    val sealedIdx = IvfIndex.build(base.filter(col("id") % 2 === 0), cents, Some(4))
    // the growing segment: later rows assigned into the SAME fixed lists
    val growIdx = IvfIndex.build(base.filter(col("id") % 2 === 1), cents, Some(4))
    val single = Serve.loadIvf(sealedIdx.unionByName(growIdx), cents, Metric.L2)
    val router = new ShardedServe.ShardedIvfServing(
      Seq(Serve.loadIvf(sealedIdx, cents, Metric.L2),
        Serve.loadIvf(growIdx, cents, Metric.L2)), Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      // shared centroids ⇒ identical probe order per segment ⇒ the union
      // of scanned docs matches the single index at ANY nprobe — merged
      // answers must equal the compacted single-index answers bit-for-bit
      assert(router.search(qv, 10, nlist) == single.search(qv, 10, nlist),
        s"query $qid full-probe")
      assert(router.search(qv, 10, 2) == single.search(qv, 10, 2),
        s"query $qid nprobe=2")
    }
  }

  test("growing-segment serving composes with the coded-IVF and binary routers") {
    import graft.functions.VectorFunctions.signBits
    import graft.operators.{IvfIndex, Quantization, ShardedServe}
    // the r10 arms under the *_CC deployment (ivf.cc:1250-1262): a sealed
    // CODED segment plus an appended segment, both quantized under the
    // collection's ONE trained model (Train-once, ivf.cc:440-654), must
    // answer through the router exactly like the compacted single index.
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val nlist = cents.count().toInt
    val sealedIdx = IvfIndex.build(base.filter(col("id") % 2 === 0), cents, Some(4))
    val growIdx = IvfIndex.build(base.filter(col("id") % 2 === 1), cents, Some(4))
    val union = sealedIdx.unionByName(growIdx)
    // quantizer trained ONCE over the collection — segments never retrain
    val st = Quantization.sq8Train(union.select(col("id"), col("vec")))
    val single = Serve.loadIvfSq8(union, cents, Some(st))
    val router = new ShardedServe.ShardedIvfCodedServing(
      Seq(Serve.loadIvfSq8(sealedIdx, cents, Some(st)),
        Serve.loadIvfSq8(growIdx, cents, Some(st))))
    val n = base.count().toInt
    queryVecs.foreach { case (qid, qv) =>
      // full rerank window ⇒ per-segment reorder pools cover the probed
      // docs ⇒ merged exact distances equal the single index bit-for-bit
      assert(router.search(qv, 10, nlist, n) == single.search(qv, 10, nlist, n),
        s"coded query $qid full-probe")
      assert(router.search(qv, 10, 2, n) == single.search(qv, 10, 2, n),
        s"coded query $qid nprobe=2")
    }
    // binary arm: exact per-segment scans, any k
    val bbin = base.select(col("id"), signBits(col("vec")).as("vec"))
    val qbin = queries.select(col("qid"), signBits(col("qvec")).as("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val singleB = Serve.loadBinary(bbin, Metric.Hamming)
    val routerB = new ShardedServe.ShardedBinaryServing(
      Seq(Serve.loadBinary(bbin.filter(col("id") % 2 === 0), Metric.Hamming),
        Serve.loadBinary(bbin.filter(col("id") % 2 === 1), Metric.Hamming)))
    qbin.foreach { case (qid, q) =>
      assert(routerB.search(q, 10) == singleB.search(q, 10), s"binary query $qid")
      assert(routerB.rangeSearch(q, 30.0, 0.0) == singleB.rangeSearch(q, 30.0, 0.0),
        s"binary range $qid")
    }
  }

  test("sharded iterator pages and range equal the single-index searcher over the union") {
    import graft.operators.{IvfIndex, Packing, ShardedServe}
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val nlist = cents.count().toInt
    // single-index reference: one searcher over the whole base
    val index = IvfIndex.build(base, cents, Some(4))
    val single = Serve.loadIvf(index, cents, Metric.L2)
    val rmAll = new java.util.HashMap[Long, Double]()
    IvfIndex.listRadii(index, cents).collect()
      .foreach(r => rmAll.put(r.getLong(0), r.getDouble(1)))
    // 4 balanced shards, each its own IVF build over the SAME centroids
    // (the host's segments share the collection's coarse quantizer)
    val assign = Packing
      .shardAssign(base.select(col("id").as("doc_id"),
        pmod(col("id") * 31, lit(97L)).as("n_chars")), 4)
      .select(col("doc_id").as("id"), col("shard"))
    val sharded = base.join(assign, "id")
    val parts = (0 until 4).map { sh =>
      val sb = sharded.filter(col("shard") === sh).select(col("id"), col("vec"))
      val idx = IvfIndex.build(sb, cents, Some(4))
      val rm = new java.util.HashMap[Long, Double]()
      IvfIndex.listRadii(idx, cents).collect()
        .foreach(r => rm.put(r.getLong(0), r.getDouble(1)))
      (Serve.loadIvf(idx, cents, Metric.L2), rm)
    }
    val router = new ShardedServe.ShardedIvfServing(parts.map(_._1), Metric.L2)
    queryVecs.foreach { case (qid, qv) =>
      // V6: full-probe streams are exact → merged pages == single-index
      // iterator pages, including reset
      val one = new Serve.ServingIterator(single.search(qv, 15, nprobe = nlist))
      val many = router.iterator(qv, 15, nprobe = nlist)
      (1 to 3).foreach { p =>
        val (a, b) = (one.nextPage(5), many.nextPage(5))
        assert(a == b, s"query $qid page $p: sharded $b != single $a")
      }
      many.reset(); one.reset()
      assert(many.nextPage(5) == one.nextPage(5), "reset did not rewind")
      // V5: union of per-shard shells == single-index range, same order
      val rs = single.rangeSearch(qv, radius = 0.9, rangeFilter = 0.0, rmAll)
      val rm = router.rangeSearch(qv, radius = 0.9, rangeFilter = 0.0, parts.map(_._2))
      assert(rm == rs, s"query $qid range: sharded $rm != single $rs")
      // the bitset threads through the sharded range the same way
      val rmF = router.rangeSearch(qv, 0.9, 0.0, parts.map(_._2),
        allowed = (id: Long) => id % 2 == 1)
      assert(rmF == rs.filter(_._1 % 2 == 1), s"query $qid filtered sharded range: $rmF")
    }
    // the router asserts its shared-coarse-quantizer precondition: shards
    // with PRIVATE quantizers (different centroid sets) must be rejected —
    // partial-nprobe merges would silently drop true neighbors there
    val otherCents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val mismatched = Serve.loadIvf(IvfIndex.build(base, otherCents, Some(4)),
      otherCents, Metric.L2)
    assertThrows[IllegalArgumentException](
      new ShardedServe.ShardedIvfServing(Seq(parts.head._1, mismatched), Metric.L2))
  }

  test("serving-side GetVectorByIds/HasRawData equal the batch verbs (V7/V8)") {
    import graft.operators.{Capabilities, IvfIndex, Packing, ShardedServe, SparseSearch}
    import spark.implicits._
    val want = Seq(100L, 301L, 200L, 999999L) // 999999 absent → skipped
    // batch truth: GetVectorByIds = left-semi on the id list
    val batchVecs = BruteForce
      .getVectorByIds(want.toDF("id"), base)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expect = want.flatMap(id => batchVecs.get(id).map(id -> _))
    def sameVecs(got: Seq[(Long, Array[Float])]): Boolean =
      got.map(_._1) == expect.map(_._1) &&
        got.zip(expect).forall { case ((_, a), (_, b)) => a.sameElements(b) }
    // graph shard: raw tier → V8 true, V7 equals the batch fetch
    val g = knnGraph(8)
    val graphS = Serve.load(g, base, entries, Metric.L2)
    assert(graphS.hasRawData == Capabilities.hasRawData("HNSW"))
    assert(sameVecs(graphS.getVectorByIds(want)))
    // refined shard: quantized traversal tier answers V8 FALSE and
    // refuses V7; the refined searcher fetches from its raw tier
    val refined = Serve.loadRefined(g, base, base, entries, Metric.L2)
    assert(refined.hasRawData)
    assert(sameVecs(refined.getVectorByIds(want)))
    val quantTier = Serve.load(g, base, entries, Metric.L2, hasRaw = false)
    assert(!quantTier.hasRawData)
    assertThrows[IllegalArgumentException](quantTier.getVectorByIds(want))
    // IVF shard (IVF_FLAT shape): V8 true, V7 equals the batch fetch
    val cents = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 250 === 0)
      .select(col("vec_id").as("cluster_id"), col("embedding").as("centroid"))
    val ivfS = Serve.loadIvf(IvfIndex.build(base, cents, Some(4)), cents, Metric.L2)
    assert(ivfS.hasRawData == Capabilities.hasRawData("IVF_FLAT"))
    assert(sameVecs(ivfS.getVectorByIds(want)))
    // sharded router: scatter the fetch, union preserves request order
    val assign = Packing
      .shardAssign(base.select(col("id").as("doc_id"),
        pmod(col("id") * 31, lit(97L)).as("n_chars")), 4)
      .select(col("doc_id").as("id"), col("shard"))
    val sharded = base.join(assign, "id")
    val router = new ShardedServe.ShardedGraphServing(
      (0 until 4).map { sh =>
        val sb = sharded.filter(col("shard") === sh).select(col("id"), col("vec"))
        Serve.load(
          BruteForce.knnFused(
            sb.select(col("id").as("qid"), col("vec").as("qvec")),
            sb, 8, Metric.L2, roundDist = Some(4), excludeSelf = true)
            .select(col("qid").as("src"), col("nid").as("dst")),
          sb, sb.select(min(col("id")).as("nid")), Metric.L2)
      }, Metric.L2)
    assert(router.hasRawData)
    assert(sameVecs(router.getVectorByIds(want)))
    // the IVF router answers the same verbs over per-shard IVF builds
    val ivfRouter = new ShardedServe.ShardedIvfServing(
      (0 until 4).map { sh =>
        val sb = sharded.filter(col("shard") === sh).select(col("id"), col("vec"))
        Serve.loadIvf(IvfIndex.build(sb, cents, Some(4)), cents, Metric.L2)
      }, Metric.L2)
    assert(ivfRouter.hasRawData)
    assert(sameVecs(ivfRouter.getVectorByIds(want)))
    // sparse IP shard: raw rows retained (metric-dependent V8 —
    // sparse_index_node.cc:541-543), fetch equals the batch postings
    val docs = Tables.documents(spark, sf0001)
    val bp = SparseSearch.postings(docs, "doc_id", "text")
    val sparseS = Serve.loadSparse(bp.select(col("term"), col("id"), col("tf")))
    assert(sparseS.hasRawData ==
      Capabilities.hasRawData("SPARSE_INVERTED_INDEX", "IP"))
    val sparseWant = Seq(3L, 7L, 999999L)
    val batchRows = bp.filter(col("id").isin(sparseWant: _*))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
    val gotSparse = sparseS.getVectorByIds(sparseWant)
    assert(gotSparse.map(_._1) == sparseWant.filter(batchRows.contains))
    gotSparse.foreach { case (id, rows) => assert(rows == batchRows(id)) }
    // BM25 shard stores transformed weights → V8 false, like the reference
    val bpd = bp.join(SparseSearch.docLengths(docs, "doc_id", "text"), "id")
      .select(col("term"), col("id"), col("tf"), col("dl").cast("long").as("dl"))
    val ts = bpd.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("tf")).as("min_tf"))
    val avgdl = bpd.select(col("id"), col("dl")).distinct()
      .agg(avg(col("dl"))).head().getDouble(0)
    val bm = Serve.loadSparseBM25(
      new graft.operators.SparseIndexModel(bpd, ts, (docs.count(), avgdl), 1.2, 0.75))
    assert(bm.hasRawData ==
      Capabilities.hasRawData("SPARSE_WAND", "BM25"))
  }

  test("serving agrees with the batch beam on the same graph and seeds") {
    // same graph, same entries, ef with full convergence: the sequential
    // walk and the relational fixpoint must land on the same top-k set
    val g = knnGraph(16)
    val searcher = Serve.load(g, base, entries, Metric.L2)
    val batch = GraphSearch
      .beamSearchConverged(g, base, queries, entries, k = 10, ef = 500,
        maxIters = 20, Metric.L2, Some(4))
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    queryVecs.foreach { case (qid, qv) =>
      val got = searcher.search(qv, 10, ef = 500).map(_._1).toSet
      assert(got == batch(qid), s"query $qid: serve $got != batch ${batch(qid)}")
    }
  }

  test("shard loads enforce their row cap while streaming") {
    import spark.implicits._
    val df = (1L to 5L).map(i => (i, i * 10)).toDF("id", "v")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    Serve.streamRows(df, cap = 5)(r => got += r.getLong(0))
    assert(got.sorted == (1L to 5L))
    assertThrows[IllegalArgumentException](Serve.streamRows(df, cap = 4)(_ => ()))
    // a grouped row weighs its list length: 5 rows in 2 groups count 5
    val grouped = df.groupBy(col("id") % 2).agg(collect_list(col("v")))
    def listLen(r: org.apache.spark.sql.Row) = r.getSeq[Long](1).size
    Serve.streamRows(grouped, cap = 5, listLen)(_ => ())
    assertThrows[IllegalArgumentException](Serve.streamRows(grouped, cap = 4, listLen)(_ => ()))
  }
}
