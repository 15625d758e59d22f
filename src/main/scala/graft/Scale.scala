package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Scale stress: synthesize nb random vectors (seeded, distributed
  * generation — no driver-side data), then time exact kNN vs IVF probing.
  * Usage: runMain graft.Scale [nb] [nq] [dim] [nlist] [nprobe]
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val nb = if (args.length > 0) args(0).toInt else 200000
    val nq = if (args.length > 1) args(1).toInt else 100
    val dim = if (args.length > 2) args(2).toInt else 64
    val nlist = if (args.length > 3) args(3).toInt else 64
    val nprobe = if (args.length > 4) args(4).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SessionTuning.install(spark)

    // deterministic per-row vectors, CLUSTERED: 1000 latent centers plus
    // small noise — uniform random data is the known ANN worst case
    // (nothing is near anything; IVF/PQ/graph recall is meaningless
    // there); real embeddings are clustered, and the probe's recall
    // numbers should reflect algorithm quality, not data pathology
    def gen(n: Int, idCol: String, vecCol: String): DataFrame = {
      def u(seedCol: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
        (pmod(xxhash64(seedCol * 1000 + i), lit(2000)).cast("double") - 1000d) / 1000d
      spark.range(n.toLong).toDF(idCol)
        .withColumn("_c", pmod(xxhash64(col(idCol)), lit(1000)))
        .withColumn(vecCol, transform(sequence(lit(1), lit(dim)),
          i => (u(col("_c") + 7777777L, i) + u(col(idCol), i) * 0.15d).cast("float")))
        .drop("_c")
    }

    val base = gen(nb, "id", "vec").persist()
    val queries = gen(nq, "qid", "qvec")
    println(s"base=${base.count()} rows, dim=$dim")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // shared batch-result collector for the serving equality assertions:
    // per-qid (nid, dist) lists under the (dist, id) tie contract
    def collectKnn(df: DataFrame): Map[Long, Seq[(Long, Double)]] = df
      .select("qid", "nid", "dist").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
      }

    // ONE trained SQ8 quantizer for every arm that needs it (hnsw_sq,
    // the coded graph tier, the quantized IVF serving block) — the
    // Train-once contract; retraining per block re-ran the corpus-wide
    // min/max aggregation three times
    val sqStats = Quantization.sq8Train(base).persist()
    sqStats.count()

    time("bf_knn k=10")(BruteForce.knn(queries, base, 10, Metric.L2).count())
    val cents = time("ivf train")(IvfIndex.trainKMeans(spark, base.sample(0.1, 42), nlist))
    val index = time("ivf build (assign)")(IvfIndex.build(base, cents).persist())
    index.count()
    time(s"ivf search nprobe=$nprobe")(
      IvfIndex.search(queries, index, cents, 10, nprobe).count())
    val truth = BruteForce.knn(queries, base, 10, Metric.L2)
    val got = IvfIndex.search(queries, index, cents, 10, nprobe)
    val t = truth.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = got.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"ivf recall@10: ${g.intersect(t).size.toDouble / t.size}%.3f")

    // the deployment shape: index saved partitionBy(cluster_id), search
    // over the LOADED index — probed list ids reach the file scan as
    // partition pruning, so wall time tracks nprobe/nlist, not nb
    val dir = graft.queries.StreamStage.dir("graft-scale-ivf").toString
    time("ivf save (partitioned parquet)") {
      index.write.mode("overwrite").partitionBy("cluster_id").parquet(s"$dir/lists")
    }
    val loaded = spark.read.parquet(s"$dir/lists")
    time(s"ivf search on parquet, nprobe=$nprobe (partition-pruned)")(
      IvfIndex.search(queries, loaded, cents, 10, nprobe).count())
    time(s"ivf search on parquet, nprobe=$nlist (full scan)")(
      IvfIndex.search(queries, loaded, cents, 10, nlist).count())

    // ---- sparse: Zipfian corpus where MaxScore pruning ENGAGES ----
    // (the harness corpus has a 31-term vocabulary, which always takes the
    // score-all fallback; real corpora are Zipfian and the essential-list
    // candidate branch is the path that runs there)
    val vocab = 20000
    val perDoc = 40
    def sparseGen(n: Int, rows: Int, salt: Int): DataFrame =
      spark.range(n.toLong).toDF("id")
        .select(col("id"), explode(sequence(lit(1), lit(rows))).as("j"))
        .select(col("id"),
          // u^3 density → Zipf-ish head: term 0 is the most frequent
          floor(pow(pmod(xxhash64(col("id") * 7919 + col("j") * 31 + salt), lit(1000000))
            .cast("double") / 1000000.0d, 3.0d) * vocab).cast("long").as("term"),
          (pmod(xxhash64(col("id") + col("j") * 7 + salt), lit(5)) + 1L).as("tf"))
        .groupBy(col("id"), col("term")).agg(sum(col("tf")).as("tf"))
    val bp = sparseGen(nb, perDoc, 0)
      .select(col("term"), col("id"), col("tf"), lit(perDoc).cast("long").as("dl"))
      .persist()
    println(s"sparse postings=${bp.count()} vocab≈$vocab")
    // idf-style query weighting (rare terms matter more — the realistic
    // IR shape): head terms get weight 1, tail terms up to 10; this is
    // what makes the essential-list split discriminate
    val qp = sparseGen(50, 30, 99)
      .select(col("id").as("qid"), col("term"),
        (lit(1L) + col("term") * 9L / vocab.toLong).as("qtf"))
    val termStats = bp.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("tf")).as("min_tf"))
      .persist()
    termStats.count()
    val model = new graft.operators.SparseIndexModel(bp, termStats, (nb.toLong, perDoc.toDouble), 1.2, 0.75)
    val nRows = time("sparse naive searchIP")(
      graft.operators.SparseSearch
        .searchIP(qp, bp.select(col("term"), col("id"), col("tf")), 10).collect())
    val pRows = time("sparse MaxScore (stats-pruned)")(
      graft.operators.SparseSearch.searchIPMaxScore(qp, model, 10).collect())
    time("sparse MaxScore (candidate branch forced)")(
      graft.operators.SparseSearch.searchIPMaxScore(qp, model, 10, fallbackRatio = 2.0).count())
    val same = nRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      pRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    println(s"sparse pruned == naive: $same")
    bp.unpersist(); termStats.unpersist()

    // ---- graph: IVF-bucketed build (no all-pairs) + DiskANN search ----
    // the exact kNN-graph build is O(nb²) pairs — at this nb that is
    // nb²·dim ≈ 2.5e12 mults, deliberately NOT run. The bucketed build
    // pays nb·nlist (assignment) + nb·nprobe·(nb/nlist) (local joins);
    // the sum is minimized at nlist ≈ √(nprobe·nb) — probes with
    // nlist=64 (3125-vector lists, 160 s) and nlist=nb/100 (assignment-
    // dominated, 126 s) were both the same operator mis-sized.
    // nlist sizing has TWO constraints: build cost is minimized at
    // √(nprobe·nb), but beam recall needs every natural cluster to own an
    // entry, i.e. nlist ≳ the corpus's cluster count (632 lists over the
    // 1000 latent clusters here capped recall at 0.398 regardless of PQ
    // resolution) — take the max of both
    val gNlist = math.max(math.sqrt(2.0 * nb).toInt, 2000)
    val gStep = math.max(1L, nb.toLong / gNlist)
    val gCents = base.filter(col("id") % gStep === 0)
      .select((col("id") / gStep).cast("long").as("cluster_id"), col("vec").as("centroid"))
    val graph = time(s"graph build IVF-bucketed (degree 5, nprobe 2, nlist=$gNlist)") {
      val g = GraphSearch.knnGraphIvf(base, gCents, degree = 5, nprobe = 2).persist()
      g.count()
      g
    }
    // ADC quality is load-bearing at scale: arbitrary explicit codewords
    // gave recall 0.017 here — the trained quantizer is what makes the
    // beam walk toward the right neighborhood
    val pq = time("pq train (kmeans per subspace)")(
      graft.operators.ProductQuant.train(spark, base, m = 8, ksub = 16))
    // one entry PER LIST (the centroid rows are base vectors here, i.e.
    // list medoids): on clustered data the kNN graph is near-disconnected
    // across clusters, so sparse entries cap recall at (entries hit)/
    // (clusters) — 64 entries measured 0.042; per-list entries make every
    // component reachable, which is exactly why the factory arm seeds
    // from per-cluster medoids
    val entries = base.select(col("id").as("nid")).filter(col("nid") % gStep === 0)
    val diskann = new graft.operators.DiskAnnIndex(
      graph, base.select(col("id"), graft.operators.ProductQuant.encodeExpr(col("vec"), pq).as("codes")),
      base, entries, pq, searchListSize = 64, beamIters = 4)
    time("diskann search (PQ beam + visited-set rerank)")(
      diskann.search(queries, 10, None).count())
    val truthIds = truth.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val daIds = diskann.search(queries, 10, None)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"diskann recall@10: ${daIds.intersect(truthIds).size.toDouble / truthIds.size}%.3f")

    // ---- HNSW handle on the same bucketed graph: exact beam vs SQ8
    // quantized traversal + refine (the memory-constrained config — the
    // beam scans a 4× smaller reconstructed tier, raw read only for the
    // final nq×ef rerank) ----
    def recallOf(df: DataFrame): Double = {
      val ids = df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ids.intersect(truthIds).size.toDouble / truthIds.size
    }
    val hnsw = new HnswIndex(graph, base, entries, Metric.L2,
      efSearch = 64, beamIters = 4, HnswVariant.Exact)
    time("hnsw exact beam (ef=64, 4 hops)")(hnsw.search(queries, 10, None).count())
    println(f"hnsw recall@10: ${recallOf(hnsw.search(queries, 10, None))}%.3f")
    val hnswSq = new HnswIndex(graph, base, entries, Metric.L2,
      efSearch = 64, beamIters = 4, HnswVariant.Sq8(sqStats))
    time("hnsw_sq quantized beam + exact refine")(hnswSq.search(queries, 10, None).count())
    println(f"hnsw_sq recall@10: ${recallOf(hnswSq.search(queries, 10, None))}%.3f")

    // ---- DiskANN SERVING arm at corpus scale: PQ codes + graph resident
    // (the pq_code_budget_gb tier), raw vectors PAGED per query from the
    // 4 KiB page store — the SSD fetch analog. Equality vs the batch
    // beam asserted in-run; ndis / visited / raw-fetch counters are the
    // memory-vs-disk traffic observables ----
    locally {
      val serving = time("serve load (diskann: codes+graph+entries resident, 4 KiB page-store raw)")(
        Serve.loadDiskAnn(diskann))
      val tier = serving.rawTier.asInstanceOf[Serve.PagedRawTier]
      val q16 = queries.limit(16)
      val qv16 = q16.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val batch = collectKnn(diskann.search(q16, 10, None))
      qv16.foreach { case (_, v) => serving.search(v, 10) } // warm-up
      val t0 = System.nanoTime()
      var ndis = 0L; var visited = 0L; var fetched = 0L
      var sectors = 0L; var ioBytes = 0L
      qv16.foreach { case (_, v) =>
        serving.search(v, 10)
        ndis += serving.lastNdis; visited += serving.lastVisited
        fetched += serving.lastRawFetched
        sectors += tier.lastSectorsRead; ioBytes += tier.lastBytesRead
      }
      val perQueryMs = (System.nanoTime() - t0) / 1e6 / qv16.length
      qv16.foreach { case (qid, v) =>
        require(serving.search(v, 10) == batch(qid),
          s"diskann serving != batch beam for query $qid at corpus scale")
      }
      println(f"diskann serve per-query latency: $perQueryMs%.2f ms " +
        f"(ADC ndis ${ndis / qv16.length}, visited ${visited / qv16.length} of $nb, " +
        f"raw fetched ${fetched / qv16.length}/query — the SSD reads: " +
        f"${sectors / qv16.length} 4 KiB pages / ${(ioBytes / qv16.length) >> 10} KiB of " +
        f"${tier.totalSectors} pages / ${tier.totalBytes >> 20} MiB total; " +
        f"resident RAM tier ${serving.residentBytes >> 20} MiB vs " +
        f"fp32 ${(nb.toLong * (8L + 4L * dim)) >> 20} MiB; batch equality asserted)")
      // WARM-NODE CACHE (search_cache_budget_gb analog, diskann.cc:714-726):
      // entry-BFS raw vectors pinned in RAM — identical answers (asserted),
      // paged reads cut by the cache hit fraction
      val warm = time("serve load (diskann + warm-node cache)")(
        Serve.loadDiskAnn(diskann, cacheNodes = nb / 10))
      val wTier = warm.rawTier.asInstanceOf[Serve.PagedRawTier]
      qv16.foreach { case (_, v) => warm.search(v, 10) } // warm-up
      val t1 = System.nanoTime()
      var wFetched = 0L; var wHits = 0L; var wSectors = 0L
      qv16.foreach { case (_, v) =>
        warm.search(v, 10)
        wFetched += warm.lastRawFetched; wHits += warm.lastCacheHits
        wSectors += wTier.lastSectorsRead
      }
      val warmMs = (System.nanoTime() - t1) / 1e6 / qv16.length
      qv16.foreach { case (qid, v) =>
        require(warm.search(v, 10) == batch(qid),
          s"diskann warm-cache serving != batch beam for query $qid")
      }
      println(f"diskann serve (warm cache ${warm.warmCachedNodes} nodes, " +
        f"${warm.residentCacheBytes >> 20} MiB) per-query latency: $warmMs%.2f ms " +
        f"(cache hits ${wHits / qv16.length}/query, paged ${wFetched / qv16.length}/query " +
        f"in ${wSectors / qv16.length} 4 KiB pages — vs ${fetched / qv16.length} uncached; " +
        f"batch equality asserted)")
    }
    graph.unpersist()

    // ---- embedding near-dup: LSH bucketing (no all-pairs verify) ----
    // band width must scale with log2(nb): expected candidate pairs per
    // band ≈ nb²/2^rowsPerBand, so 8-bit keys that are right for 5k docs
    // produce ~300M pairs at 200k (measured 283 s); 16-bit keys keep the
    // verify set ~1M — same operator, corpus-sized keys
    val proj = base.filter(col("id") < 32)
      .select(col("id").cast("int").as("pid"), col("vec").as("pvec"))
    val embTbl = base.select(col("id").as("vec_id"), col("vec").as("embedding"))
    val nPairs = time("cosine LSH near-dup pairs (32 proj, 2 bands x 16 bits)")(
      graft.operators.Dedup.cosineLshPairs(embTbl, proj, threshold = 0.8,
        bands = 2, rowsPerBand = 16).count())
    println(s"lsh candidate-verified pairs: $nPairs")

    // ---- iterator-backed range search with early termination ----
    // tight radius: each query's frontier dies after a handful of best-
    // first pages instead of ranking all nq×nb rows — the page count is
    // the scale win (the stream is persisted once either way)
    val fewQ = queries.limit(8)
    val nEarly = time("range early-stop (radius=1.0, page=4096)")(
      AnnIteratorOp.rangeSearchEarlyStop(fewQ, base, Metric.L2,
        radius = 1.0, rangeFilter = 0.0, pageSize = 4096).count())
    println(s"range early-stop: rows=$nEarly pages=${AnnIteratorOp.lastPagesTouched}" +
      s" of ${math.ceil(nb / 4096.0).toInt}")

    // ---- lossless ball-pruned IVF range: clustered data gives the
    // triangle inequality teeth — count the (query, list) cells that
    // survive vs the dense grid, and the wall-time delta vs the
    // nprobe=nlist full scan at the same radius
    locally {
      val radii = IvfIndex.listRadii(index, cents)
      val nPruned = time("ivf range PRUNED (radius=1.0)")(
        IvfIndex.rangeSearchPruned(fewQ, index, cents, radii,
          radius = 1.0, rangeFilter = 0.0).count())
      val nFull = time(s"ivf range full (nprobe=$nlist, radius=1.0)")(
        IvfIndex.rangeSearch(fewQ, index, cents, nlist, Metric.L2,
          radius = 1.0, rangeFilter = 0.0).count())
      val cells = fewQ
        .crossJoin(broadcast(cents.join(radii, "cluster_id")))
        .filter(Metric.L2.dist(col("qvec"), col("centroid")) - col("r") <= 1.0 &&
          Metric.L2.dist(col("qvec"), col("centroid")) + col("r") >= 0.0)
        .count()
      println(s"ball prune: $cells of ${fewQ.count() * nlist} cells survive; " +
        s"rows pruned=$nPruned full=$nFull (must match)")
    }

    // ---- TRUE packed fp16 storage: half the bytes in the scan ----
    import graft.functions.VectorFunctions.packFp16
    val packedBase = base.select(col("id"), packFp16(col("vec")).as("vec")).persist()
    packedBase.count()
    val packedQ = queries.select(col("qid"), packFp16(col("qvec")).as("qvec"))
    time("bf_knn packed fp16 k=10 (decode-inline kernel)")(
      BruteForce.knnPacked(packedQ, packedBase, 10, Metric.L2, bf16 = false).count())
    packedBase.unpersist()

    // ---- SemDeDup: cluster count is the pair-join budget knob ----
    // Σ|cluster|² drives the cost: with c uniform clusters the pair set is
    // ≈ nb²/c, so the centroid count must grow with the corpus. Measure
    // the same operator under a deliberately-too-coarse clustering and a
    // √-scaled one to pin the sizing rule (mirrors the LSH band-width
    // probe above).
    val semCents = cents.select(col("cluster_id"), col("centroid"))
    val nSem = time(s"semanticDedup (nlist=$nlist kmeans centroids)")(
      graft.operators.Dedup.semanticDedup(embTbl, semCents, threshold = 0.9)
        .filter(!col("keep")).count())
    println(s"semantic dedup removed (nlist=$nlist): $nSem")
    val fineCents = IvfIndex.trainKMeans(spark, base.sample(0.05, 43),
      math.max(nlist, math.sqrt(nb.toDouble).toInt))
    val nSemF = time(s"semanticDedup (~sqrt(nb) centroids)")(
      graft.operators.Dedup.semanticDedup(embTbl,
        fineCents.select(col("cluster_id"), col("centroid")), threshold = 0.9)
        .filter(!col("keep")).count())
    println(s"semantic dedup removed (sqrt sizing): $nSemF")

    // ---- multi-probe LSH: recall from probes instead of bands ----
    // at corpus-sized keys (16 bits) each probe adds 16 key rows per
    // (vec, band) — keys only, never payloads; compare candidate volume
    // and verified pairs vs the single-probe run above (same bands)
    val nPairsMp = time("cosine LSH multi-probe (2 bands x 16 bits, 16 probe bits)")(
      graft.operators.Dedup.cosineLshPairs(embTbl, proj, threshold = 0.8,
        bands = 2, rowsPerBand = 16, probeBits = 16).count())
    println(s"multi-probe verified pairs: $nPairsMp (single-probe: $nPairs)")

    // ---- two-phase global shuffle rank: no single-reducer sort ----
    // rank 200k synthetic docs (vec ids as text) through the bucketed
    // path; the probe is the wall time of B concurrent per-bucket sorts
    // vs the corpus-wide window the naive formulation would run
    val fakeDocs = base.select(col("id").as("doc_id"),
      concat_ws(" ", col("id").cast("string"), col("id").cast("string")).as("text"))
    val nRanked = time("shuffleRank (64 range buckets, 200k rows)")(
      graft.operators.Sampling.shuffleRank(fakeDocs).count())
    println(s"shuffle-ranked rows: $nRanked")

    // ---- winnowing at corpus size: the df-cap is the quadratic guard ----
    // 200k synthetic 40-token docs over a small word pool (dense shingle
    // collisions — the adversarial case for fingerprint blocking); the
    // probe records pair volume and wall with the default df cap, which
    // bounds every fingerprint block at maxDf docs
    val wDocs = spark.range(nb.toLong).toDF("doc_id")
      .withColumn("text", concat_ws(" ", (1 to 40).map(j =>
        concat(lit("w"), pmod(xxhash64(col("doc_id") * 37 + j), lit(500)))): _*))
    val nWin = time("winnowingPairs (200k docs, df cap 50)")(
      graft.operators.Dedup.winnowingPairs(wDocs).count())
    println(s"winnowing candidate pairs: $nWin")

    // ---- integer-grid k-means at corpus size: each Lloyd round is one
    // broadcast-assignment scan (codegen'd VecL2SqLong) + one (cluster,
    // dim)-keyed long shuffle — train cost tracks iters × scan, and the
    // probed search shape matches the float IVF family ----
    locally {
      val gcents = time(s"gridKMeans train (stride=${nb / nlist}, 2 iters)")(
        GridKMeans.train(base, stride = math.max(1L, nb.toLong / nlist), iters = 2))
      println(s"grid centroids: ${gcents.length}")
      val nGrid = time(s"gridKMeans search nprobe=$nprobe")(
        GridKMeans.search(queries, base, gcents, 10, nprobe).count())
      println(s"grid search rows: $nGrid")
    }

    // ---- per-query serving walk: load the bucketed graph shard once,
    // then measure SINGLE-QUERY latency (the ef-early-exit best-first
    // walk) — the number the batch beam cannot express. ndis ≪ nb is the
    // early-exit evidence at scale ----
    // single-walk recall@10, exported so the sharded-router block below
    // can assert its merged recall does not regress the single walk
    var singleGraphRecall = Double.NaN
    locally {
      val searcher = time("serve load (graph+vecs shard, partition-streamed)")(
        Serve.load(graph, base, entries, Metric.L2))
      val qv = queries.limit(16).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val truthSet = truth.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // untimed warm-up pass: the first tight-loop execution of the walk
      // JIT-compiles mid-measurement (a cold first loop read 18× slow with
      // identical ndis) — latency claims are steady-state
      qv.foreach { case (_, v) => searcher.search(v, 10, ef = 64) }
      val t0 = System.nanoTime()
      var ndisTot = 0L
      var flatHits = 0
      qv.foreach { case (qid, v) =>
        val got = searcher.search(v, 10, ef = 64)
        ndisTot += searcher.lastStats.ndis
        flatHits += got.map(_._1).count(id => truthSet.contains((qid, id)))
      }
      val perQueryMs = (System.nanoTime() - t0) / 1e6 / qv.length
      singleGraphRecall = flatHits.toDouble / (qv.length * 10)
      println(f"serve per-query latency: $perQueryMs%.2f ms, " +
        f"mean ndis ${ndisTot / qv.length} of $nb (early exit), " +
        f"recall@10 $singleGraphRecall%.3f")
      // coarse entry layer: replace the per-query all-entries seeding scan
      // (|entries| evaluations) with the √E anchor scan + nearest-bucket
      // probes — ndis/latency delta at held recall is the claim
      val tBuild = System.nanoTime()
      searcher.enableCoarseEntries()
      val buildMs = (System.nanoTime() - tBuild) / 1e6
      qv.foreach { case (_, v) => searcher.search(v, 10, ef = 64) }
      val t1 = System.nanoTime()
      var ndisTot2 = 0L
      var coarseHits = 0
      qv.foreach { case (qid, v) =>
        val got = searcher.search(v, 10, ef = 64)
        ndisTot2 += searcher.lastStats.ndis
        coarseHits += got.map(_._1).count(id => truthSet.contains((qid, id)))
      }
      val coarseMs = (System.nanoTime() - t1) / 1e6 / qv.length
      println(f"serve per-query latency (coarse entries): $coarseMs%.2f ms, " +
        f"mean ndis ${ndisTot2 / qv.length} (flat: ${ndisTot / qv.length}), " +
        f"recall@10 ${coarseHits.toDouble / (qv.length * 10)}%.3f " +
        f"(layer build ${buildMs}%.0f ms once)")
      // packed fp16 tier: the same walk over 2-byte-packed vectors
      // (resident shard bytes HALVED — double the corpus per serving
      // node under the same cap), decode-inline per evaluation;
      // bit-equality vs the decoded-grid float searcher asserted on
      // every query (both sides narrowed to the half grid)
      import graft.functions.VectorFunctions.{packFp16, unpackFp16}
      val packedS = time("serve load (packed fp16 shard)")(Serve.loadPacked(
        graph, base.select(col("id"), packFp16(col("vec")).as("vec")),
        entries, Metric.L2))
      val gridS = Serve.load(
        graph,
        base.select(col("id"), unpackFp16(packFp16(col("vec"))).as("vec")),
        entries, Metric.L2)
      val qGrid = qv.map { case (qid, v) =>
        (qid, v.map(f => graft.plans.Half.halfToFloat(graft.plans.Half.floatToHalf(f))))
      }
      qGrid.foreach { case (_, v) => packedS.search(v, 10, ef = 64) } // warm-up
      val t3 = System.nanoTime()
      qGrid.foreach { case (_, v) => packedS.search(v, 10, ef = 64) }
      val packedMs = (System.nanoTime() - t3) / 1e6 / qGrid.length
      qGrid.foreach { case (_, v) =>
        require(packedS.search(v, 10, ef = 64) == gridS.search(v, 10, ef = 64),
          "packed fp16 walk != decoded-grid walk")
      }
      println(f"packed fp16 serve per-query latency: $packedMs%.2f ms " +
        "(resident vector bytes halved; grid equality asserted)")
      // int8 tier: 1 byte/element — QUARTER the fp32 resident bytes;
      // decode-inline to the int8-dequantized float grid, walk equality
      // vs the decoded-grid float searcher asserted per query
      import graft.functions.VectorFunctions.{packInt8, unpackInt8}
      val i8scale = 100.0d
      val packedI8 = time("serve load (packed int8 shard)")(Serve.loadPackedInt8(
        graph, base.select(col("id"), packInt8(col("vec"), i8scale).as("vec")),
        entries, Metric.L2, i8scale))
      val gridI8 = Serve.load(
        graph,
        base.select(col("id"),
          unpackInt8(packInt8(col("vec"), i8scale), i8scale).cast("array<float>").as("vec")),
        entries, Metric.L2)
      val qGrid8 = qv.map { case (qid, v) =>
        (qid, v.map { f =>
          val q8 = math.max(-128.0, math.min(127.0, math.rint(f.toDouble * i8scale)))
          (q8.toByte.toDouble / i8scale).toFloat
        })
      }
      qGrid8.foreach { case (_, v) => packedI8.search(v, 10, ef = 64) } // warm-up
      val t4 = System.nanoTime()
      qGrid8.foreach { case (_, v) => packedI8.search(v, 10, ef = 64) }
      val packedI8Ms = (System.nanoTime() - t4) / 1e6 / qGrid8.length
      qGrid8.foreach { case (_, v) =>
        require(packedI8.search(v, 10, ef = 64) == gridI8.search(v, 10, ef = 64),
          "packed int8 walk != decoded-grid walk")
      }
      println(f"packed int8 serve per-query latency: $packedI8Ms%.2f ms " +
        "(resident vector bytes quartered; grid equality asserted)")
      // HNSW_SQ serving-memory parity: SQ8 CODES traverse (4x fewer
      // resident traversal bytes), raw refines — per-query walk+refine
      // latency and recall vs exact truth
      val stG = sqStats
      val refSq8 = time("serve load (hnsw_sq coded tier + raw refine)")(
        Serve.loadRefinedSq8(graph, base, entries, Some(stG)))
      qv.foreach { case (_, v) => refSq8.search(v, 10, ef = 64) } // warm-up
      val t5 = System.nanoTime()
      var sqHits = 0
      qv.foreach { case (qid, v) =>
        val got = refSq8.search(v, 10, ef = 64)
        sqHits += got.map(_._1).count(id => truthSet.contains((qid, id)))
      }
      val refSq8Ms = (System.nanoTime() - t5) / 1e6 / qv.length
      println(f"hnsw_sq coded serve per-query latency: $refSq8Ms%.2f ms, " +
        f"recall@10 ${sqHits.toDouble / (qv.length * 10)}%.3f " +
        "(SQ8 codes traverse at 1 byte/dim, raw refine tier rescores)")
    }

    // ---- per-query IVF serving: probed-list scan latency tracks
    // nprobe/nlist, not nb — the observable the batch partition-pruned
    // scan also rides, here without any job-scheduling floor ----
    locally {
      val searcher = time("serve load (IVF shard collect)")(
        Serve.loadIvf(index, cents, Metric.L2))
      val qv = queries.limit(16).collect()
        .map(r => r.getSeq[Float](1).toArray)
      qv.foreach(v => searcher.search(v, 10, nprobe)) // JIT warm-up, untimed
      val t0 = System.nanoTime()
      var candTot = 0L
      qv.foreach { v =>
        searcher.search(v, 10, nprobe)
        candTot += searcher.lastCandidates
      }
      val perQueryMs = (System.nanoTime() - t0) / 1e6 / qv.length
      println(f"ivf serve per-query latency: $perQueryMs%.2f ms, " +
        f"mean candidates ${candTot / qv.length} of $nb (nprobe=$nprobe/$nlist)")
      // ---- multi-shard scatter-gather over the SAME corpus: 4 balanced
      // doc shards, each its own IVF over the shared centroids; the
      // router walks all shards per query and merges. Latency should
      // track the single-shard scan volume (same total candidates split
      // four ways, plus the merge of 4·k pairs) — the evidence that the
      // segment-reduce layer adds no superlinear serving cost ----
      val parts = time("serve load (4 IVF shards)") {
        (0 until 4).map { sh =>
          Serve.loadIvf(index.filter(pmod(col("id"), lit(4L)) === sh.toLong),
            cents, Metric.L2)
        }
      }
      val router = new ShardedServe.ShardedIvfServing(parts, Metric.L2)
      qv.foreach(v => router.search(v, 10, nprobe)) // warm-up (incl. scatter pool)
      val t1 = System.nanoTime()
      qv.foreach(v => router.search(v, 10, nprobe))
      val routerMs = (System.nanoTime() - t1) / 1e6 / qv.length
      val single = Serve.loadIvf(index, cents, Metric.L2)
      qv.foreach { v =>
        require(router.search(v, 10, nprobe) == single.search(v, 10, nprobe),
          "sharded IVF merge != single-index answer at corpus scale")
      }
      println(f"sharded ivf serve (4 shards) per-query latency: $routerMs%.2f ms " +
        f"(single-searcher: $perQueryMs%.2f ms; merge exactness asserted)")
    }

    // ---- QUANTIZED RESIDENT IVF serving: the reference's IVF_SQ8/IVF_PQ
    // memory model (codes, not fp32, in serving RAM; ivf.cc:66-1276).
    // Two raw-tier shapes measured: PAGED (codes-only residency, each
    // query pays one bounded parquet fetch for ≤ reorderK finalists —
    // the SSD/mmap analog) and RESIDENT (SCANN with_raw_data). In-run
    // equality vs the batch searchSq8/searchPq over the same index. ----
    locally {
      val q16 = queries.limit(16)
      val qv = q16.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val fp32Bytes = nb.toLong * (8L + 4L * dim)
      def collectBatch(df: DataFrame): Map[Long, Seq[(Long, Double)]] = collectKnn(df)
      // SQ8: 1 byte/dim codes — 4x fewer resident bytes than fp32
      // index rows carry the same vec values as base — one quantizer
      val st = sqStats
      val sq8Paged = time("serve load (IVF_SQ8 codes, paged raw)")(
        Serve.loadIvfSq8(index, cents, Some(st)))
      val sq8Res = Serve.loadIvfSq8(index, cents, Some(st), rawResident = true)
      val sq8Batch = collectBatch(IvfIndex.searchSq8(
        q16, index, cents, 10, nprobe, reorderK = 50, Some(4), Some(st)))
      qv.foreach { case (_, v) =>
        sq8Paged.search(v, 10, nprobe, 50); sq8Res.search(v, 10, nprobe, 50)
      } // warm-up
      val t0 = System.nanoTime()
      qv.foreach { case (_, v) => sq8Res.search(v, 10, nprobe, 50) }
      val sq8ResMs = (System.nanoTime() - t0) / 1e6 / qv.length
      val sq8Tier = sq8Paged.rawTier.asInstanceOf[Serve.PagedRawTier]
      val t1 = System.nanoTime()
      var fetched = 0L; var sectors = 0L; var ioBytes = 0L
      qv.foreach { case (_, v) =>
        sq8Paged.search(v, 10, nprobe, 50); fetched += sq8Paged.lastRawFetched
        sectors += sq8Tier.lastSectorsRead; ioBytes += sq8Tier.lastBytesRead
      }
      val sq8PagedMs = (System.nanoTime() - t1) / 1e6 / qv.length
      qv.foreach { case (qid, v) =>
        require(sq8Paged.search(v, 10, nprobe, 50) == sq8Batch(qid),
          s"IVF_SQ8 serving (paged) != batch searchSq8 for query $qid")
        require(sq8Res.search(v, 10, nprobe, 50) == sq8Batch(qid),
          s"IVF_SQ8 serving (resident raw) != batch searchSq8 for query $qid")
      }
      println(f"ivf_sq8 serve per-query latency: resident-raw $sq8ResMs%.2f ms, " +
        f"paged-raw $sq8PagedMs%.2f ms (${fetched / qv.length}/query raw fetches — the SSD " +
        f"reads: ${sectors / qv.length} 4 KiB pages / ${(ioBytes / qv.length) >> 10} KiB of " +
        f"${sq8Tier.totalSectors} pages / ${sq8Tier.totalBytes >> 20} MiB total); " +
        f"resident codes ${sq8Paged.residentCodeBytes >> 20} MiB vs fp32 ${fp32Bytes >> 20} MiB; " +
        "batch equality asserted on both tiers")
      // PQ: m=8 bytes/vector — 32x fewer resident bytes than fp32 at dim 64
      val pqServe = time("serve load (IVF_PQ codes, paged raw)")(
        Serve.loadIvfPq(index, cents, pq))
      val pqBatch = collectBatch(IvfIndex.searchPq(
        q16, index, cents, pq, 10, nprobe, reorderK = 50, Some(4)))
      qv.foreach { case (_, v) => pqServe.search(v, 10, nprobe, 50) } // warm-up
      val t2 = System.nanoTime()
      qv.foreach { case (_, v) => pqServe.search(v, 10, nprobe, 50) }
      val pqMs = (System.nanoTime() - t2) / 1e6 / qv.length
      qv.foreach { case (qid, v) =>
        require(pqServe.search(v, 10, nprobe, 50) == pqBatch(qid),
          s"IVF_PQ serving != batch searchPq for query $qid")
      }
      println(f"ivf_pq serve per-query latency: $pqMs%.2f ms (paged raw); " +
        f"resident codes ${pqServe.residentCodeBytes >> 20} MiB vs fp32 ${fp32Bytes >> 20} MiB; " +
        "batch equality asserted")
    }

    // ---- binary (bin1) serving: packed-long signatures resident (32
    // dims/long, the signBits layout — 16x under fp32), Long.bitCount
    // hamming scan; the 4-shard router must merge to the single-index
    // answer bit-for-bit ----
    locally {
      import graft.functions.VectorFunctions.signBits
      val bbin = base.select(col("id"), signBits(col("vec")).as("vec"))
      val single = time("serve load (binary shard, packed longs)")(
        Serve.loadBinary(bbin, Metric.Hamming))
      val qbin = queries.limit(16)
        .select(col("qid"), signBits(col("qvec")).as("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      qbin.foreach { case (_, q) => single.search(q, 10) } // warm-up
      val t0 = System.nanoTime()
      qbin.foreach { case (_, q) => single.search(q, 10) }
      val binMs = (System.nanoTime() - t0) / 1e6 / qbin.length
      val binRouter = new ShardedServe.ShardedBinaryServing(
        (0 until 4).map(sh => Serve.loadBinary(
          bbin.filter(pmod(col("id"), lit(4L)) === sh.toLong), Metric.Hamming)))
      qbin.foreach { case (_, q) => binRouter.search(q, 10) } // warm-up
      val t1 = System.nanoTime()
      qbin.foreach { case (_, q) => binRouter.search(q, 10) }
      val binShMs = (System.nanoTime() - t1) / 1e6 / qbin.length
      qbin.foreach { case (_, q) =>
        require(binRouter.search(q, 10) == single.search(q, 10),
          "sharded binary merge != single-index answer at corpus scale")
      }
      println(f"binary serve per-query latency: $binMs%.2f ms single, " +
        f"$binShMs%.2f ms 4-shard router (resident ${single.residentBytes >> 20} MiB " +
        f"vs fp32 ${(nb.toLong * (8L + 4L * dim)) >> 20} MiB; merge exactness asserted)")
    }

    // ---- per-query sparse WAND serving over the Zipf postings: the
    // skip counters are the pruning evidence at corpus vocabulary ----
    locally {
      val bp2 = sparseGen(nb, perDoc, 0)
        .select(col("term").cast("string").as("term"), col("id"), col("tf"))
      val searcher = time("serve load (sparse postings collect)")(
        Serve.loadSparse(bp2))
      val qs = sparseGen(16, 30, 99)
        .select(col("id").as("qid"), col("term").cast("string").as("term"),
          (lit(1L) + col("term") * 9L / vocab.toLong).cast("long").as("qtf"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(r => (r.getString(1), r.getLong(2))).toSeq }
      qs.values.foreach { terms => // JIT warm-up, untimed
        searcher.search(terms, 10); searcher.searchMaxScore(terms, 10)
      }
      val t0 = System.nanoTime()
      var scoredTot = 0L
      qs.values.foreach { terms =>
        searcher.search(terms, 10)
        scoredTot += searcher.lastScored
      }
      val perQueryMs = (System.nanoTime() - t0) / 1e6 / qs.size
      println(f"sparse WAND serve per-query latency: $perQueryMs%.2f ms, " +
        f"mean docs scored ${scoredTot / qs.size} of $nb (upper-bound skipping)")
      // the DAAT-MaxScore serving arm (same exact contract, no per-pivot
      // cursor re-sort, non-essential-only docs never visited): equality
      // asserted here at corpus scale, latency is the headline
      val t1 = System.nanoTime()
      var msScoredTot = 0L
      qs.values.foreach { terms =>
        searcher.searchMaxScore(terms, 10)
        msScoredTot += searcher.lastScored
      }
      val msPerQueryMs = (System.nanoTime() - t1) / 1e6 / qs.size
      qs.values.foreach { terms =>
        require(searcher.searchMaxScore(terms, 10) == searcher.search(terms, 10),
          "maxscore != wand at corpus scale")
      }
      println(f"sparse MaxScore serve per-query latency: $msPerQueryMs%.2f ms, " +
        f"mean docs completed ${msScoredTot / qs.size} of $nb (essential-list DAAT)")

      // ---- SHARDED sparse router at corpus scale: 4 doc-partitioned
      // posting shards, each a complete inverted index over its docs.
      // Per-shard WAND/MaxScore arms are EXACT, so the merged answer must
      // EQUAL the single-index answer bit-for-bit — asserted in-run on
      // every query, both arms. The latency delta vs the single searcher
      // above is the segment-reduce overhead (4 walks of quarter-length
      // posting lists + an O(shards*k) merge). ----
      val sparseParts = time("serve load (4 sparse shards)") {
        (0 until 4).map(sh => Serve.loadSparse(
          bp2.filter(pmod(col("id"), lit(4L)) === sh.toLong)))
      }
      val sparseRouter = new ShardedServe.ShardedSparseServing(sparseParts)
      qs.values.foreach { terms => // warm-up (incl. scatter pool)
        sparseRouter.search(terms, 10); sparseRouter.searchMaxScore(terms, 10)
      }
      val tw = System.nanoTime()
      qs.values.foreach(terms => sparseRouter.search(terms, 10))
      val shWandMs = (System.nanoTime() - tw) / 1e6 / qs.size
      val tm = System.nanoTime()
      qs.values.foreach(terms => sparseRouter.searchMaxScore(terms, 10))
      val shMsMs = (System.nanoTime() - tm) / 1e6 / qs.size
      qs.values.foreach { terms =>
        require(sparseRouter.search(terms, 10) == searcher.search(terms, 10),
          "sharded sparse WAND merge != single-index answer at corpus scale")
        require(sparseRouter.searchMaxScore(terms, 10) == searcher.searchMaxScore(terms, 10),
          "sharded sparse MaxScore merge != single-index answer at corpus scale")
      }
      println(f"sharded sparse serve (4 shards) per-query latency: " +
        f"WAND $shWandMs%.2f ms, MaxScore $shMsMs%.2f ms " +
        f"(single: $perQueryMs%.2f / $msPerQueryMs%.2f ms; merge exactness asserted)")
    }

    // ---- BM25 serving: WAND vs the new MaxScore arm over the Zipf
    // corpus with doc lengths — equality asserted in-run on every query
    // (the scaled-integer contract makes both arms exact), latency is
    // the before/after headline for the MaxScore delivery ----
    locally {
      val bpd = sparseGen(nb, perDoc, 0)
        .select(col("term").cast("string").as("term"), col("id"), col("tf"),
          lit(perDoc).cast("long").as("dl"))
        .persist()
      val ts = bpd.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"), min(col("tf")).as("min_tf"))
      val model = new graft.operators.SparseIndexModel(
        bpd, ts, (nb.toLong, perDoc.toDouble), 1.2, 0.75)
      val searcher = time("serve load (bm25 postings)")(Serve.loadSparseBM25(model))
      val qs = sparseGen(16, 30, 99)
        .select(col("id").as("qid"), col("term").cast("string").as("term"),
          (lit(1L) + col("term") * 9L / vocab.toLong).cast("long").as("qtf"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(r => (r.getString(1), r.getLong(2))).toSeq }
      qs.values.foreach { terms => // JIT warm-up, untimed
        searcher.search(terms, 10); searcher.searchMaxScore(terms, 10)
      }
      val t0 = System.nanoTime()
      var wScored = 0L
      qs.values.foreach { terms =>
        searcher.search(terms, 10); wScored += searcher.lastScored
      }
      val wandMs = (System.nanoTime() - t0) / 1e6 / qs.size
      val t1 = System.nanoTime()
      var mScored = 0L
      qs.values.foreach { terms =>
        searcher.searchMaxScore(terms, 10); mScored += searcher.lastScored
      }
      val msMs = (System.nanoTime() - t1) / 1e6 / qs.size
      qs.values.foreach { terms =>
        require(searcher.searchMaxScore(terms, 10) == searcher.search(terms, 10),
          "bm25 maxscore != bm25 wand at corpus scale")
        val allowed = (id: Long) => id % 2 == 1
        require(searcher.searchMaxScore(terms, 10, allowed) ==
          searcher.search(terms, 10, allowed),
          "filtered bm25 maxscore != filtered bm25 wand at corpus scale")
      }
      println(f"bm25 WAND serve per-query latency: $wandMs%.2f ms " +
        f"(mean docs scored ${wScored / qs.size} of $nb)")
      println(f"bm25 MaxScore serve per-query latency: $msMs%.2f ms " +
        f"(mean docs completed ${mScored / qs.size} of $nb; " +
        "equality incl. bitset asserted)")
      // ---- SHARDED BM25 router: shard-sliced postings under the
      // COLLECTION's global stats (df/idf, N, avgdl — the host keeps
      // collection-level stats above its segments), so per-shard scores
      // equal the global scores restricted to shard docs and the merged
      // answer is exact on both arms — asserted in-run per query ----
      val bmParts = time("serve load (4 bm25 shards)") {
        (0 until 4).map(sh => Serve.loadSparseBM25(
          new graft.operators.SparseIndexModel(
            bpd.filter(pmod(col("id"), lit(4L)) === sh.toLong), ts,
            (nb.toLong, perDoc.toDouble), 1.2, 0.75)))
      }
      val bmRouter = new ShardedServe.ShardedSparseServing(bmParts)
      qs.values.foreach { terms => // warm-up (incl. scatter pool)
        bmRouter.search(terms, 10); bmRouter.searchMaxScore(terms, 10)
      }
      val tw = System.nanoTime()
      qs.values.foreach(terms => bmRouter.search(terms, 10))
      val shWandMs = (System.nanoTime() - tw) / 1e6 / qs.size
      val tm = System.nanoTime()
      qs.values.foreach(terms => bmRouter.searchMaxScore(terms, 10))
      val shMsMs = (System.nanoTime() - tm) / 1e6 / qs.size
      qs.values.foreach { terms =>
        require(bmRouter.search(terms, 10) == searcher.search(terms, 10),
          "sharded bm25 WAND merge != single-index answer at corpus scale")
        require(bmRouter.searchMaxScore(terms, 10) == searcher.searchMaxScore(terms, 10),
          "sharded bm25 MaxScore merge != single-index answer at corpus scale")
      }
      println(f"sharded bm25 serve (4 shards) per-query latency: " +
        f"WAND $shWandMs%.2f ms, MaxScore $shMsMs%.2f ms " +
        f"(single: $wandMs%.2f / $msMs%.2f ms; merge exactness asserted)")
      bpd.unpersist()
    }

    // ---- SHARDED graph router at corpus scale: 4 doc shards, each its
    // own IVF-bucketed kNN graph + per-list entries. Graph walks are ANN,
    // so the in-run assertions pin (a) the router's merge semantics —
    // result == mergeTopK of the per-shard walks, (dist, id)-ordered —
    // and (b) recall vs exact truth at least the single-graph walk's
    // (4 independent quarter-corpus walks search MORE total ef). ----
    locally {
      // per-shard frames persist so the float, packed, and decoded-grid
      // loads below stream the SAME built graph instead of recomputing
      // the IVF-bucketed build per load
      val shardFrames = time("sharded graph builds (4 shards, persisted)") {
        (0 until 4).map { sh =>
          val sb = base.filter(pmod(col("id"), lit(4L)) === sh.toLong)
          val shNb = nb / 4
          val shNlist = math.max(math.sqrt(2.0 * shNb).toInt, 2000)
          val shStep = math.max(1L, shNb.toLong / shNlist)
          val shCents = sb.filter(pmod(col("id"), lit(4L * shStep)) === sh.toLong)
            .select((col("id") / (4L * shStep)).cast("long").as("cluster_id"),
              col("vec").as("centroid"))
          val g = GraphSearch.knnGraphIvf(sb, shCents, degree = 5, nprobe = 2).persist()
          g.count()
          val es = sb.filter(pmod(col("id"), lit(4L * shStep)) === sh.toLong)
            .select(col("id").as("nid"))
          (g, sb, es)
        }
      }
      val shardSearchers = time("serve load (4 graph shards)") {
        shardFrames.map { case (g, sb, es) => Serve.load(g, sb, es, Metric.L2) }
      }
      val graphRouter = new ShardedServe.ShardedGraphServing(shardSearchers, Metric.L2)
      val qv16 = queries.limit(16).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      qv16.foreach { case (_, v) => graphRouter.search(v, 10, ef = 64) } // warm-up
      val t0 = System.nanoTime()
      qv16.foreach { case (_, v) => graphRouter.search(v, 10, ef = 64) }
      val routerMs = (System.nanoTime() - t0) / 1e6 / qv16.length
      val t = truth.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      var hits = 0
      qv16.foreach { case (qid, v) =>
        val merged = graphRouter.search(v, 10, ef = 64)
        require(merged == ShardedServe.mergeTopK(
          shardSearchers.map(_.search(v, 10, ef = 64)), 10, Metric.L2.ascending),
          "sharded graph router != mergeTopK of per-shard walks")
        require(merged == merged.sortBy { case (id, d) => (d, id) },
          "sharded graph merge not (dist, id)-ordered")
        hits += merged.map(_._1).count(id => t.contains((qid, id)))
      }
      val shardedRecall = hits.toDouble / (qv16.length * 10)
      // floor with ANN slack: the shard graphs are INDEPENDENT quarter-
      // corpus builds (own centroids/entries), so a doc reachable in the
      // full graph can be unreachable in its shard's degree-5 graph — a
      // strict >= would abort the run on a single lost hit under
      // different nb/dim/seed args; 0.05 matches the coarse-sweep slack
      require(shardedRecall >= singleGraphRecall - 0.05,
        f"sharded graph recall@10 $shardedRecall%.3f fell >0.05 below the " +
          f"single-walk recall $singleGraphRecall%.3f")
      println(f"sharded graph serve (4 shards) per-query latency: $routerMs%.2f ms, " +
        f"recall@10 $shardedRecall%.3f " +
        "(merge semantics + order + recall-floor asserted)")
      // coarse entries on every shard: each walk's seeding scan drops
      // from its shard's E to ~sqrt(E) + probed buckets
      graphRouter.enableCoarseEntries()
      qv16.foreach { case (_, v) => graphRouter.search(v, 10, ef = 64) } // warm-up
      val t2 = System.nanoTime()
      var cHits = 0
      qv16.foreach { case (qid, v) =>
        val got = graphRouter.search(v, 10, ef = 64)
        cHits += got.map(_._1).count(id => t.contains((qid, id)))
      }
      val coarseMs = (System.nanoTime() - t2) / 1e6 / qv16.length
      println(f"sharded graph serve (4 shards, coarse entries) per-query latency: " +
        f"$coarseMs%.2f ms, recall@10 ${cHits.toDouble / (qv16.length * 10)}%.3f")

      // ---- the REALISTIC DEPLOYMENT composition: packed fp16 residency
      // + coarse entries + 4-shard parallel scatter, all at once. Packed
      // walks must equal decoded-grid float walks shard-for-shard, so the
      // composed router is asserted against a grid-float router with the
      // same coarse layer — half the resident bytes at router latency ----
      import graft.functions.VectorFunctions.{packFp16, unpackFp16}
      val packedRouter = new ShardedServe.ShardedGraphServing(
        time("serve load (4 packed fp16 shards)") {
          shardFrames.map { case (g, sb, es) =>
            Serve.loadPacked(g, sb.select(col("id"), packFp16(col("vec")).as("vec")), es, Metric.L2)
          }
        }, Metric.L2).enableCoarseEntries()
      val gridRouter = new ShardedServe.ShardedGraphServing(
        shardFrames.map { case (g, sb, es) =>
          Serve.load(g, sb.select(col("id"), unpackFp16(packFp16(col("vec"))).as("vec")), es, Metric.L2)
        }, Metric.L2).enableCoarseEntries()
      val qGrid = qv16.map { case (qid, v) =>
        (qid, v.map(f => graft.plans.Half.halfToFloat(graft.plans.Half.floatToHalf(f))))
      }
      qGrid.foreach { case (_, v) => packedRouter.search(v, 10, ef = 64) } // warm-up
      val t3 = System.nanoTime()
      var pHits = 0
      qGrid.foreach { case (qid, v) =>
        val got = packedRouter.search(v, 10, ef = 64)
        pHits += got.map(_._1).count(id => t.contains((qid, id)))
      }
      val packedShardedMs = (System.nanoTime() - t3) / 1e6 / qGrid.length
      qGrid.foreach { case (qid, v) =>
        require(packedRouter.search(v, 10, ef = 64) == gridRouter.search(v, 10, ef = 64),
          s"packed sharded walk != decoded-grid sharded walk for query $qid")
      }
      println(f"sharded graph serve (4 shards, packed fp16 + coarse entries) " +
        f"per-query latency: $packedShardedMs%.2f ms, " +
        f"recall@10 ${pHits.toDouble / (qGrid.length * 10)}%.3f " +
        "(half the resident bytes; grid equality asserted per shard merge)")
      shardFrames.foreach(_._1.unpersist())
    }
    spark.stop()
  }
}
