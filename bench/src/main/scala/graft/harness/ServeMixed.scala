package graft.harness

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IndexFactory, IvfFlatIndex, IvfPqIndex}
import graft.operators.{DiskAnnIndex, HnswIndex, IvfIndex, Metric => Dist, ProductQuant,
  Serve, ShardedServe, SparseIndexModel, SparseSearch}

/** serve_mixed: a closed loop of [[Fixed.ServeClients]] clients, each
  * waiting for its reply before sending the next op, over a fixed seeded
  * schedule of ten serving arms. All timed work is per-query serving: the
  * serve, kernel and sources layers; Spark runs only in set-up. */
object ServeMixed {
  val Nb = 10000
  val Dim = 64
  val K = 10
  val Nq = 500
  val RangeQ = 100
  val Docs = 2000
  val Vocab = 2000
  val SparseQ = 200
  val Nlist = 32
  val Noise = 0.5
  /** Latent centers: about fifty points each, so a query's neighbours
    * span a few IVF lists and graph regions. */
  val Centers = 20
  /** The timed pass runs [[Blocks]] closed-loop blocks of exact-share
    * schedules, [[TimedOps]] ops in all; wall and tail are medians over
    * blocks, so a burst of host contention in one block does not move
    * them. Warm-up passes run [[WarmOps]] ops each. */
  val TimedOps = 8000
  val Blocks = 4
  val WarmOps = 1500
  /** Single-client ops per arm in the traced counter pass. */
  val CounterOps = 100

  /** Fixed knobs per arm, so the work per query is fixed and recall is an
    * output. `share` is the arm's weight in the schedule; `floor` the
    * committed recall floor. */
  final case class Arm(name: String, share: Int, floor: Double)
  val Arms = Seq(
    Arm("hnsw", 20, 0.75),
    Arm("ivf_flat", 20, 0.95),
    Arm("ivf_sq8", 3, 0.95),
    Arm("ivf_pq", 3, 0.40),
    Arm("diskann", 2, 0.45),
    Arm("sparse_ip", 10, 0.99),
    Arm("sparse_bm25", 10, 0.99),
    Arm("sharded", 20, 0.95),
    Arm("filtered", 8, 0.95),
    Arm("range", 4, 0.99))
  val Ef = 48
  val Nprobe = 4
  val ReorderK = 40
  val PqReorderK = 80
  val PqM = 16
  val PqKsub = 32
  val DiskAnnList = 48
  val FilterKeep = 10 // one id residue in ten passes the filter

  /** Everything set-up produces; `close` releases Spark caches and files. */
  final class Setup(
      val base: Array[Array[Float]],
      val queries: Array[Array[Float]],
      val sparseQueries: Array[Seq[(String, Long)]],
      val docTerms: Array[java.util.HashMap[String, Long]],
      val truth: Array[Array[Long]],
      val truthFiltered: Array[Array[Long]],
      val truthRange: Array[Set[Long]],
      val truthIp: Array[Array[Long]],
      val truthBm25: Array[Array[Long]],
      val radius: Double,
      val residue: Long,
      val hnsw: Serve.LocalGraphSearcher,
      val ivf: Serve.LocalIvfSearcher,
      val sq8: Serve.LocalIvfSq8Searcher,
      val pq: Serve.LocalIvfPqSearcher,
      val diskann: Serve.LocalDiskAnnSearcher,
      val sparseIp: Serve.LocalSparseSearcher,
      val sparseBm25: Serve.LocalSparseBM25Searcher,
      val shards: Seq[Serve.LocalIvfSearcher],
      val sharded: ShardedServe.ShardedIvfServing,
      val radii: java.util.HashMap[Long, Double],
      val baseDf: DataFrame,
      val queryDf: DataFrame,
      cleanup: () => Unit) extends AutoCloseable {
    def close(): Unit = cleanup()
  }

  /** The corpus (vectors and documents) comes from this fixed seed; the
    * workload seed draws the queries, the schedules and the filter. A
    * corpus drawn per seed moved the paged arms' cost, and with it
    * `wall_s`, by about 10% between seeds. */
  val CorpusSeed = 20240601L

  /** Protocol's clustered model (latent centers plus uniform noise) in
    * plain loops: centers from `centerSeed`, points from `pointSeed`.
    * `balanced` spreads the points evenly over the centers (point i near
    * center i mod Centers): queries use it, so every seed's query set
    * meets every cluster equally often and seeds differ in the points
    * only, not in how much work their clusters cost. */
  def genVectors(n: Int, centerSeed: Long, pointSeed: Long, salt: Long,
      balanced: Boolean): Array[Array[Float]] = {
    val centers = Array.tabulate(Centers) { c =>
      val r = new Rng(centerSeed * 1000003L + c)
      Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
    }
    Array.tabulate(n) { i =>
      val r = new Rng(pointSeed * 7919L + salt + i)
      val c = centers(if (balanced) i % Centers else r.nextInt(Centers))
      Array.tabulate(Dim)(d => (c(d) + (r.nextDouble() * 2 - 1) * Noise).toFloat)
    }
  }

  def frame(spark: SparkSession, vs: Array[Array[Float]], idCol: String, vecCol: String): DataFrame = {
    import spark.implicits._
    vs.indices.map(i => (i.toLong, vs(i).toSeq)).toDF(idCol, vecCol)
  }

  /** Zipf-like synthetic documents: term rank r drawn with weight ~ 1/r. */
  private def genDocs(seed: Long): (Seq[(Long, String)], Array[Seq[(String, Long)]]) = {
    val rng = new Rng(CorpusSeed ^ 0x5bd1e995L)
    val cum = new Array[Double](Vocab)
    var acc = 0.0
    (0 until Vocab).foreach { r => acc += 1.0 / (r + 1); cum(r) = acc }
    def draw(): Int = {
      val x = rng.nextDouble() * acc
      val i = java.util.Arrays.binarySearch(cum, x)
      if (i >= 0) i else math.min(Vocab - 1, -i - 1)
    }
    val docs = (0 until Docs).map { d =>
      val len = 30 + rng.nextInt(50)
      d.toLong -> Seq.fill(len)(s"t${draw()}").mkString(" ")
    }
    // queries: 3-5 distinct mid-frequency terms, tf 1-2
    val qrng = new Rng(seed ^ 0x27d4eb2fL)
    val qs = Array.fill(SparseQ) {
      val n = 3 + qrng.nextInt(3)
      Seq.fill(n)(20 + qrng.nextInt(Vocab / 2)).distinct.map(t => (s"t$t", 1L + qrng.nextInt(2)))
    }
    (docs, qs)
  }

  private def byQid(df: DataFrame, n: Int): Array[Array[Long]] = {
    val m = df.select(col("qid"), col("nid"), col("dist")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)) }
    Array.tabulate(n)(q => m.getOrElse(q.toLong, Array.empty[Long]))
  }

  def setup(spark: SparkSession, seed: Long, scratch: String, tr: Tracer,
      parts: mutable.LinkedHashMap[String, Double]): Setup = {
    import spark.implicits._
    def part[T](name: String)(f: => T): T = {
      val (v, s) = Timing.secs(tr.span(s"setup.$name", "setup")(f))
      parts(name) = parts.getOrElse(name, 0.0) + s
      v
    }
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted += df; df.persist() }
    val residue = math.abs(seed) % FilterKeep

    val (baseDf, queryDf, baseArr, queryArr, docsDf, qp, sparseQs, docTerms) = part("gen") {
      val ba = genVectors(Nb, CorpusSeed, CorpusSeed, 0L, balanced = false)
      val qa = genVectors(Nq, CorpusSeed, seed, 1L << 40, balanced = true)
      val b = keep(frame(spark, ba, "id", "vec"))
      val q = keep(frame(spark, qa, "qid", "qvec"))
      b.count()
      val (docs, sq) = genDocs(seed)
      val d = keep(docs.toDF("doc_id", "text"))
      val qpDf = keep(sq.zipWithIndex.toSeq
        .flatMap { case (ts, i) => ts.map { case (t, tf) => (i.toLong, t, tf) } }
        .toDF("qid", "term", "qtf"))
      val dt = docs.map { case (_, text) =>
        val m = new java.util.HashMap[String, Long]()
        text.split(" ").foreach(t => m.merge(t, 1L, (a: Long, b: Long) => a + b))
        m
      }.toArray
      (b, q, ba, qa, d, qpDf, sq, dt)
    }

    val (hnswIdx, ivfIdx, pqModel, diskIdx, postings, bm25Model) = part("build") {
      def verb[T](name: String)(f: => T): T = tr.span(s"build.$name", "build")(f)
      val h = verb("hnsw") {
        val x = IndexFactory.build(spark, "HNSW", baseDf, nlist = Nlist, reorderK = Ef)
          .asInstanceOf[HnswIndex]
        Seq(x.graph, x.entries).foreach(f => keep(f).count())
        x
      }
      val i = verb("ivf") {
        val x = IndexFactory.build(spark, "IVF_FLAT", baseDf, nlist = Nlist, nprobe = Nprobe,
          roundDist = Some(4)).asInstanceOf[IvfFlatIndex]
        keep(x.index).count()
        x
      }
      val m = verb("pq_train")(ProductQuant.train(spark, baseDf, PqM, PqKsub))
      val d = verb("diskann") {
        val x = IndexFactory.build(spark, "DISKANN", baseDf, nlist = Nlist, pqM = PqM,
          pqKsub = PqKsub, reorderK = DiskAnnList).asInstanceOf[DiskAnnIndex]
        Seq(x.graph, x.coded, x.entries).foreach(f => keep(f).count())
        x
      }
      val (p, bm) = verb("sparse") {
        (keep(SparseSearch.postings(docsDf, "doc_id", "text")), SparseIndexModel.build(docsDf))
      }
      (h, i, m, d, p, bm)
    }

    val storeDir = s"$scratch/rawstore-${System.nanoTime()}"
    val (hnsw, ivf, sq8, pq, diskann, sparseIp, sparseBm25, shards, radii) = part("load") {
      val hs = Serve.load(hnswIdx.graph, hnswIdx.base, hnswIdx.entries, Dist.L2).enableCoarseEntries()
      val iv = Serve.loadIvf(ivfIdx.index, ivfIdx.centroids, Dist.L2)
      graft.sources.SectorStore.save(ivfIdx.index.select(col("id"), col("vec")), storeDir)
      val s8 = Serve.loadIvfSq8(ivfIdx.index, ivfIdx.centroids, rawStoreDir = Some(storeDir))
      val pqs = Serve.loadIvfPq(ivfIdx.index, ivfIdx.centroids, pqModel, rawStoreDir = Some(storeDir))
      val da = Serve.loadDiskAnn(diskIdx, cacheNodes = Nb / 20)
      val sip = Serve.loadSparse(postings.select(col("term"), col("id"), col("tf")))
      val sbm = Serve.loadSparseBM25(bm25Model)
      val sh = (0 until 2).map(s => Serve.loadIvf(ivfIdx.index.filter(col("id") % 2 === s),
        ivfIdx.centroids, Dist.L2))
      val rm = new java.util.HashMap[Long, Double]()
      IvfIndex.listRadii(ivfIdx.index, ivfIdx.centroids).collect()
        .foreach(r => rm.put(r.getAs[Number](0).longValue, r.getDouble(1)))
      (hs, iv, s8, pqs, da, sip, sbm, sh, rm)
    }

    val (truth, truthF, radius, truthR, truthIp, truthBm) = part("truth") {
      // dense truth in plain loops under the library's 4-decimal contract,
      // independent of the code under test
      val ranked = new Array[Array[(Double, Long)]](Nq)
      java.util.stream.IntStream.range(0, Nq).parallel().forEach { q =>
        ranked(q) = baseArr.indices.map(i => (exactDist(queryArr(q), baseArr(i)), i.toLong)).toArray.sorted
      }
      val t = ranked.map(_.take(K).map(_._2))
      val tf = ranked.map(_.iterator.filter(_._2 % FilterKeep == residue).take(K).map(_._2).toArray)
      // radius: the median exact k-th neighbour distance, so a range query
      // returns about k rows
      val kth = ranked.map(_(K - 1)._1).sorted
      val rad = kth(kth.length / 2)
      val tr = Array.tabulate(RangeQ)(q => ranked(q).takeWhile(_._1 < rad).map(_._2).toSet)
      val tip = byQid(SparseSearch.searchIP(qp, postings.select(col("id"), col("term"), col("tf")), K)
        .withColumn("dist", -col("dist")), SparseQ)
      val tbm = byQid(SparseSearch.searchBM25(qp, bm25Model, K).withColumn("dist", -col("dist")), SparseQ)
      (t, tf, rad, tr, tip, tbm)
    }

    val cleanup = () => {
      persisted.foreach(_.unpersist())
      bm25Model.drop()
      spark.catalog.clearCache()
      deleteTree(new java.io.File(storeDir))
    }
    new Setup(baseArr, queryArr, sparseQs, docTerms, truth, truthF, truthR, truthIp, truthBm,
      radius, residue, hnsw, ivf, sq8, pq, diskann, sparseIp, sparseBm25, shards,
      new ShardedServe.ShardedIvfServing(shards, Dist.L2), radii, baseDf, queryDf, cleanup)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** L2 distance under the library's 4-decimal contract. */
  def exactDist(q: Array[Float], v: Array[Float]): Double = {
    var s = 0.0d
    var i = 0
    while (i < q.length) { val d = q(i).toDouble - v(i).toDouble; s += d * d; i += 1 }
    graft.plans.FastRound.round(math.sqrt(s), 4)
  }

  /** One scheduled op: arm index and query index. */
  final case class Op(arm: Int, q: Int)

  /** Exactly `share`% of the `n` ops per arm, in seeded order; each arm
    * walks its query set in its own seeded order, so every run does the
    * same mix and no query repeats before its arm has used all of them. */
  def schedule(seed: Long, n: Int): Array[Op] = {
    val rng = new Rng(seed)
    val total = Arms.map(_.share).sum
    val ops = Arms.indices.flatMap { a =>
      val nq = Arms(a).name match {
        case "sparse_ip" | "sparse_bm25" => SparseQ
        case "range" => RangeQ
        case _ => Nq
      }
      val order = rng.shuffle(0 until nq)
      (0 until n * Arms(a).share / total).map(i => Op(a, order(i % nq)))
    }
    rng.shuffle(ops).toArray
  }

  def run(s: Setup, op: Op): Seq[(Long, Double)] = {
    val q = s.queries(op.q)
    Arms(op.arm).name match {
      case "hnsw" => s.hnsw.search(q, K, Ef)
      case "ivf_flat" => s.ivf.search(q, K, Nprobe)
      case "ivf_sq8" => s.sq8.search(q, K, Nprobe, ReorderK)
      case "ivf_pq" => s.pq.search(q, K, Nprobe, PqReorderK)
      case "diskann" => s.diskann.search(q, K)
      case "sparse_ip" => s.sparseIp.search(s.sparseQueries(op.q), K)
      case "sparse_bm25" => s.sparseBm25.search(s.sparseQueries(op.q), K)
      case "sharded" => s.sharded.search(q, K, Nprobe)
      case "filtered" =>
        val r = s.residue
        s.ivf.search(q, K, Nprobe, (id: Long) => id % FilterKeep == r)
      case "range" => s.ivf.rangeSearch(q, s.radius, 0.0, s.radii)
    }
  }

  /** Recall of one answer, and whether it breaks the answer contract
    * (wrong distance, bad order, duplicate or filtered-out id, too many
    * rows, a range row outside the radius). */
  def score(s: Setup, op: Op, res: Seq[(Long, Double)]): (Double, Boolean) = {
    val arm = Arms(op.arm).name
    val ids = res.map(_._1)
    val sparse = arm.startsWith("sparse")
    val dupes = ids.distinct.length != ids.length
    val inRange = ids.forall(id => id >= 0 && id < (if (sparse) Docs else Nb))
    val ordered = res.zip(res.drop(1)).forall { case ((i1, d1), (i2, d2)) =>
      if (sparse) d1 > d2 || (d1 == d2 && i1 < i2) else d1 < d2 || (d1 == d2 && i1 < i2)
    }
    val sizeOk = arm == "range" || res.length <= K
    val distOk = !inRange || (arm match {
      case "sparse_bm25" => true
      case "sparse_ip" =>
        val terms = s.docTerms
        res.forall { case (id, d) =>
          val m = terms(id.toInt)
          s.sparseQueries(op.q).map { case (t, qtf) => qtf * m.getOrDefault(t, 0L) }.sum.toDouble == d
        }
      case _ =>
        val q = s.queries(op.q)
        res.forall { case (id, d) => math.abs(exactDist(q, s.base(id.toInt)) - d) < 1.5e-4 }
    })
    val filterOk = arm != "filtered" || ids.forall(_ % FilterKeep == s.residue)
    val rangeOk = arm != "range" || res.forall { case (_, d) => d >= 0.0 && d < s.radius }
    val wrong = dupes || !inRange || !ordered || !sizeOk || !distOk || !filterOk || !rangeOk
    val recall = arm match {
      case "range" =>
        val t = s.truthRange(op.q)
        if (t.isEmpty) (if (ids.isEmpty) 1.0 else 0.0) else ids.count(t.contains).toDouble / t.size
      case _ =>
        val t = arm match {
          case "sparse_ip" => s.truthIp(op.q)
          case "sparse_bm25" => s.truthBm25(op.q)
          case "filtered" => s.truthFiltered(op.q)
          case _ => s.truth(op.q)
        }
        if (t.isEmpty) 1.0 else ids.count(t.contains).toDouble / t.length
    }
    (recall, wrong)
  }

  /** Per-op outcome of a pass. */
  final class Pass(n: Int) {
    val latNs = new Array[Long](n)
    val results = new Array[Seq[(Long, Double)]](n)
    val threw = new Array[Boolean](n)
    var wallS = 0.0
  }

  /** Closed loop: each client takes the next op only after its reply. */
  def closedLoop(s: Setup, ops: Array[Op], clients: Int, tr: Tracer): Pass = {
    val p = new Pass(ops.length)
    val next = new AtomicInteger(0)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < ops.length) {
          val op = ops(i)
          val t0 = System.nanoTime()
          try p.results(i) = tr.span(Arms(op.arm).name, "serve", jobs = false)(run(s, op))
          catch { case _: Throwable => p.threw(i) = true }
          p.latNs(i) = System.nanoTime() - t0
          i = next.getAndIncrement()
        }
      }, s"bench-client-$c")
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    p.wallS = (System.nanoTime() - t0) / 1e9
    p
  }

  def workload(spark: SparkSession, seed: Long, scratch: String, tr: Tracer): RunResult = {
    val (s, setupS, setupParts) = Timing.repeatedSetup(1)(p => setup(spark, seed, scratch, tr, p))
    try measure(s, seed, scratch, setupS, setupParts, tr)
    finally s.close()
  }

  private def measure(s: Setup, seed: Long, scratch: String, setupS: Double, setupParts: Map[String, Double],
      tr: Tracer): RunResult = {
    val notes = mutable.ArrayBuffer.empty[(String, String)]
    val heapMb = Jvm.liveHeapMb()
    val (warmPasses, warmS) = Timing.secs(Timing.settle { () =>
      closedLoop(s, schedule(seed + 1000, WarmOps), Fixed.ServeClients, Tracer.Off).wallS
    })
    notes += "warmup_passes" -> warmPasses.toString
    System.gc()
    val blockOps = (0 until Blocks).map(b => schedule(seed * 31 + b, TimedOps / Blocks))
    val ops = blockOps.flatten.toArray
    val jvm = new Jvm.Window
    val blocks = blockOps.map(closedLoop(s, _, Fixed.ServeClients, Tracer.Off))
    val untraced = new Pass(ops.length)
    var at = 0
    blocks.foreach { b =>
      val n = b.latNs.length
      System.arraycopy(b.latNs, 0, untraced.latNs, at, n)
      System.arraycopy(b.results, 0, untraced.results, at, n)
      System.arraycopy(b.threw, 0, untraced.threw, at, n)
      at += n
    }
    val blockWalls = blocks.map(_.wallS)
    untraced.wallS = Stats.median(blockWalls) * Blocks
    val timedTraced = if (!tr.enabled) 0.0 else {
      System.gc()
      tr.span("serve_mixed", "workload")(tr.span("timed", "pass")(
        blockOps.map(closedLoop(s, _, Fixed.ServeClients, tr).wallS).sum))
    }
    val jvmMetrics = jvm.metrics(Jvm.liveHeapMb())

    // correctness over the untraced pass
    val perArm = Arms.indices.map(_ => mutable.ArrayBuffer.empty[(Double, Long)])
    var failed = 0L
    val recalls = new Array[Double](ops.length)
    ops.indices.foreach { i =>
      if (untraced.threw(i)) { failed += 1; recalls(i) = 0.0 }
      else {
        val (r, wrong) = score(s, ops(i), untraced.results(i))
        if (wrong) failed += 1
        recalls(i) = r
      }
      perArm(ops(i).arm) += ((recalls(i), untraced.latNs(i)))
    }
    val armRecall = Arms.indices.map(a => Stats.mean(perArm(a).map(_._1).toSeq))
    val floorsMet = Arms.indices.forall(a => armRecall(a) >= Arms(a).floor)
    Arms.indices.foreach { a =>
      notes += s"recall.${Arms(a).name}" -> f"${armRecall(a)}%.4f (floor ${Arms(a).floor}%.2f)"
    }
    val lat = untraced.latNs.map(_ / 1e6).toSeq
    val blockTails = blocks.map(b => Stats.tail(b.latNs.map(_ / 1e6).toSeq))
    val (tp, _, tn) = blockTails.head
    val tv = Stats.median(blockTails.map(_._2))
    notes += "tail" -> f"p$tp%.1f over ${blocks.head.latNs.length} ops per block, $tn beyond, median of $Blocks blocks"
    notes += "block_walls_s" -> blockWalls.map(w => f"$w%.3f").mkString(",")
    notes += "loop" -> s"closed, ${Fixed.ServeClients} clients"
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", untraced.wallS, "s"),
      Metric("qps", ops.length / untraced.wallS, "1/s"),
      Metric("p50_ms", Stats.median(lat), "ms"),
      Metric("tail_ms", tv, "ms"),
      Metric("recall", Stats.mean(recalls.toSeq), "ratio"),
      Metric("heap_mb", heapMb, "MiB"),
      Metric("build_s", setupParts.getOrElse("build", 0.0) + setupParts.getOrElse("load", 0.0), "s"))
    val layer = if (!tr.enabled) Seq.empty else {
      val selfNs = tr.selfNs
      val spans = tr.all.filter(_.kind == "serve")
      val armSelfMs = Arms.map(a => a.name ->
        spans.filter(_.name == a.name).map(sp => selfNs.getOrElse(sp.id, 0L)).sum / 1e6).toMap
      val armP50 = Arms.indices.map(a => Stats.median(perArm(a).map(_._2 / 1e3).toSeq))
      val per = Arms.indices.flatMap { a =>
        val n = Arms(a).name
        Seq(Metric(s"serve.$n.p50_us", armP50(a), "us"),
          Metric(s"serve.$n.self_ms", armSelfMs(n), "ms"),
          Metric(s"serve.$n.recall", armRecall(a), "ratio"))
      }
      val hnswS = tr.all.find(_.name == "build.hnsw").map(_.durNs / 1e9).getOrElse(0.0)
      per ++ counters(s, seed, armRecall) ++ facade(s, scratch, tr) ++
        Seq(Metric("build.hnsw_s", hnswS, "s")) ++
        Seq(Metric("trace.overhead_s", timedTraced - blockWalls.sum, "s")) ++
        setupParts.toSeq.map { case (k, v) => Metric(s"setup.${k}_s", v, "s") } ++
        Seq(Metric("setup.warmup_s", warmS, "s")) ++ jvmMetrics
    }
    RunResult(ops.length, failed, e2e, layer,
      notes.toSeq :+ ("correct" -> floorsMet.toString))
  }

  /** The facade's other write verbs and batch kernels, run only when
    * traced: IVF_FLAT over the first 90% of ids grows by the last 10%
    * through `append`, is saved and loaded back; IVF_PQ is built whole;
    * exact FLAT search (ns per query-vector pair) and PQ encoding of the
    * corpus (ns per row) are timed alone, each after one untimed call. */
  private def facade(s: Setup, scratch: String, tr: Tracer): Seq[Metric] = {
    val spark = s.baseDf.sparkSession
    val dir = s"$scratch/ivf-${System.nanoTime()}"
    val split = Nb - Nb / 10
    def verb[T](name: String)(f: => T): (T, Double) = Timing.secs(tr.span(s"build.$name", "build")(f))
    val frames = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): Long = { frames += df; df.persist().count() }
    try {
      val (grown, ivfS) = verb("ivf_grow") {
        val x = IndexFactory.build(spark, "IVF_FLAT", s.baseDf.filter(col("id") < split), nlist = Nlist,
          nprobe = Nprobe, roundDist = Some(4)).asInstanceOf[IvfFlatIndex]
        keep(x.index); x
      }
      val (appended, appendS) = verb("append") {
        val x = grown.append(s.baseDf.filter(col("id") >= split)); keep(x.index); x
      }
      val (_, saveS) = verb("save")(appended.save(dir))
      val (loaded, loadS) = verb("load") {
        val x = IndexFactory.loadIvf(spark, dir, nprobe = Nprobe, roundDist = Some(4)); keep(x.index); x
      }
      require(loaded.index.select(col("id")).distinct().count() == Nb, "loaded IVF lost ids")
      val (pq, pqS) = verb("ivf_pq") {
        val x = IndexFactory.build(spark, "IVF_PQ", s.baseDf, nlist = Nlist, nprobe = Nprobe,
          reorderK = PqReorderK, pqM = PqM, pqKsub = PqKsub, roundDist = Some(4)).asInstanceOf[IvfPqIndex]
        keep(x.index); x
      }
      val flat = IndexFactory.build(spark, "FLAT", s.baseDf, roundDist = Some(4))
      def flatS = Timing.secs(flat.search(s.queryDf, K).collect())._2
      def encodeS = Timing.secs(s.baseDf.select(ProductQuant.encodeExpr(col("vec"), pq.model).as("c"))
        .agg(sum(size(col("c")))).head())._2
      flatS; encodeS
      Seq(Metric("build.ivf_s", ivfS, "s"), Metric("build.append_s", appendS, "s"),
        Metric("build.save_s", saveS, "s"), Metric("build.load_s", loadS, "s"),
        Metric("build.ivf_pq_s", pqS, "s"),
        Metric("kernel.bf_ns_per_pair", flatS * 1e9 / (Nq.toDouble * Nb), "ns"),
        Metric("kernel.pq_encode_ns_per_row", encodeS * 1e9 / Nb, "ns"))
    } finally {
      frames.foreach(_.unpersist())
      deleteTree(new java.io.File(dir))
    }
  }

  /** Work counters from the searchers' last-call fields, read in a
    * single-client pass so each read belongs to the call just made. */
  private def counters(s: Setup, seed: Long, armRecall: Seq[Double]): Seq[Metric] = {
    val rng = new Rng(seed + 77)
    val work = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val armNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def tier(x: Serve.LocalIvfCodedSearcher): Serve.PagedRawTier =
      x.rawTier.asInstanceOf[Serve.PagedRawTier]
    Arms.indices.foreach { a =>
      val name = Arms(a).name
      (0 until CounterOps).foreach { _ =>
        val q = name match {
          case "sparse_ip" | "sparse_bm25" => rng.nextInt(SparseQ)
          case "range" => rng.nextInt(RangeQ)
          case _ => rng.nextInt(Nq)
        }
        val t0 = System.nanoTime()
        run(s, Op(a, q))
        armNs(name) += System.nanoTime() - t0
        def add(k: String, v: Double): Unit = work(s"$name.$k") += v
        name match {
          case "hnsw" =>
            val st = s.hnsw.lastStats; add("ndis", st.ndis.toDouble); add("hops", st.nhops.toDouble)
          case "ivf_flat" | "filtered" | "range" => add("work", s.ivf.lastCandidates.toDouble)
          case "ivf_sq8" | "ivf_pq" =>
            val x: Serve.LocalIvfCodedSearcher = if (name == "ivf_sq8") s.sq8 else s.pq
            val t = tier(x)
            add("work", x.lastCandidates.toDouble); add("raw", x.lastRawFetched.toDouble)
            add("sectors", t.lastSectorsRead.toDouble); add("bytes", t.lastBytesRead.toDouble)
            add("requested", t.lastRequested.toDouble); add("fetched", t.lastFetched.toDouble)
          case "diskann" =>
            val d = s.diskann
            add("work", d.lastNdis.toDouble); add("cache", d.lastCacheHits.toDouble)
            add("raw", d.lastRawFetched.toDouble)
          case "sparse_ip" =>
            add("work", s.sparseIp.lastScored.toDouble); add("skipped", s.sparseIp.lastSkipped.toDouble)
          case "sparse_bm25" =>
            add("work", s.sparseBm25.lastScored.toDouble)
            add("abandoned", s.sparseBm25.lastAbandoned.toDouble)
          case "sharded" => add("work", s.shards.map(_.lastCandidates).sum.toDouble)
        }
      }
    }
    val n = CounterOps.toDouble
    def w(k: String) = work(k)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val useful = Arms.indices.map { a =>
      val name = Arms(a).name
      val denom = if (name == "hnsw") w("hnsw.ndis") else w(s"$name.work")
      Metric(s"serve.$name.useful_ratio", ratio(K * armRecall(a) * n, denom), "ratio")
    }
    val codedQ = 2 * n
    Seq(
      Metric("serve.hnsw.ndis_per_q", w("hnsw.ndis") / n, "count"),
      Metric("serve.hnsw.hops_per_q", w("hnsw.hops") / n, "count"),
      Metric("serve.diskann.ndis_per_q", w("diskann.work") / n, "count"),
      Metric("serve.diskann.cache_hit_ratio",
        ratio(w("diskann.cache"), w("diskann.cache") + w("diskann.raw")), "ratio"),
      Metric("serve.ivf_flat.cand_per_q", w("ivf_flat.work") / n, "count"),
      Metric("serve.ivf_sq8.raw_fetched_per_q", w("ivf_sq8.raw") / n, "count"),
      Metric("serve.ivf_pq.raw_fetched_per_q", w("ivf_pq.raw") / n, "count"),
      Metric("serve.sparse_ip.scored_per_q", w("sparse_ip.work") / n, "count"),
      Metric("serve.sparse_ip.skip_ratio",
        ratio(w("sparse_ip.skipped"), w("sparse_ip.skipped") + w("sparse_ip.work")), "ratio"),
      Metric("serve.sparse_bm25.scored_per_q", w("sparse_bm25.work") / n, "count"),
      Metric("serve.sparse_bm25.abandoned_per_q", w("sparse_bm25.abandoned") / n, "count"),
      Metric("kernel.serve_ns_per_dist",
        ratio((armNs("hnsw") + armNs("ivf_flat")).toDouble, w("hnsw.ndis") + w("ivf_flat.work")), "ns"),
      Metric("kernel.serve_ns_per_posting",
        ratio((armNs("sparse_ip") + armNs("sparse_bm25")).toDouble,
          w("sparse_ip.work") + w("sparse_bm25.work")), "ns"),
      Metric("sources.sectors_per_q", (w("ivf_sq8.sectors") + w("ivf_pq.sectors")) / codedQ, "count"),
      Metric("sources.kib_per_q", (w("ivf_sq8.bytes") + w("ivf_pq.bytes")) / 1024.0 / codedQ, "KiB"),
      Metric("sources.fetch_ratio", ratio(w("ivf_sq8.fetched") + w("ivf_pq.fetched"),
        w("ivf_sq8.requested") + w("ivf_pq.requested")), "ratio")) ++ useful
  }
}
