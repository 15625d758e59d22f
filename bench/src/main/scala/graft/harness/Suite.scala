package graft.harness

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** suite_sf0.01: one client running library queries from
  * `SparkEntry.queries` over the committed sf0.01 tables, in a seeded
  * order per pass. At this
  * size the suite is overhead-bound: planning, scheduling and streaming
  * triggers dominate and kernels barely register. */
object Suite {
  val Queries = Seq(
    "bf_knn_l2", // vector
    "eval_minhash_est", // dedup evaluation, one of the three largest plans
    "events_quantiles", // events
    "events_sessions_stream") // streaming
  /** Run only in the traced pass, after its overhead window: the graph,
    * dedup, sparse, text and relational families, two of them among the
    * three largest plans. They do not fit the untraced run's time budget. */
  val TraceOnly = Seq("knn_graph_diversified", "dedup_groups_keep_best", "sparse_bm25_wand_knn",
    "doc_novelty", "orders_rollup")
  /** The three largest analyzed plans, reported one by one when traced. */
  val PlanQueries = Seq("eval_minhash_est", "dedup_groups_keep_best", "knn_graph_diversified")
  /** Timed passes per run. `wall_s` is the sum over queries of each
    * query's median latency across the passes. */
  val TimedPasses = 3
  val Tables = Seq("customer", "documents", "embeddings", "events", "nation", "orders", "region")

  /** Order-insensitive digest over every output column: row count, xor and
    * sum of per-row hashes. Hashing every column makes the query compute
    * every column, which `count()` alone would let Catalyst prune. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xFFFFFFFFL)))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${Option(r.get(2)).getOrElse(0L)}"
  }

  /** Expected digests, pinned from a run whose outputs matched the DuckDB
    * oracle (see README.md, "Pinning the suite digests"). */
  def pinned(data: String): Map[String, String] = {
    val f = new java.io.File(data, "suite_digests.tsv")
    scala.io.Source.fromFile(f).getLines().filter(_.contains("\t"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  }

  def workload(spark: SparkSession, seed: Long, data: String, tr: Tracer): RunResult = {
    val dir = s"$data/sf0.01"
    val expected = pinned(data)
    require((Queries ++ TraceOnly).forall(expected.contains), "suite_digests.tsv lacks a suite query")
    val (_, setupS, parts) = Timing.repeatedSetup(Fixed.SetupReps) { p =>
      val (_, s) = Timing.secs(Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count()))
      p("gen") = s
    }
    val rng = new Rng(seed)
    def runOne(q: String): (Double, Boolean) = {
      val (ok, s) = Timing.secs(tr.span(q, "query") {
        try digest(graft.SparkEntry.queries(q)(spark, dir)) == expected(q)
        catch { case _: Throwable => false }
      })
      // operators persist intermediates; drop them so each op starts cold
      spark.catalog.clearCache()
      (s, ok)
    }
    def pass(): (Seq[(String, Double, Boolean)], Double) = Timing.secs(
      rng.shuffle(Queries).map { q => val (s, ok) = runOne(q); (q, s, ok) })

    val heapMb = Jvm.liveHeapMb()
    // one cold pass only: settling would take a second pass the run budget
    // lacks; the per-query medians below absorb what JIT is left
    val (warmups, warmS) = Timing.secs { pass(); 1 }
    System.gc()
    val ops = (1 to TimedPasses).flatMap(_ => pass()._1)
    val failed = ops.count(!_._3).toLong
    // each query's median over the passes: one slow pass (JIT, GC or host
    // contention) moves none of the metrics
    val perQuery = ops.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2 * 1000.0)) }
    val wallS = perQuery.values.sum / 1000.0
    val notes = Seq(
      "warmup_passes" -> warmups.toString,
      "tail" -> s"slowest query's median over $TimedPasses passes (${ops.length} ops are too few for a percentile)",
      "loop" -> "closed, 1 client",
      "ops_ms" -> ops.map { case (q, t, _) => f"$q=${t * 1000}%.0f" }.mkString(","))
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", wallS, "s"),
      Metric("qps", Queries.length / wallS, "1/s"),
      Metric("p50_ms", Stats.median(perQuery.values.toSeq), "ms"),
      Metric("tail_ms", perQuery.values.max, "ms"),
      Metric("recall", (ops.length - failed).toDouble / ops.length, "ratio"),
      Metric("heap_mb", heapMb, "MiB"),
      Metric("build_s", parts("gen"), "s"))
    val layer = if (!tr.enabled) Seq.empty else traced(spark, tr, runOne, wallS) ++
      Seq(Metric("setup.gen_s", parts("gen"), "s"), Metric("setup.warmup_s", warmS, "s"))
    RunResult(ops.length, failed, e2e, layer, notes)
  }

  /** A second pass with spans and listeners on: query, op, stream and jvm
    * layers, plus the tracing overhead against the untraced pass. */
  private def traced(spark: SparkSession, tr: Tracer, runOne: String => (Double, Boolean),
      untracedWallS: Double): Seq[Metric] = {
    val c = Layers.attach(spark)
    val perQueryPlan = mutable.Map.empty[String, Double]
    var streamOpMs = 0.0
    def traceOne(q: String): Unit = {
      val before = c.query.planMs.get
      val (s, _) = runOne(q)
      c.drain()
      perQueryPlan(q) = (c.query.planMs.get - before).toDouble
      if (q.endsWith("_stream")) streamOpMs += s * 1000.0
    }
    val jvm = new Jvm.Window
    System.gc()
    val (_, wallS) = Timing.secs(tr.span("suite_sf0.01", "workload")(tr.span("timed", "pass") {
      Queries.foreach(traceOne)
    }))
    c.drain()
    val layers = c.metrics(wallS, streamOpMs)
    tr.span("trace_only", "pass")(TraceOnly.foreach(traceOne))
    layers ++ jvm.metrics(Jvm.liveHeapMb()) ++
      PlanQueries.map(q => Metric(s"query.$q.plan_ms", perQueryPlan(q), "ms")) ++
      Seq(Metric("trace.overhead_s", wallS - untracedWallS, "s"))
  }
}

/** The Spark-side listeners a traced pass attaches, read together. */
final class Layers(spark: SparkSession) {
  val op = new OpCounters
  val query = new QueryCounters
  val stream = new StreamCounters
  def drain(): Unit = org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)

  /** `streamOpMs`: wall time of the streaming ops, against which time
    * outside micro-batch triggers is measured. */
  def metrics(wallS: Double, streamOpMs: Double): Seq[Metric] = {
    val (planMs, execMs, actions, an, on) = query.snapshot
    val opWallMs = wallS * 1000.0
    op.metrics(wallS) ++ Seq(
      Metric("query.plan_ms", planMs.toDouble, "ms"),
      Metric("query.exec_ms", execMs.toDouble, "ms"),
      Metric("query.plan_share", if (opWallMs > 0) planMs / opWallMs else 0.0, "ratio"),
      Metric("query.actions", actions.toDouble, "count"),
      Metric("query.analyzed_nodes", an.toDouble, "count"),
      Metric("query.optimized_nodes", on.toDouble, "count"),
      Metric("stream.batches", stream.batches.get.toDouble, "count"),
      Metric("stream.trigger_ms", stream.triggerMs.get.toDouble, "ms"),
      Metric("stream.addbatch_ms", stream.addBatchMs.get.toDouble, "ms"),
      Metric("stream.rows_in", stream.rowsIn.get.toDouble, "count"),
      Metric("stream.outside_trigger_ms",
        math.max(0.0, streamOpMs - stream.triggerMs.get), "ms"))
  }
}

object Layers {
  def attach(spark: SparkSession): Layers = {
    val l = new Layers(spark)
    l.drain()
    spark.sparkContext.addSparkListener(l.op)
    spark.listenerManager.register(l.query)
    spark.streams.addListener(l.stream)
    l
  }
}
