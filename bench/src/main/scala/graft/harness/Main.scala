package graft.harness


/** Benchmark entry point.
  *
  * {{{
  * Main --workload <serve_mixed|suite_sf0.01> --seed <n> --seconds <s>
  *      --trace <0|1> --out <dir> --data <dir>
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per metric, `note` lines,
  * and as its last line one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`: the end-to-end metrics when untraced, the
  * per-layer metrics when traced. A traced run also writes its span tree
  * to `<out>/<workload>-seed<n>-trace.json`.
  */
object Main {
  /** Every per-layer metric a traced run reports, with its unit. Metrics a
    * workload does not exercise read 0 (the layer is predicted flat there). */
  val PerLayer: Seq[(String, String)] = {
    val arms = ServeMixed.Arms.map(_.name)
    arms.flatMap(a => Seq(s"serve.$a.p50_us" -> "us", s"serve.$a.self_ms" -> "ms",
      s"serve.$a.recall" -> "ratio")) ++
    Seq("serve.hnsw.ndis_per_q", "serve.hnsw.hops_per_q", "serve.diskann.ndis_per_q")
      .map(_ -> "count") ++
    Seq("serve.diskann.cache_hit_ratio" -> "ratio", "serve.ivf_flat.cand_per_q" -> "count",
      "serve.ivf_sq8.raw_fetched_per_q" -> "count", "serve.ivf_pq.raw_fetched_per_q" -> "count",
      "serve.sparse_ip.scored_per_q" -> "count", "serve.sparse_ip.skip_ratio" -> "ratio",
      "serve.sparse_bm25.scored_per_q" -> "count", "serve.sparse_bm25.abandoned_per_q" -> "count") ++
    arms.map(a => s"serve.$a.useful_ratio" -> "ratio") ++
    Seq("kernel.serve_ns_per_dist" -> "ns", "kernel.serve_ns_per_posting" -> "ns",
      "kernel.bf_ns_per_pair" -> "ns", "kernel.pq_encode_ns_per_row" -> "ns") ++
    Seq("sources.sectors_per_q" -> "count", "sources.kib_per_q" -> "KiB",
      "sources.fetch_ratio" -> "ratio") ++
    Seq("build.ivf_s", "build.ivf_pq_s", "build.hnsw_s", "build.append_s", "build.save_s",
      "build.load_s", "setup.gen_s", "setup.build_s", "setup.load_s", "setup.truth_s",
      "setup.warmup_s").map(_ -> "s") ++
    Seq("query.plan_ms" -> "ms", "query.exec_ms" -> "ms", "query.plan_share" -> "ratio",
      "query.actions" -> "count", "query.analyzed_nodes" -> "count",
      "query.optimized_nodes" -> "count") ++
    Suite.PlanQueries.map(q => s"query.$q.plan_ms" -> "ms") ++
    Seq("op.jobs" -> "count", "op.stages" -> "count", "op.tasks" -> "count", "op.task_ms" -> "ms",
      "op.busy_share" -> "ratio", "op.sched_delay_ms" -> "ms", "op.shuffle_write_mb" -> "MiB",
      "op.shuffle_read_mb" -> "MiB", "op.spill_mb" -> "MiB", "op.input_mb" -> "MiB",
      "op.rdd_blocks_dropped" -> "count") ++
    Seq("stream.batches" -> "count", "stream.trigger_ms" -> "ms", "stream.addbatch_ms" -> "ms",
      "stream.rows_in" -> "count", "stream.outside_trigger_ms" -> "ms") ++
    Seq("jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count", "jvm.jit_ms" -> "ms",
      "jvm.heap_live_mb" -> "MiB", "jvm.code_cache_mb" -> "MiB") ++
    Seq("trace.overhead_s" -> "s")
  }

  /** The end-to-end metrics of the result line. `build_s` and `fail_ratio`
    * are printed too but carry no bound: `build_s` is a cold part of
    * set-up, already inside `setup_s`, and `fail_ratio` is 0 when correct. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s", "qps" -> "1/s",
    "p50_ms" -> "ms", "tail_ms" -> "ms", "recall" -> "ratio", "heap_mb" -> "MiB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = opts.getOrElse("out", "bench/out")
    val data = opts.getOrElse("data", "bench/data")
    val scratch = new java.io.File(out, s"scratch-${ProcessHandle.current().pid()}").getAbsolutePath
    new java.io.File(scratch).mkdirs()

    val spark = Session.create(scratch)
    val sc = spark.sparkContext
    val tracer = if (traced) new Tracer(true, Some(sc)) else Tracer.Off
    sc.addSparkListener(tracer.jobListener)
    val result =
      try workload match {
        case "serve_mixed" => ServeMixed.workload(spark, seed, scratch, tracer)
        case "suite_sf0.01" => Suite.workload(spark, seed, data, tracer)
        case other => sys.error(s"unknown workload $other")
      } finally {
        spark.stop()
        ServeMixed.deleteTree(new java.io.File(scratch))
      }

    if (traced) {
      val f = new java.io.File(out, s"$workload-seed$seed-trace.json")
      val layer = result.perLayer.map(m => s"${Json.str(m.name)}:${Json.num(m.value)}").mkString(",")
      java.nio.file.Files.writeString(f.toPath,
        s"""{"workload":${Json.str(workload)},"seed":$seed,"per_layer":{$layer},""" +
          s""""spans":${tracer.toJson}}""")
    }
    val correct = result.notes.find(_._1 == "correct").forall(_._2 == "true") &&
      result.failed == 0
    val have = (if (traced) result.perLayer else result.endToEnd).map(m => m.name -> m).toMap
    val wanted = if (traced) PerLayer else EndToEnd
    val metrics = wanted.map { case (n, u) => have.getOrElse(n, Metric(n, 0.0, u)) }
    val absent = wanted.map(_._1).filterNot(have.contains)
    result.notes.foreach { case (k, v) => println(s"note $k $v") }
    if (absent.nonEmpty) println(s"note not_exercised ${absent.mkString(",")}")
    result.endToEnd.filter(_ => !traced).foreach(m => println(s"metric ${m.name} ${m.value} ${m.unit}"))
    println(s"metric fail_ratio ${result.failed.toDouble / math.max(1L, result.attempted)} ratio")
    if (traced) metrics.foreach(m => println(s"metric ${m.name} ${m.value} ${m.unit}"))
    val body = metrics.map(m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}").mkString(",")
    println(s"""{"correct":$correct,"attempted":${result.attempted},"failed":${result.failed},""" +
      s""""metrics":{$body}}""")
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out, so end here
    Runtime.getRuntime.halt(0)
  }
}
