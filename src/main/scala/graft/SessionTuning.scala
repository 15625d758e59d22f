package graft

import org.apache.spark.sql.SparkSession

/** Session-level performance defaults shared by every entry point
  * (Bench/Verify/Protocol/Scale/Explain).
  *
  * Streaming checkpoint I/O: Spark 4.1's default checkpoint stack costs two
  * subprocess forks and a blocking checksum-sidecar write PER CHECKPOINT
  * FILE — thread dumps of the r13 bench showed every stream-join task
  * parked in `RawLocalFileSystem.setPermission → Shell.runCommand`
  * (the FileContext manager chmod's each mkdir/create; no native Hadoop
  * libs) and in `ChecksumCancellableFSDataOutputStream.close` awaiting the
  * sidecar writer. With 32 state partitions × 4 join stores × delta+meta
  * files, that was 2-3 s of pure wait per micro-batch at ~25 ms of CPU
  * (events_range_join_stream: 8.8 s → 2.2 s once bypassed).
  *
  * Both knobs are env-overridable; the defaults pick the rename-based
  * FileSystem manager (the pre-4.1 default, atomic-rename commit semantics
  * unchanged) and skip the optional checksum sidecars. On a deployment
  * whose checkpoint store lacks atomic rename or wants end-to-end checksum
  * verification, set GRAFT_STREAM_CKPT_MANAGER / GRAFT_STREAM_CKPT_CHECKSUM
  * to restore the 4.1 stack.
  */
object SessionTuning {

  /** Idempotently install the graft optimizer rules on a live session:
    * [[graft.plans.FastRoundRewrite]] (Round-on-double → the codegen'd
    * FastRound kernel — identical values, no per-row BigDecimal) and
    * [[graft.plans.FastSplitRewrite]] (single-space split → byte-scan
    * kernel). Each rule has its own A/B kill switch (GRAFT_FASTROUND /
    * GRAFT_FASTSPLIT = off); the flags gate ONLY the Catalyst rewrites —
    * the scalar delegates (Serve.sparkRound, BruteForce.roundHalfUp)
    * always use FastRound.round, which is bit-equal by contract. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val rules = Seq(
      "GRAFT_FASTROUND" -> graft.plans.FastRoundRewrite,
      "GRAFT_FASTSPLIT" -> graft.plans.FastSplitRewrite)
    for ((flag, rule) <- rules if !sys.env.get(flag).contains("off"))
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
  }

  def streaming(b: SparkSession.Builder): SparkSession.Builder = {
    val manager = sys.env.getOrElse(
      "GRAFT_STREAM_CKPT_MANAGER",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    val checksum = sys.env.getOrElse("GRAFT_STREAM_CKPT_CHECKSUM", "false")
    shuffle(b)
      .config("spark.sql.streaming.checkpointFileManagerClass", manager)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", checksum)
  }

  /** Shuffle-writer selection. The bypass-merge writer opens one file per
    * reduce partition per map task — jstack profiling of the sparse/hybrid
    * family showed 52% of runnable executor samples inside
    * `FileOutputStream.open0` under `DiskBlockObjectWriter.initialize`
    * (32×32 = 1,024 file creates per exchange at the bench's partition
    * count; sparse_bm25_iter_refine_page2 3.4 s vs 4.4 s once bypassed).
    * At production partition counts (≫ the 200 default threshold) the
    * bypass writer never fires anyway — forcing the sort-based writer at
    * low partition counts matches the at-scale plan shape AND removes the
    * file churn. Env-overridable (GRAFT_SHUFFLE_BYPASS_THRESHOLD). */
  def shuffle(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold",
      sys.env.getOrElse("GRAFT_SHUFFLE_BYPASS_THRESHOLD", "8"))
}
