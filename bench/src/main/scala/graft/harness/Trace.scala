package graft.harness

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `kind` names the layer ("workload", "pass", an op
  * kind, "spark_job"); times are nanoTime. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
    val start: Long) {
  @volatile var end: Long = start
  def durNs: Long = end - start
}

/** In-memory span tree: workload → pass → op, with Spark jobs attached as
  * children of the op that ran them (through the job group). Nothing is
  * written until the run ends. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext]) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Span]
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val GroupPrefix = "span-"

  def span[T](name: String, kind: String, jobs: Boolean = true)(f: => T): T =
    if (!enabled) f
    else {
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), if (parent == null) 0 else parent.id,
        name, kind, System.nanoTime())
      spans.synchronized(spans += s)
      current.set(s)
      if (jobs) sc.foreach(_.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false))
      try f
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        if (jobs) sc.foreach { c =>
          if (parent == null) c.clearJobGroup()
          else c.setJobGroup(GroupPrefix + parent.id, parent.name, interruptOnCancel = false)
        }
      }
    }

  /** Job start/end from the listener bus, as children of the op span. */
  val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = g.filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toInt).getOrElse(0)
      // listener time is ms since the epoch; rebase onto nanoTime
      val startNs = System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L
      val s = new Span(ids.incrementAndGet(), parent, s"job ${e.jobId}", "spark_job", startNs)
      spans.synchronized(spans += s)
      jobSpans.put(e.jobId, s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      val s = jobSpans.remove(e.jobId)
      if (s != null) s.end = System.nanoTime() - (System.currentTimeMillis() - e.time) * 1000000L
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span: its duration minus the union of its children. */
  def selfNs: Map[Int, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  def toJson: String = {
    val self = selfNs
    all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},""" +
        s""""start_ns":${s.start},"dur_ns":${s.durNs},"self_ns":${self.getOrElse(s.id, 0L)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  val Off = new Tracer(false, None)
}

/** Operator layer as Spark sees it: jobs, stages, tasks and their metrics. */
final class OpCounters extends SparkListener {
  val jobs, stages, tasks, taskMs, schedDelayMs, shufWrite, shufRead, spill, input,
    rddDropped = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      val info = e.taskInfo
      if (info != null) schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      rddDropped.incrementAndGet()
  }
  private def all = Seq(jobs, stages, tasks, taskMs, schedDelayMs, shufWrite, shufRead, spill,
    input, rddDropped)
  def reset(): Unit = all.foreach(_.set(0L))

  def metrics(wallS: Double): Seq[Metric] = {
    def mb(a: AtomicLong) = a.get / 1048576.0
    Seq(
      Metric("op.jobs", jobs.get.toDouble, "count"),
      Metric("op.stages", stages.get.toDouble, "count"),
      Metric("op.tasks", tasks.get.toDouble, "count"),
      Metric("op.task_ms", taskMs.get.toDouble, "ms"),
      Metric("op.busy_share", if (wallS > 0) taskMs.get / (wallS * 1000.0 * Fixed.Cores) else 0.0, "ratio"),
      Metric("op.sched_delay_ms", schedDelayMs.get.toDouble, "ms"),
      Metric("op.shuffle_write_mb", mb(shufWrite), "MiB"),
      Metric("op.shuffle_read_mb", mb(shufRead), "MiB"),
      Metric("op.spill_mb", mb(spill), "MiB"),
      Metric("op.input_mb", mb(input), "MiB"),
      Metric("op.rdd_blocks_dropped", rddDropped.get.toDouble, "count"))
  }
}

/** Query layer: Catalyst phase times from each action's `qe.tracker`. The
  * listener bus is drained after every op, so what accumulated belongs to
  * the op that just ran. */
final class QueryCounters extends QueryExecutionListener {
  val planMs, execMs, actions, analyzedNodes, optimizedNodes = new AtomicLong
  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = phases.valuesIterator.map(_.durationMs).sum
    planMs.addAndGet(plan)
    execMs.addAndGet(math.max(0L, durationNs / 1000000L))
    actions.incrementAndGet()
    analyzedNodes.addAndGet(nodes(qe.analyzed))
    optimizedNodes.addAndGet(nodes(qe.optimizedPlan))
  }
  private def nodes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Long = {
    var n = 0L
    p.foreach(_ => n += 1)
    n
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try record(qe, durationNs) catch { case _: Throwable => () }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    try record(qe, 0L) catch { case _: Throwable => () }
  def reset(): Unit = Seq(planMs, execMs, actions, analyzedNodes, optimizedNodes).foreach(_.set(0L))
  def snapshot: (Long, Long, Long, Long, Long) =
    (planMs.get, execMs.get, actions.get, analyzedNodes.get, optimizedNodes.get)
}

/** Stream layer: micro-batch progress events. */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches, triggerMs, addBatchMs, rowsIn = new AtomicLong
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches.incrementAndGet()
    val dm = p.durationMs
    if (dm != null) {
      Option(dm.get("triggerExecution")).foreach(v => triggerMs.addAndGet(v.longValue()))
      Option(dm.get("addBatch")).foreach(v => addBatchMs.addAndGet(v.longValue()))
    }
    rowsIn.addAndGet(p.numInputRows)
  }
  def reset(): Unit = Seq(batches, triggerMs, addBatchMs, rowsIn).foreach(_.set(0L))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
