package graft.harness

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One reported number: name, value and unit, as the result line carries it. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload run hands back to [[Main]]. */
final case class RunResult(
    attempted: Long,
    failed: Long,
    endToEnd: Seq[Metric],
    perLayer: Seq[Metric],
    notes: Seq[(String, String)])

/** The process-wide fixed settings every workload shares. Counts are fixed
  * here, never derived from the machine, so a run means the same work on
  * any host. */
object Fixed {
  val Cores = 4
  val ServeClients = 2
  /** Set-ups per run where a set-up is cheap enough to repeat. */
  val SetupReps = 3
  /** Warm-up passes stop once two consecutive passes differ by less than
    * this share, or after [[MaxWarmups]] passes. */
  val SettleShare = 0.05
  val MaxWarmups = 2
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  private val Ladder = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.5, 99.9)

  /** The highest percentile on the ladder with at least ten samples
    * beyond it, its value, and how many samples lie beyond it. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val p = Ladder.filter(q => n - math.ceil(q / 100.0 * n).toInt >= 10).lastOption
      .getOrElse(50.0)
    val beyond = n - math.ceil(p / 100.0 * n).toInt
    (p, percentile(xs, p), beyond)
  }
}

object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMillis: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  def gcCount: Long = gcBeans.map(_.getCollectionCount).filter(_ >= 0).sum
  def jitMillis: Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime else 0L
  }
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0

  /** Full collection until the heap stops shrinking, then the live heap. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = 0L
    var i = 0
    while (i < 4) {
      System.gc()
      used = mem.getHeapMemoryUsage.getUsed
      if (used >= last - (1L << 20)) i = 4 else { last = used; i += 1 }
    }
    used / 1048576.0
  }

  /** GC, JIT and code-cache deltas over `f`, as jvm.* metrics. */
  final class Window {
    private val gc0 = gcMillis
    private val gcn0 = gcCount
    private val jit0 = jitMillis
    def metrics(liveMb: Double): Seq[Metric] = Seq(
      Metric("jvm.gc_ms", (gcMillis - gc0).toDouble, "ms"),
      Metric("jvm.gc_count", (gcCount - gcn0).toDouble, "count"),
      Metric("jvm.jit_ms", (jitMillis - jit0).toDouble, "ms"),
      Metric("jvm.heap_live_mb", liveMb, "MiB"),
      Metric("jvm.code_cache_mb", codeCacheMb, "MiB"))
  }
}

object Session {
  /** A local[4] session with the settings the library's own entry points
    * use; scratch files go under `scratch`, inside the checkout. */
  def create(scratch: String): SparkSession = {
    val spark = graft.SessionTuning.streaming(SparkSession.builder()
      .master(s"local[${Fixed.Cores}]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", Fixed.Cores.toString)
      .config("spark.default.parallelism", Fixed.Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SessionTuning.install(spark)
    spark
  }
}

/** Seeded order and choice; the workload seed is the only source. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17L)
  def nextInt(n: Int): Int = r.nextInt(n)
  def nextDouble(): Double = r.nextDouble()
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

object Timing {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median over `reps` full set-ups; the last one is kept, earlier ones
    * are closed. Each rep reports its parts, whose medians come along. */
  def repeatedSetup[T](reps: Int)(once: mutable.LinkedHashMap[String, Double] => T)
      : (T, Double, Map[String, Double]) = {
    var kept: Option[T] = None
    val totals = mutable.ArrayBuffer.empty[Double]
    val parts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    (1 to reps).foreach { _ =>
      val p = mutable.LinkedHashMap.empty[String, Double]
      val (v, s) = secs(once(p))
      kept.foreach(release)
      kept = Some(v)
      totals += s
      System.err.println(f"setup rep ${totals.length}: $s%.2f s " +
        p.map { case (k, x) => f"$k=$x%.2f" }.mkString(" "))
      p.foreach { case (k, x) => parts.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += x }
    }
    (kept.get, Stats.median(totals.toSeq), parts.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap)
  }

  /** Untimed warm-up: run `pass` (which returns its seconds) until two
    * consecutive passes differ by less than [[Fixed.SettleShare]], or
    * [[Fixed.MaxWarmups]] passes ran. Returns the number of passes. */
  def settle(pass: () => Double): Int = {
    var prev = Double.NaN
    var n = 0
    var settled = false
    while (!settled && n < Fixed.MaxWarmups) {
      val w = pass()
      n += 1
      System.err.println(f"warm-up pass $n: $w%.3f s")
      settled = !prev.isNaN && math.abs(w - prev) / prev < Fixed.SettleShare
      prev = w
    }
    n
  }

  private def release(v: Any): Unit = v match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}
