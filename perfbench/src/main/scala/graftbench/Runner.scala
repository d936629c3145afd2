package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed op. `part` is the slice of its op type it belongs to
  * (`point_serve`: the filter's selectivity class), so a run's figures can
  * weigh every slice equally. `failed` ops rank slower than every success. */
final case class OpRecord(op: String, part: String, id: String, buildMs: Double, execMs: Double,
                          cpuMs: Double, traced: Boolean, failed: Boolean) {
  def totalMs: Double = if (failed) Double.PositiveInfinity else buildMs + execMs
}

/** What every workload gets: the session, the seed, a scratch directory
  * inside the checkout, and the op clock. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val cores: Int, val dir: Path, val tracer: Option[Tracer]) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** epoch milliseconds on the monotonic clock (comparable with Spark's
    * event times, immune to wall-clock steps) */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** ops are recorded only while timing; set-up and warm-up ops run the
    * same code unrecorded */
  var timing = false
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  private val seq = new java.util.concurrent.atomic.AtomicInteger()
  private def fail(msg: String): Unit = failures.synchronized(failures += msg.take(400))

  /** Run one op: `build` is the operator call that returns the frame
    * (driver-side collects included), `exec` is the action. An exception or
    * a failed check marks the op failed. */
  def op[A, B](name: String, part: String = "")(build: => A)(exec: A => B): Option[B] = {
    val id = s"$workload:${seq.incrementAndGet()}"
    val traced = timing && tracer.exists(_.isAttached)
    val sc = spark.sparkContext
    if (traced) {
      tracer.foreach(_.register(id))
      sc.setJobGroup(id, name, interruptOnCancel = false)
    }
    val t0 = nowMs
    val c0 = Host.cpuMs
    var t1 = t0
    try {
      val a = build
      t1 = nowMs
      val b = exec(a)
      val t2 = nowMs
      if (timing) records += OpRecord(name, part, id, t1 - t0, t2 - t1, Host.cpuMs - c0, traced, failed = false)
      tracer.filter(_ => traced).foreach { t =>
        t.record(Span(id, name, "", t0, t2))
        t.record(Span(s"$id/build", "build", id, t0, t1))
        t.record(Span(s"$id/exec", "exec", id, t1, t2))
      }
      Some(b)
    } catch {
      case e: Throwable =>
        fail(s"$id $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        if (timing) records += OpRecord(name, part, id, t1 - t0, nowMs - t1, Host.cpuMs - c0, traced, failed = true)
        None
    } finally if (traced) sc.clearJobGroup()
  }

  /** Answer check on the op just run (warm-up ops are checked too). */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    val id = s"$workload:${seq.get}"
    fail(s"$id check failed: $what")
    if (records.nonEmpty && records.last.id == id && !records.last.failed)
      records(records.size - 1) = records.last.copy(failed = true)
  }

  def path(name: String): String = dir.resolve(name).toString

  /** a timed set-up step, logged to stderr */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[graftbench] $workload $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

/** The host a result was measured on; a comparison across different hosts
  * can be refused from the JSON alone. */
object Host {
  private def read(p: String): String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8") catch { case _: Throwable => "" }
  private def statusKb(key: String): Long =
    read("/proc/self/status").linesIterator.find(_.startsWith(key + ":"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  def vmHwmMb: Double = statusKb("VmHWM") / 1024.0
  def memTotalMb: Long =
    read("/proc/meminfo").linesIterator.find(_.startsWith("MemTotal:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)
  /** CPU time of the whole JVM (driver, executor tasks, JIT, GC) */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
  def loadAvg: String = read("/proc/loadavg").split(" ").take(3).mkString("[", ",", "]")
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

/** The benchmark's metric catalogue — BENCHMARK.json must list exactly
  * these names (SelfTest checks it), and a run prints exactly the set of
  * its mode. */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("op_ms_p50", "ms", "lower"),
    M("items_per_s", "1/s", "higher"),
    M("recall", "fraction", "higher"))

  val Ops: Seq[String] = Seq("prefilter", "postfilter", "acorn_ivf", "acorn_hnsw",
    "curate", "append", "raw_pq", "raw_hnsw", "neardup_lsh", "neardup_cc")
  val OpMeasures: Seq[(String, String)] = Seq("build_ms" -> "ms", "plan_ms" -> "ms",
    "exec_ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "task_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "scan_rows" -> "rows")
  val Kernels: Seq[String] = Seq("cosine", "l2", "hamming", "pq_nearest_code", "nearest_centroid")

  val PerLayer: Seq[M] =
    Ops.flatMap(op => OpMeasures.map { case (m, u) => M(s"$op.$m", u, "lower") }) ++ Seq(
      M("spark.job_floor_ms", "ms", "lower"),
      M("spark.stage_floor_ms", "ms", "lower"),
      M("jvm.gc_ms", "ms", "lower"),
      M("jvm.peak_rss_mb", "MiB", "lower"),
      M("acorn_ivf.scan_rows_per_result", "rows", "lower"),
      M("postfilter.underfull_share", "fraction", "lower"),
      M("neardup_lsh.pairs_per_planted", "ratio", "lower"),
      M("curate.accept_share", "fraction", "higher"),
      M("raw_hnsw.beam_miss_share", "fraction", "lower")) ++
    Kernels.map(k => M(s"kernel.$k.rows_per_s", "rows/s", "higher")) ++ Seq(
      M("trace.overhead_op_ms_p50", "ratio", "lower"),
      M("trace.overhead_items_per_s", "ratio", "lower"))

  /** the ratios a workload measures where the work happens */
  val Ratios: Seq[String] = Seq("acorn_ivf.scan_rows_per_result", "postfilter.underfull_share",
    "neardup_lsh.pairs_per_planted", "curate.accept_share", "raw_hnsw.beam_miss_share")

  def units(trace: Boolean): Map[String, String] =
    (if (trace) PerLayer else EndToEnd).map(m => m.name -> m.unit).toMap
}
