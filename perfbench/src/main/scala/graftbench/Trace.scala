package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Ids of op spans are `<workload>:<seq>`; their
  * children are `build` and `exec`; `job` and `stage` spans come from the
  * Spark listener. Times are epoch milliseconds. */
final case class Span(id: String, name: String, parent: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Work Spark did for one op, summed over the jobs of its job group. */
final case class SparkWork(jobs: Int, tasks: Long, taskMs: Long, shuffleBytes: Long,
                           scanRows: Long, planMs: Long)

object Trace {
  val DrainGroup = "graftbench-drain"

  /** duration minus the union of the children's intervals (clipped to the
    * parent) — the time a span spent outside every child */
  def selfMs(parent: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, parent.startMs), math.min(c.endMs, parent.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    parent.durMs - covered
  }
}

/** Spans in memory plus Spark listener counts, attributed to ops through
  * the job group the benchmark sets around every op. Listener callbacks run
  * on Spark's bus thread; `drain` waits for them before anything is read. */
final class Tracer(spark: SparkSession) {
  import Trace._
  private val sc = spark.sparkContext
  private val opSpans = mutable.ArrayBuffer.empty[Span]
  private val lock = new Object
  private val groupOfJob = mutable.HashMap.empty[Int, String]
  private val groupOfStage = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val busSpans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.HashMap.empty[String, SparkWork].withDefaultValue(SparkWork(0, 0, 0, 0, 0, 0))
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Long)] // (start epoch ms, duration ms)
  private val groups = mutable.HashSet.empty[String]
  @volatile private var drained = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      groupOfJob(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => if (!groupOfStage.contains(s)) groupOfStage(s) = g)
      if (groups(g)) {
        val w = work(g); work(g) = w.copy(jobs = w.jobs + 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val g = groupOfJob.getOrElse(e.jobId, "")
      if (g == DrainGroup) drained += 1
      else if (groups(g))
        busSpans += Span(s"job:${e.jobId}", "job", g, jobStart(e.jobId).toDouble, e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      val g = groupOfStage.getOrElse(info.stageId, "")
      if (groups(g) && info.failureReason.isEmpty) {
        val m = info.taskMetrics
        val w = work(g)
        work(g) = w.copy(tasks = w.tasks + info.numTasks,
          taskMs = w.taskMs + (if (m == null) 0L else m.executorRunTime),
          shuffleBytes = w.shuffleBytes + (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          scanRows = w.scanRows + (if (m == null) 0L else m.inputMetrics.recordsRead))
        busSpans += Span(s"stage:${info.stageId}.${info.attemptNumber()}", "stage", g,
          info.submissionTime.getOrElse(0L).toDouble, info.completionTime.getOrElse(0L).toDouble)
      }
    }
  }
  /** analysis + optimisation + planning of every action, placed in time by
    * its planning phase (the action runs inside exactly one op window) */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum
      ph.get(QueryPlanningTracker.PLANNING).foreach(p =>
        lock.synchronized(planPhases += ((p.startTimeMs, ms))))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private var attached = false

  /** Listener on/off, so a traced run can interleave untraced ops and
    * measure its own overhead. */
  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener) }
    attached = on
  }
  def isAttached: Boolean = attached

  /** Jobs of this job group belong to the op span of the same id. */
  def register(group: String): Unit = lock.synchronized(groups += group)
  def record(s: Span): Unit = lock.synchronized(opSpans += s)

  /** Block until the bus has delivered every event posted so far: a marker
    * job's end arrives after all earlier events on the same queue. */
  def drain(): Unit = if (attached) {
    val before = drained
    sc.setJobGroup(DrainGroup, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (drained <= before && System.nanoTime() < deadline) Thread.sleep(2)
    // QueryExecutionListener callbacks may ride another bus queue
    Thread.sleep(20)
  }

  def workOf(group: String): SparkWork = lock.synchronized {
    val w = work(group)
    opSpans.find(_.id == group) match {
      case Some(op) =>
        val plan = planPhases.collect { case (t, ms) if t >= op.startMs && t <= op.endMs => ms }.sum
        w.copy(planMs = plan)
      case None => w
    }
  }

  /** Every span, with parents resolved and self time, as JSON lines. */
  def dump(path: java.nio.file.Path): Int = lock.synchronized {
    val all = opSpans.toSeq ++ busSpans.toSeq.map { s =>
      // a job or stage belongs to the op phase (build/exec) it started in
      val phase = opSpans.find(p => p.parent == s.parent && p.startMs <= s.startMs && s.startMs <= p.endMs)
      s.copy(parent = phase.map(_.id).getOrElse(s.parent))
    }
    val kids = all.groupBy(_.parent)
    val lines = all.map { s =>
      val self = Trace.selfMs(s, kids.getOrElse(s.id, Nil))
      s"""{"id":"${s.id}","name":"${s.name}","parent":"${s.parent}",""" +
        f""""start_ms":${s.startMs}%.1f,"dur_ms":${s.durMs}%.3f,"self_ms":$self%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
    lines.size
  }
}
