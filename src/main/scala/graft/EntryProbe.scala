package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Per-entry cost breakdown (optimization guide §1 "measure first").
  *
  * The bench reports one wall number per entry; at the gate SFs the data
  * is small enough that wall time is dominated by FIXED costs — driver
  * actions issued while the query is CONSTRUCTED (model-state collects,
  * Lloyd iterations, checkpoint materializations), codegen/planning of
  * large literal expressions, and per-stage scheduling latency — not by
  * row throughput. Optimizing those requires seeing them separately:
  *
  *   - build_sec: wall time of `fn(spark, dir)` — everything the entry
  *     does BEFORE the final plan exists (sequential Spark jobs included).
  *   - exec_sec: wall time of the noop-sink write of the final plan (the
  *     bench's timed shape).
  *   - jobs/stages/tasks and summed executor task time across both
  *     phases (listener-collected, read after draining the listener
  *     bus): a large wall/task-time ratio means scheduling + planning
  *     overhead, not compute.
  *
  * Usage: `sbt "runMain graft.EntryProbe <entry>[,<entry>...]"` with the
  * usual SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS env; set
  * SPARK_GRAFT_EXPLAIN_DIR to also dump `.explain("formatted")` of each
  * probed entry to `<dir>/<entry>.txt` (the plans/ deliverable).
  * Not part of the correctness gate — measurement tooling like ScaleProbe.
  */
object EntryProbe {

  private final class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeNs = 0L
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobWall = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      jobStart.put(j.jobId, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.get(j.jobId)
      if (t0 > 0) jobWall.add((j.jobId, (j.time - t0) / 1e3))
    }
    val stageInfo = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Double, String)]()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val wall = (for {
        a <- s.stageInfo.completionTime; b <- s.stageInfo.submissionTime
      } yield (a - b) / 1e3).getOrElse(-1.0)
      stageInfo.add((s.stageInfo.stageId, s.stageInfo.numTasks, wall,
        s.stageInfo.name.takeWhile(_ != '\n').take(60)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) taskTimeNs += m.executorRunTime * 1000000L
    }
    def snapshot: (Int, Int, Int, Double) = (jobs, stages, tasks, taskTimeNs / 1e9)
  }

  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    require(names.nonEmpty, "usage: EntryProbe <entry>[,<entry>...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.SessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown entry: $name"))
      // warm-up at the smallest SF mirrors Bench (JIT + codegen caches);
      // NonFatal only + a logged failure (ADVICE r17: a silently failed
      // warm-up skews the probe with no signal), dir overridable
      val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[EntryProbe] warm-up failed for $name: $e") }
        spark.catalog.clearCache()
      }
      val c = new Counts
      spark.sparkContext.addSparkListener(c)
      spark.sparkContext.setJobDescription(s"probe:$name:build")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      Bridge.drainListeners(spark)
      val (jobsB, stagesB, tasksB, ttB) = c.snapshot
      explainDir.foreach { d =>
        val f = new java.io.File(d, s"$name.txt")
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath,
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      spark.sparkContext.setJobDescription(s"probe:$name:exec")
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      Bridge.drainListeners(spark)
      val (jobs, stages, tasks, tt) = c.snapshot
      spark.sparkContext.removeSparkListener(c)
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val topJobs = c.jobWall.asScala.toSeq.sortBy(-_._2).take(8)
        .map { case (id, s) => s"[$id,${f3(s)}]" }.mkString("[", ",", "]")
      val topStages = c.stageInfo.asScala.toSeq.sortBy(-_._3).take(8)
        .map { case (id, n, w, nm) => s"""[$id,$n,${f3(w)},"$nm"]""" }
        .mkString("[", ",", "]")
      val line = s""""$name":{"top_jobs":$topJobs,"top_stages":$topStages,"build_sec":${f3((t1 - t0) / 1e9)}""" +
        s""","exec_sec":${f3((t3 - t2) / 1e9)}""" +
        s""","jobs_build":$jobsB,"jobs_total":$jobs""" +
        s""","stages_build":$stagesB,"stages_total":$stages""" +
        s""","tasks_build":$tasksB,"tasks_total":$tasks""" +
        s""","task_time_build_sec":${f3(ttB)},"task_time_sec":${f3(tt)}}"""
      line
    }
    println(s"""{"metric":"entry_probe","sf":"$sfDir","cpus":$cpus,""" +
      s""""entries":${results.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
