package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.Tables

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --cores <n> --work <dir>`. Prints every metric of its mode by name
  * and unit, a host line, and as the last line the result object. Exits 1
  * if any answer check failed. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val loadBefore = Host.loadAvg

    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    Tables.SessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exitCode =
      try run(spark, workload, seed, seconds, trace, cores, work, loadBefore)
      finally spark.stop()
    System.exit(exitCode)
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, cores: Int, work: Path, loadBefore: String): Int = {
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, workload, seed, cores, work.resolve(workload), tracer)
    val w = Workload(workload, ctx)

    // set-up from scratch SetupReps times, never traced
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setUp(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = ctx.step("warm-up") {
      val t0 = System.nanoTime(); w.warmUp(); (System.nanoTime() - t0) / 1e9
    }
    val (jobFloor, stageFloor) = if (trace) floorProbe(spark, cores) else (0.0, 0.0)
    val setupFailures = ctx.failures.size

    val gc0 = Host.gcMs
    ctx.timing = true
    w.run(seconds)
    ctx.timing = false
    val gcMs = (Host.gcMs - gc0).toDouble
    tracer.foreach { t => t.attach(true); t.drain() }
    val kernels = if (trace) w.kernels() else Map.empty[String, Double]
    val recs = ctx.records.toSeq

    // per op type and part: its median latency and the items one op
    // completes, so both metrics weigh every slice equally, whatever mix a
    // run ended on
    def perType(rs: Seq[OpRecord]): Seq[(String, Double, Double)] =
      rs.groupBy(r => (r.op, r.part)).toSeq.sortBy(_._1).map { case ((op, _), g) =>
        (op, Stats.median(g.map(_.totalMs)), g.map(w.itemsOf).sum / g.size)
      }
    def opMs(rs: Seq[OpRecord]): Double = Stats.geomean(perType(rs).map(_._2))
    def itemsPerS(rs: Seq[OpRecord]): Double = {
      val t = perType(rs)
      t.map(_._3).sum / t.map(_._2).sum * 1000
    }

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> Stats.median(setupS),
        "op_ms_p50" -> opMs(recs),
        "items_per_s" -> itemsPerS(recs),
        "recall" -> w.recall)
      else {
        val t = tracer.get
        val traced = recs.filter(r => r.traced && !r.failed)
        val perOp = Metrics.Ops.flatMap { op =>
          val rs = traced.filter(_.op == op)
          val ws = rs.map(r => t.workOf(r.id))
          def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
          Seq("build_ms" -> med(rs.map(_.buildMs)), "exec_ms" -> med(rs.map(_.execMs)),
            "plan_ms" -> med(ws.map(_.planMs.toDouble)), "jobs" -> med(ws.map(_.jobs.toDouble)),
            "tasks" -> med(ws.map(_.tasks.toDouble)), "task_ms" -> med(ws.map(_.taskMs.toDouble)),
            "shuffle_bytes" -> med(ws.map(_.shuffleBytes.toDouble)),
            "scan_rows" -> med(ws.map(_.scanRows.toDouble))).map { case (m, v) => s"$op.$m" -> v }
        }
        // tracing overhead: traced ÷ untraced ops of the types both sets hold
        val ok = recs.filterNot(_.failed)
        val shared = ok.filter(_.traced).map(_.op).toSet.intersect(ok.filterNot(_.traced).map(_.op).toSet)
        val (on, off) = ok.filter(r => shared(r.op)).partition(_.traced)
        def ratio(f: Seq[OpRecord] => Double, inverse: Boolean = false): Double =
          if (on.isEmpty || off.isEmpty) 0.0
          else if (inverse) f(off) / f(on) else f(on) / f(off)
        perOp ++ Seq(
          "spark.job_floor_ms" -> jobFloor,
          "spark.stage_floor_ms" -> stageFloor,
          "jvm.gc_ms" -> gcMs,
          "jvm.peak_rss_mb" -> Host.vmHwmMb) ++
          { val r = w.ratios(t.workOf); Metrics.Ratios.map(n => n -> r.getOrElse(n, 0.0)) } ++
          Metrics.Kernels.map(k => s"kernel.$k.rows_per_s").map(n => n -> kernels.getOrElse(n, 0.0)) ++ Seq(
          "trace.overhead_op_ms_p50" -> ratio(opMs),
          "trace.overhead_items_per_s" -> ratio(itemsPerS, inverse = true))
      }

    val units = Metrics.units(trace)
    val complete = metrics.map(_._1).toSet == units.keySet && metrics.size == units.size
    if (!complete) ctx.failures += s"printed metrics differ from the catalogue: " +
      s"${metrics.map(_._1).toSet.diff(units.keySet)} / ${units.keySet.diff(metrics.map(_._1).toSet)}"
    tracer.foreach(_.dump(work.resolve(s"$workload-spans.jsonl")))

    val host = s"""{"nproc":$cores,"mem_total_mb":${Host.memTotalMb},""" +
      s""""driver_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""loadavg_before":$loadBefore,"loadavg_after":${Host.loadAvg},""" +
      s""""java":"${System.getProperty("java.version")}","spark":"${spark.version}"}"""
    ctx.failures.foreach(f => System.err.println(s"[graftbench] FAILED $f"))
    metrics.foreach { case (n, v) => println(f"$n%-40s ${fmt(v)}%16s ${units.getOrElse(n, "?")}") }
    println(s"""{"workload":"$workload","seed":$seed,"trace":${if (trace) 1 else 0},"host":$host,""" +
      s""""setup_s_reps":${setupS.map(fmt).mkString("[", ",", "]")},"warmup_s":${fmt(warmS)},""" +
      s""""peak_rss_mb":${fmt(Host.vmHwmMb)},"ops":""" +
      recs.filterNot(_.failed).groupBy(_.op).toSeq.sortBy(_._1).map { case (op, g) =>
        s""""$op":{"n":${g.size},"ms_p50":${fmt(Stats.median(g.map(_.totalMs)))},""" +
          s""""cpu_ms_p50":${fmt(Stats.median(g.map(_.cpuMs)))}}"""
      }.mkString("{", ",", "}") + "}")
    val failed = recs.count(_.failed) + setupFailures +
      (if (complete) 0 else 1)
    val correct = ctx.failures.isEmpty
    val body = metrics.map { case (n, v) => s""""$n":{"value":${fmt(v)},"unit":"${units(n)}"}""" }
    println(s"""{"correct":$correct,"attempted":${math.max(1, recs.size)},"failed":$failed,""" +
      s""""metrics":${body.mkString("{", ",", "}")}}""")
    if (correct) 0 else 1
  }

  /** every digit the double carries; a non-finite value (failed ops rank
    * slower than every success) prints as -1 */
  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else java.lang.Double.toString(v)

  /** The host's per-job floor: a trivial 1-task job and a minimal 2-stage
    * job, median of 11 after 3 warm-ups each. */
  private def floorProbe(spark: SparkSession, cores: Int): (Double, Double) = {
    val sc = spark.sparkContext
    def one(): Unit = sc.parallelize(Seq(1), 1).count()
    def two(): Unit = sc.parallelize(0 until cores, cores).map(x => (x % 2, 1)).reduceByKey(_ + _, cores).count()
    def ms(f: () => Unit): Double = { val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6 }
    (0 until 3).foreach { _ => one(); two() }
    (Stats.median((0 until 11).map(_ => ms(one))), Stats.median((0 until 11).map(_ => ms(two))))
  }
}
