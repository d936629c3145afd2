package graft

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** The concurrent-construction helper's contract (r17 optimization): the
  * evaluation matrices build independent cells through [[Par.ordered]],
  * and their union order / guard-exception determinism must not depend
  * on thread scheduling. */
class ParSpec extends SparkSpec {

  test("ordered preserves input order regardless of completion order") {
    val out = Par.ordered(Seq(30, 1, 20, 2, 10)) { ms =>
      Thread.sleep(ms.toLong); ms
    }
    assert(out === Seq(30, 1, 20, 2, 10))
  }

  test("first failure BY POSITION propagates, not the first by wall-clock") {
    val ex = intercept[IllegalArgumentException] {
      Par.ordered(Seq("slow-fail", "fast-fail")) {
        case "slow-fail" =>
          Thread.sleep(120)
          throw new IllegalArgumentException("positional-first")
        case "fast-fail" =>
          throw new IllegalArgumentException("wall-clock-first")
      }
    }
    assert(ex.getMessage === "positional-first",
      "the FIRST input's failure must win even when a later input fails sooner")
  }

  test("single-element and empty inputs run inline") {
    assert(Par.ordered(Seq(7))(_ * 2) === Seq(14))
    assert(Par.ordered(Seq.empty[Int])(_ * 2) === Seq.empty)
  }

  test("a failing cell cancels its sibling's running Spark job and propagates promptly") {
    val sc = spark.sparkContext
    val tagged = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
          Option(p.getProperty("spark.job.tags")).exists(_.contains("graft-par-"))))
          tagged.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, if (e.jobResult == JobSucceeded) "ok" else e.jobResult.toString)
    }
    sc.addSparkListener(listener)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      assert(cond, what)
    }
    try {
      val t0 = System.nanoTime()
      val ex = intercept[IllegalStateException] {
        Par.ordered(Seq(0, 1)) {
          case 0 =>
            waitFor("the sibling's job never started")(sc.statusTracker.getActiveJobIds().nonEmpty)
            throw new IllegalStateException("cell 0 failed")
          case _ =>
            // a 60 s job whose tasks end early only when Spark kills them
            sc.parallelize(1 to 2, 2).map { x =>
              val start = System.nanoTime()
              while (!TaskContext.get().isInterrupted() && System.nanoTime() - start < 60e9)
                Thread.sleep(10)
              x
            }.count()
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(ex.getMessage === "cell 0 failed")
      assert(secs < 8, s"the failure took $secs s to propagate")
      waitFor("the sibling's job is still running")(sc.statusTracker.getActiveJobIds().isEmpty)
      waitFor("no tagged job ended")(!tagged.isEmpty && ended.keySet.containsAll(tagged))
      tagged.forEach { id =>
        assert(ended.get(id).toLowerCase.contains("cancel"), s"job $id: ${ended.get(id)}")
      }
    } finally sc.removeSparkListener(listener)
  }
}
