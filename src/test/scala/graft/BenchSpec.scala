package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Bench`'s per-entry measurement: the layer split it records per
  * pass, and the failed passes it keeps out of the medians. */
class BenchSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private type Body = (SparkSession, String) => DataFrame

  test("a cheap entry measured twice reads identical jobs, stages and tasks") {
    val name = "knn_exact_cosine"
    val r = Bench.measure(spark, Seq(name -> SparkEntry.queries(name)), dir, passes = 2)
    assert(r.failed.isEmpty)
    val Seq(a, b) = r.passes(name)
    def counts(p: Bench.Pass) =
      (p.jobsBuild, p.jobs, p.stagesBuild, p.stages, p.tasksBuild, p.tasks)
    assert(counts(a) === counts(b))
    assert(a.jobs > 0 && a.stages > 0 && a.tasks > 0, counts(a))
    assert(a.jobsBuild <= a.jobs && a.tasksBuild <= a.tasks && a.taskSBuild <= a.taskS)
    Seq(a, b).foreach(p => assert(p.buildS + p.execS > 0 && p.wall === p.buildS + p.execS))
    val Seq((medName, med)) = r.medianPasses
    assert(medName === name && med === Seq(a, b).minBy(_.wall))
  }

  test("a throwing body lands in failed, not in the medians") {
    val ok: Body = (s, _) => s.range(3).toDF()
    val buildFails: Body = (_, _) => throw new IllegalStateException("boom")
    val execFails: Body = (s, _) => s.range(3).selectExpr("raise_error('boom') AS x")
    var calls = 0
    val firstFails: Body = (s, _) => {
      calls += 1
      if (calls == 1) throw new IllegalStateException("once") else s.range(3).toDF()
    }
    val r = Bench.measure(spark, Seq("ok" -> ok, "build_fails" -> buildFails,
      "exec_fails" -> execFails, "first_fails" -> firstFails), dir, passes = 2)
    assert(r.failed === Seq("build_fails", "exec_fails"))
    assert(r.medianPasses.map(_._1) === Seq("ok", "first_fails"))
    assert(r.passes("ok").size === 2)
    assert(r.passes("first_fails").size === 1, "the failed pass is not timed")
  }
}
