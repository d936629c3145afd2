package graftbench

import java.nio.ByteBuffer
import java.security.MessageDigest
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Tests of the benchmark's own code (no Spark session needed):
  * `python3 perfbench/build.py test`. Argument: path of BENCHMARK.json. */
object SelfTest {
  private var failures = 0
  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: ${e.getMessage}") }
  private def eq[T](got: T, want: T): Unit = assert(got == want, s"got $got, want $want")
  private def near(got: Double, want: Double): Unit = assert(math.abs(got - want) < 1e-9, s"got $got, want $want")

  private def digest(vectors: Array[Array[Float]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(4)
    vectors.foreach(_.foreach { x => buf.clear(); buf.putFloat(x); md.update(buf.array()) })
    md.digest().map("%02x".format(_)).mkString
  }
  private def digestText(xs: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    xs.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def inputs(seed: Long): Seq[String] = {
    val space = new Data.VectorSpace(seed, 64, 24, 0.8)
    val docs = new Data.DocStream(seed, space)
    val base = docs.base(500)
    val round = docs.round(1, 500, 100)
    Seq(digest(space.corpus(300)), digest(Array.tabulate(5)(i => space.query(i))),
      digestText(Data.metadata(seed, 300).map(_.toString)),
      digestText((0 until 20).map(i => Data.filterOf(1 + i % 3, i / 3 % 3, Data.rng(seed, 8, i)).toString)),
      digestText((base ++ round).map(d => s"${d.id}|${d.kind}|${d.text}")),
      digest((base ++ round).map(_.vec)))
  }

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical inputs") { eq(inputs(7), inputs(7)) }
    test("different seeds give different inputs") {
      val (a, b) = (inputs(7), inputs(8))
      a.zip(b).foreach { case (x, y) => assert(x != y, s"digest $x repeats across seeds") }
    }
    test("percentile interpolates linearly") {
      near(Stats.percentile(Seq(1.0, 2, 3, 4), 50), 2.5)
      near(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.1)
      near(Stats.percentile(Seq(7.0), 90), 7.0)
      near(Stats.median(Seq(5.0, 1, 3)), 3.0)
      near(Stats.percentile(Seq(3.0, 1, 2), 0), 1.0)
      near(Stats.percentile(Seq(3.0, 1, 2), 100), 3.0)
    }
    test("geomean and recall on fixed samples") {
      near(Stats.geomean(Seq(1.0, 4.0)), 2.0)
      near(Stats.geomean(Seq(2.0, 8.0, 4.0)), 4.0)
      near(Stats.recallAtK(Seq(1L, 2, 3, 4), Seq(2L, 4, 9), 4), 0.5)
      near(Stats.recallAtK(Seq(1L, 2, 3, 4, 5), Seq(5L), 4), 0.0)
      near(Stats.recallAtK(Nil, Seq(1L), 10), 1.0)
    }
    test("self time is duration minus the union of children") {
      val p = Span("w:1", "op", "", 0, 10)
      near(Trace.selfMs(p, Seq(Span("a", "x", "w:1", 1, 3), Span("b", "x", "w:1", 2, 5),
        Span("c", "x", "w:1", 7, 8), Span("d", "x", "w:1", 9, 12))), 4.0)
      near(Trace.selfMs(p, Nil), 10.0)
    }
    test("oracle scores and ties follow the engine's conventions") {
      val v = Array(1f, 2f, 3f)
      eq(Oracle.cosine(v, v), 10000L)
      eq(Oracle.l2(v, v), 0L)
      eq(Oracle.l2(Array(0f, 0f), Array(3f, 4f)), 50000L)
      val vecs = Array(Array(1f, 0f), Array(1f, 0f), Array(0f, 1f), Array(2f, 0f))
      eq(Oracle.topK(vecs, Array(1f, 0f), 3, cosineMetric = true, _ => true).map(_._1), Seq(0L, 1L, 3L))
      eq(Oracle.topK(vecs, Array(1f, 0f), 2, cosineMetric = false, i => i != 0).map(_._1), Seq(1L, 3L))
    }
    test("predicates follow the reference semantics, NULL fails every op") {
      val m = Data.Meta(null, java.lang.Double.valueOf(12.5), 2015, "zorworks", "DE")
      assert(!Data.Pred("color", "exact", "red").matches(m))
      assert(Data.Pred("item_weight", "leq", 12.5).matches(m))
      assert(!Data.Pred("item_weight", "<", 12.5).matches(m))
      assert(Data.Pred("model_year", "geq", 2015).matches(m) && !Data.Pred("model_year", ">", 2015).matches(m))
      assert(Data.Pred("brand", "substring", "zor").matches(m))
      assert(Data.Pred("country", "exact", "DE").matches(m))
    }
    test("each brand syllable selects exactly one brand") {
      Data.BrandSyllables.foreach(s => eq(Data.Brands.count(_.contains(s)), 1))
    }
    test("selectivity classes pass about 5%, 15% and 50% of rows") {
      val meta = Data.metadata(11, 20000)
      Seq(1 -> (0.03, 0.07), 2 -> (0.11, 0.19), 3 -> (0.42, 0.55)).foreach { case (cls, (lo, hi)) =>
        (0 until 30).foreach { i =>
          val f = Data.filterOf(cls, i % 3, Data.rng(11, 99, i))
          val share = meta.count(Data.passes(f, _)).toDouble / meta.length
          assert(share >= lo && share <= hi, s"class $cls filter $f passes $share")
        }
      }
    }
    test("arrival rounds plant a read pair and every document kind") {
      val docs = new Data.DocStream(3, new Data.VectorSpace(3, 64, 24, 0.8))
      docs.base(1000)
      val r = docs.round(1, 1000, 400)
      eq(r(1).kind, Data.NearDup(1000L))
      eq(r.map(_.id).toSeq, (1000L until 1400L))
      Seq("NearDup", "ExactDup", "Foreign", "LowQuality", "Clean").foreach(k =>
        assert(r.exists(_.kind.toString.startsWith(k)), s"no $k document"))
    }
    test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
      val root = new ObjectMapper().readTree(new java.io.File(args(0)))
      def listed(key: String): Seq[Metrics.M] = root.get(key).elements().asScala.toSeq.map(n =>
        Metrics.M(n.get("name").asText, n.get("unit").asText, n.get("better").asText))
      eq(listed("end_to_end"), Metrics.EndToEnd)
      eq(listed("per_layer"), Metrics.PerLayer)
      eq(root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq, Workload.Names)
    }
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
