package graft

import graft.operators.MetaPredicate

class MetaPredicateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some("en"), Some(100)),  // matches lang exact en
    (2L, Some("de"), Some(250)),
    (3L, None, Some(300)),        // missing attr -> always rejected
    (4L, Some("envy"), None)
  ).toDF("id", "lang", "n")

  private def ids(pred: org.apache.spark.sql.Column): Set[Long] =
    df.filter(pred).select("id").as[Long].collect().toSet

  test("exact") { assert(ids(MetaPredicate("lang" -> ("exact", "en"))) == Set(1L)) }
  test("substring") { assert(ids(MetaPredicate("lang" -> ("substring", "en"))) == Set(1L, 4L)) }
  test("lt / gt") {
    assert(ids(MetaPredicate("n" -> ("<", 250))) == Set(1L))
    assert(ids(MetaPredicate("n" -> (">", 100))) == Set(2L, 3L))
  }
  test("leq / geq") {
    assert(ids(MetaPredicate("n" -> ("leq", 250))) == Set(1L, 2L))
    assert(ids(MetaPredicate("n" -> ("geq", 250))) == Set(2L, 3L))
  }
  test("missing attribute rejects the row (reference semantics)") {
    assert(!ids(MetaPredicate("lang" -> ("exact", "en"), "n" -> ("geq", 0))).contains(3L))
    assert(!ids(MetaPredicate("n" -> ("geq", 0))).contains(4L))
  }
  test("conjunction of constraints") {
    assert(ids(MetaPredicate("lang" -> ("substring", "en"), "n" -> ("leq", 100))) == Set(1L))
  }
  test("a null or non-scalar value is refused, naming the attribute") {
    Seq[Any](null, Seq(1, 2), Array(1, 2), Map("a" -> 1)).foreach { v =>
      val e = intercept[IllegalArgumentException](MetaPredicate("n" -> ("leq", v)))
      assert(e.getMessage.contains("'n'"), e.getMessage)
    }
  }
  test("unknown op throws") {
    intercept[IllegalArgumentException] { MetaPredicate("lang" -> ("regex", "x")) }
  }
}
