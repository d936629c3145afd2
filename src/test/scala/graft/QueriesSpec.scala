package graft

/** Every SparkEntry query runs at sf0.001 and returns rows with a stable
  * schema; every query with an oracle has matching column sets is checked
  * by the driver — here we sanity-run the whole surface end-to-end. */
class QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Entries checked rows-only (no DuckDB oracle), each with the SURVEY §2
    * rationale. Additions here must be justified in §2. */
  private val RowsOnly = Set.empty[String]

  test("every declared query has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- RowsOnly
    assert(noOracle.isEmpty, s"queries without oracle SQL: $noOracle")
    val stale = RowsOnly -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"rows-only allowlist names unknown queries: $stale")
    val withOracle = RowsOnly.intersect(SparkEntry.oracleSql.keySet)
    assert(withOracle.isEmpty, s"rows-only allowlist names queries with an oracle: $withOracle")
  }

  /** The entries defined at the reference width only; every other `_2048` entry is the
    * twin of a d=64 entry. */
  private val WideOnly = Set("knn_hnsw_external_2048", "knn_ivfpq_batch_sharded_2048",
    "knn_ivfpq_residual_batch_sharded_2048", "knn_pq_consumer_restore_2048")

  test("entry names match the snapshot and each _2048 entry has a d=64 twin") {
    val src = scala.io.Source.fromResource("entry_names.txt")
    val snapshot = try src.getLines().map(_.trim).filter(_.nonEmpty).toSet finally src.close()
    val names = SparkEntry.queries.keySet
    assert(names == snapshot, s"added: ${names -- snapshot}; dropped: ${snapshot -- names}")
    val orphans = (names.filter(_.endsWith("_2048")) -- WideOnly)
      .filterNot(n => names(n.stripSuffix("_2048")))
    assert(orphans.isEmpty, s"_2048 entries without their d=64 twin: $orphans")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      // all queries must produce deterministic, materializable output
      df.collect()
    }
  }

  test("entry() smoke: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
