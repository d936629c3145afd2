package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.scaled

/** §2.C — general analytics: the engine is a full query engine, not only a vector-search
  * library. */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = Tables(s, dir, name)

  // bucketed_join's layout write is the ONE-TIME cost the repeated-join saving amortizes
  private val bucketedLayoutFor = scala.collection.mutable.Set.empty[String]
  private[graft] def bucketedTable(dir: String, base: String): String =
    "graft_buckets." + base + "_" + graft.TmpDirs.dirKeyAlnum(dir)
  private def ensureBucketedLayout(s: SparkSession, dir: String): Unit = synchronized {
    // re-check the catalog too
    if (!bucketedLayoutFor.contains(dir) ||
        !s.catalog.tableExists(bucketedTable(dir, "orders_b"))) {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
      for ((tbl, src, key) <- Seq(
          ("orders_b", "orders", "o_custkey"),
          ("customer_b", "customer", "c_custkey"))) {
        val name = bucketedTable(dir, tbl)
        // orphan table dirs from a previous JVM trip LOCATION_ALREADY_EXISTS
        s.sql(s"DROP TABLE IF EXISTS $name")
        val p = new org.apache.hadoop.fs.Path(
          s"${s.conf.get("spark.sql.warehouse.dir")}/graft_buckets.db/${name.stripPrefix("graft_buckets.")}")
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        t(s, dir, src).write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .format("parquet").saveAsTable(name)
      }
      bucketedLayoutFor += dir
    }
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1: pricing summary
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          scaled(sum("l_quantity"), 0).as("sum_qty"),
          scaled(sum("l_extendedprice"), 0).as("sum_base_price"),
          scaled(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 0).as("sum_disc_price"),
          scaled(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // C2: shuffle joins on orderkey/custkey
    "q3_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1996-07-01").cast("timestamp"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(ord("o_orderkey"), ord("o_orderdate"), ord("o_orderpriority"))
        .agg(scaled(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 0).as("revenue"))
        // order date as integer epoch days
        .select(col("o_orderkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("o_date_day"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // C3: six-table join
    "q5_multijoin" -> ((s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey") &&
                    cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(nation("n_name"))
        .agg(scaled(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 0).as("revenue"))
    }),

    // C4: window top-N per group (rank on stored values — no fp arithmetic)
    "topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      t(s, dir, "part")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("rank"), scaled(col("p_retailprice"), 2).as("price"))
    }),

    // C5: tumbling time-window agg
    "events_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), scaled(sum("value"), 2).as("sum_value"))
        // window start as integer epoch minutes, not a formatted string
        .select(expr("unix_micros(w.start) div 60000000").as("hour_min"),
          col("event_type"), col("n"), col("sum_value"))),

    // C11: scan-heavy filter + global agg (TPC-H Q6 shape)
    "q6_filter_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
                col("l_discount").between(0.03, 0.07) && col("l_quantity") < 10)
        .agg(scaled(sum(col("l_extendedprice") * col("l_discount")), 0).as("revenue"),
          count(lit(1)).as("n"))),

    // C12: left-anti join
    "anti_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      t(s, dir, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_inactive"))
    }),

    // C13: left-semi join
    "semi_join" -> ((s, dir) =>
      t(s, dir, "part")
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_used"),
          floor(sum(col("p_retailprice") * 100) + lit(0.5)).cast("long").as("sum_cents"))
        .selectExpr("p_brand", "n_used", "sum_cents div n_used AS avg_price")),

    // C14: conditional aggregation (TPC-H Q14 shape) — promo revenue share
    "conditional_agg" -> ((s, dir) => {
      val joined = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      joined.agg(
        scaled(sum(when(col("p_type").contains("a"),
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)), 0).as("promo_rev"),
        scaled(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 0).as("total_rev"))
    }),

    // C15: running analytics
    "running_total" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          scaled(sum("o_totalprice").over(w), 2).as("cum_spend"))
    }),

    // C18: ROLLUP subtotals
    "rollup_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"), scaled(sum("o_totalprice"), 0).as("total"))),

    // C26: set algebra
    "set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        .intersect(o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
    }),

    // C27: CUBE grouping sets
    "cube_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"), scaled(sum("o_totalprice"), 0).as("total"))),

    // C19: exact distinct cardinality per group
    "events_distinct" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))),

    // C20: bounded-frame moving aggregate
    "moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(scaled(col("o_totalprice"), 2)).over(w).as("ma3_cents"))
    }),

    // C36: BUCKETED co-located join
    "bucketed_join" -> ((s, dir) => {
      ensureBucketedLayout(s, dir)
      s.table(bucketedTable(dir, "orders_b"))
        .join(s.table(bucketedTable(dir, "customer_b")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), scaled(sum("o_totalprice"), 0).as("total"))
    }),

    // C42: Z-order layout
    "events_zorder" -> ((s, dir) => {
      val ev = t(s, dir, "events").selectExpr(
        "user_id % 256 AS u",
        "(unix_micros(ts) div 86400000000) % 256 AS d",
        "CAST(floor(value * 100) AS BIGINT) AS cents")
        .withColumn("zval", expr(graft.operators.ZOrder.zvalExpr("u", "d", 8)))
      // fixed overwrite target
      val path = graft.TmpDirs.path("zorder_layout")
      graft.operators.ZOrder.writeZOrdered(ev, "zval", path, nFiles = 16)
      s.read.parquet(path)
        .filter(col("u").between(40, 120) && col("d").between(15, 30))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("zval").as("z_lo"), max("zval").as("z_hi"))
    }),

    // B12: semi-structured props JSON extraction + agg. Engine-proof by
    // construction (this row was hash-red r1+r2): the extracted value is
    // cast only when it is a literal integer string (cast-edge behavior on
    // "12.5"/"1e3" differs across engines), and avg_k is explicit FLOOR
    // division via the pmod identity — Spark `div` truncates toward zero
    // while DuckDB `//` floors, which diverges on negative sums.
    "events_json" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("ks", get_json_object(col("props"), "$.k"))
        .withColumn("k", when(col("ks").rlike("^-?[0-9]+$"), col("ks").cast("long")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), count("k").as("n_k"))
        .selectExpr("event_type", "n", "sum_k", "n_k",
          "CASE WHEN n_k = 0 THEN NULL ELSE " +
            "(sum_k * 10000 - (((sum_k * 10000) % n_k + n_k) % n_k)) div n_k END AS avg_k"))
  )

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(floor(sum(l_quantity) * 1.0 + 0.5) AS BIGINT) AS sum_qty,
        | CAST(floor(sum(l_extendedprice) * 1.0 + 0.5) AS BIGINT) AS sum_base_price,
        | CAST(floor(sum(l_extendedprice * (1.0 - l_discount)) * 1.0 + 0.5) AS BIGINT) AS sum_disc_price,
        | CAST(floor(avg(l_discount) * 10000.0 + 0.5) AS BIGINT) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      """SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 AS o_date_day, o_orderpriority,
        | CAST(floor(sum(l_extendedprice * (1.0 - l_discount)) * 1.0 + 0.5) AS BIGINT) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_shipdate > TIMESTAMP '1996-07-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT n_name,
        | CAST(floor(sum(l_extendedprice * (1.0 - l_discount)) * 1.0 + 0.5) AS BIGINT) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,

    "topn_per_group" ->
      """SELECT p_brand, p_partkey, rank, price FROM (
        | SELECT p_brand, p_partkey,
        |  CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rank,
        |  CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price
        | FROM part
        |) WHERE rank <= 3""".stripMargin,

    "events_window" ->
      """SELECT epoch_us(date_trunc('hour', ts)) // 60000000 AS hour_min, event_type,
        | count(*) AS n, CAST(floor(sum(value) * 100.0 + 0.5) AS BIGINT) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q6_filter_agg" ->
      """SELECT CAST(floor(sum(l_extendedprice * l_discount) * 1.0 + 0.5) AS BIGINT) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 10""".stripMargin,

    "anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_inactive
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_mktsegment""".stripMargin,

    "semi_join" ->
      """SELECT p_brand, count(*) AS n_used,
        | CAST(floor(sum(p_retailprice * 100) + 0.5) AS BIGINT) // count(*) AS avg_price
        |FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,

    "conditional_agg" ->
      """SELECT
        | CAST(floor(sum(CASE WHEN position('a' IN p_type) > 0
        |   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 1.0 + 0.5) AS BIGINT) AS promo_rev,
        | CAST(floor(sum(l_extendedprice * (1.0 - l_discount)) * 1.0 + 0.5) AS BIGINT) AS total_rev
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "running_total" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(floor(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate ASC, o_orderkey ASC ROWS UNBOUNDED PRECEDING) * 100.0 + 0.5) AS BIGINT) AS cum_spend
        |FROM orders WHERE o_custkey < 100""".stripMargin,

    "rollup_agg" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        | CAST(floor(sum(o_totalprice) + 0.5) AS BIGINT) AS total
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,

    "set_ops" ->
      """(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,

    "cube_agg" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        | CAST(floor(sum(o_totalprice) + 0.5) AS BIGINT) AS total
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,

    "events_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma3_cents
        |FROM orders WHERE o_custkey < 100""".stripMargin,

    "bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(floor(sum(o_totalprice) + 0.5) AS BIGINT) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "events_zorder" ->
      s"""WITH z AS (SELECT user_id % 256 AS u,
         |  (epoch_us(ts) // 86400000000) % 256 AS d,
         |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
         |b AS (SELECT *, ${graft.operators.ZOrder.duckZvalExpr("u", "d", 8)} AS zval
         |      FROM z WHERE u BETWEEN 40 AND 120 AND d BETWEEN 15 AND 30)
         |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  min(zval) AS z_lo, max(zval) AS z_hi FROM b""".stripMargin,

    "events_json" ->
      """WITH x AS (SELECT event_type,
        |  CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]+$')
        |       THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k, count(k) AS n_k,
        | CAST(CASE WHEN count(k) = 0 THEN NULL ELSE
        |   (sum(k) * 10000 - (((sum(k) * 10000) % count(k) + count(k)) % count(k)))
        |     // count(k) END AS BIGINT) AS avg_k
        |FROM x GROUP BY event_type""".stripMargin
  )
}
