package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Graph, Pq}

/** §2.C21–C24 — point-in-time as-of join, pivot, exact median, and a
  * deterministic HyperLogLog distinct sketch.
  *
  * Scale notes:
  *  - `events_asof` uses the union-tag formulation: both sides shuffle ONCE
  *    on the join key and the carry-forward window resolves the
  *    point-in-time match — no range-explosion join, no per-row probe. Ties
  *    are totally ordered by (ts, side, event_id) so the "latest prior"
  *    row is unique and both engines agree.
  *  - `events_pivot` is a single hash aggregate over explicit pivot values
  *    (explicit values keep the plan static — no driver-side distinct scan).
  *  - `median_exact` is the exact form (per-group sort); at 100 TB swap in
  *    `percentile_approx` or a t-digest — kept exact here because the gate
  *    is cross-engine hash equality.
  *  - `approx_distinct_hll` is a dense p=8 HyperLogLog expressed as TWO
  *    hash aggregates: (group, bucket) → max(rho), then group → the scaled
  *    integer power sum. max/sum are associative, so both stages partial-
  *    aggregate map-side; the shuffle carries ≤ 256 rows per group no
  *    matter the input size — this is the sketch contract that makes
  *    distinct-counting feasible at 100 TB. The estimator (alpha_256 ·
  *    m²/Z) runs on integer bit-shift sums; the single fp division at the
  *    end is bit-deterministic (identical IEEE op order in both engines).
  */
object AnalyticsQueries {

  private def events(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "events")

  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** C64/C65: KMV sketch size. */
  private val KmvK = 64

  /** C65 pair-fan-out cap (r7 verdict "wrong" #3): pairwise Jaccard over D
    * sketch groups is inherently D·(D−1)/2 pairs — bounded here (5 event
    * types → 10 pairs) but quadratic in the grouping dimension's
    * cardinality. The guard makes the 100 TB contract explicit, the repo's
    * cap-with-triage convention: past the cap the entry REFUSES with the
    * measured cardinality and the fix (pre-select top-D groups, or raise
    * the cap deliberately) instead of silently launching a D² nested-loop
    * join. */
  private[graft] val KmvPairDimCap = 64

  /** The C65 pair expansion over a (event_type, hs, n_sk) sketch frame. */
  private[graft] def kmvPairwiseJaccard(sk: DataFrame): DataFrame = {
    // materialize the D-row sketch frame ONCE
    val skM = Dedup.materialize(sk)
    // counted via limit(cap+1): the guard learns "over the cap", not the real cardinality
    val d = skM.limit(KmvPairDimCap + 1).count()
    require(d <= KmvPairDimCap,
      s"kmv_jaccard_est: more than KmvPairDimCap=$KmvPairDimCap sketch groups " +
        "(guard stops counting at cap+1) — pairwise Jaccard is O(D²) in group " +
        "cardinality; pre-select the top-D groups (e.g. by n_sk/exact count) " +
        "or raise the cap deliberately")
    skM.selectExpr("event_type AS sa", "hs AS ha")
      .join(skM.selectExpr("event_type AS sb", "hs AS hb"), expr("sa < sb"))
      .selectExpr("sa", "sb",
        s"slice(array_sort(array_union(ha, hb)), 1, $KmvK) AS comb", "ha", "hb")
      .selectExpr("sa", "sb", "CAST(size(comb) AS BIGINT) AS n_comb",
        "CAST(size(filter(comb, x -> array_contains(ha, x) AND array_contains(hb, x))) AS BIGINT) AS n_shared")
      .selectExpr("sa", "sb", "n_comb", "n_shared",
        "(n_shared * 1000000) div n_comb AS j_est_ppm")
  }

  /** HLL precision: p=8 → m=256 buckets. */
  private val HllAlphaScaled = graft.operators.Hll.AlphaScaled

  /** C69/C69b shared body. */
  private def hllRollup(s: SparkSession, dir: String, auditExact: Boolean): DataFrame = {
    import graft.operators.Hll
    val d = Tables(s, dir, "documents")
    val fine = Hll.sketchAgg(
      Hll.bucketRho(d, "concat('hrm', text)", Seq("source", "lang")),
      Seq("source", "lang")).localCheckpoint(true) // the stored sketch table
    val ef0 = Hll.estimate(fine, Seq("source", "lang"))
      .selectExpr("'source_lang' AS lvl", "source", "lang", "est")
    val es0 = Hll.estimate(
        fine.groupBy("source", "bucket").agg(max("rho").as("rho")), Seq("source"))
      .selectExpr("'source' AS lvl", "source", "'ALL' AS lang", "est")
    val ea0 = Hll.estimate(
        fine.groupBy("bucket").agg(max("rho").as("rho")), Seq.empty)
      .selectExpr("'all' AS lvl", "'ALL' AS source", "'ALL' AS lang", "est")
    if (!auditExact) ef0.unionByName(es0).unionByName(ea0)
    else {
      val dt = d.select("source", "lang", "text").distinct().localCheckpoint(true)
      val ef = ef0.join(dt.groupBy("source", "lang").agg(count(lit(1)).as("n_exact")),
        Seq("source", "lang"))
        .select("lvl", "source", "lang", "est", "n_exact")
      val es = es0.join(dt.select("source", "text").distinct()
          .groupBy("source").agg(count(lit(1)).as("n_exact")), "source")
        .select("lvl", "source", "lang", "est", "n_exact")
      val ea = ea0.crossJoin(dt.select("text").distinct().agg(count(lit(1)).as("n_exact")))
      ef.unionByName(es).unionByName(ea)
    }
  }

  /** C67/C67b shared body. */
  private def profileColumnsQ(s: SparkSession, dir: String, auditExact: Boolean): DataFrame = {
    val u = Tables(s, dir, "orders").selectExpr(
      """stack(4,
        |  'o_orderkey', CAST(o_orderkey AS STRING),
        |  'o_custkey', CAST(o_custkey AS STRING),
        |  'o_orderstatus', o_orderstatus,
        |  'o_orderpriority', o_orderpriority) AS (col, val)""".stripMargin)
    val base = u.groupBy("col").agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - count(col("val"))).as("n_null"),
      min("val").as("vmin"), max("val").as("vmax"))
    val d = u.filter(col("val").isNotNull).select("col", "val").distinct()
    val hh = d.selectExpr("col",
      s"${Dedup.hashExpr("concat('pfl', col, '|', val)")} AS h")
    val sk = hh.groupBy("col")
      .agg(graft.functions.aggs.topK(col("h"), col("h"), KmvK, asc = true).as("hits"))
      .selectExpr("col", "CAST(size(hits) AS BIGINT) AS n_sk",
        "array_max(transform(hits, x -> x.score)) AS kth")
    val estCol =
      s"""CASE WHEN n_sk < $KmvK THEN n_sk
         | ELSE CAST(floor(least(($KmvK - 1) * 1152921504606846976.0D
         |   / CAST(kth AS DOUBLE), 9.0e18D)) AS BIGINT) END AS est""".stripMargin
    if (auditExact) {
      val ex = d.groupBy("col").agg(count(lit(1)).as("n_distinct"))
      base.join(sk, "col").join(ex, "col")
        .selectExpr("col", "n", "n_null", "n_distinct", estCol, "vmin", "vmax")
    } else
      base.join(sk, "col")
        .selectExpr("col", "n", "n_null", estCol, "vmin", "vmax")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C21: as-of join
    "events_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("is_q"),
          col("event_id").as("p_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("is_q"),
          lit(null).cast("bigint").as("p_id"), lit(null).cast("timestamp").as("p_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_q"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purch.unionByName(clicks)
        .withColumn("prev_purchase", last("p_id", ignoreNulls = true).over(w))
        .withColumn("prev_ts", last("p_ts", ignoreNulls = true).over(w))
        .filter(col("is_q") === 1)
        .selectExpr("event_id", "user_id", "prev_purchase",
          "CAST(unix_micros(ts) - unix_micros(prev_ts) AS BIGINT) AS gap_us")
    }),

    // C22: pivot — event-type counts as columns, one hash aggregate
    "events_pivot" -> ((s, dir) =>
      events(s, dir).groupBy("user_id")
        .pivot("event_type", EventTypes).agg(count(lit(1)))
        .select(col("user_id") +:
          EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)),

    // C23: exact per-group lower median of integer cents
    "median_exact" -> ((s, dir) => {
      val c = Tables(s, dir, "orders").selectExpr("o_orderpriority AS pri",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents", "o_orderkey")
      c.withColumn("rn", row_number().over(
          Window.partitionBy("pri").orderBy(col("cents"), col("o_orderkey"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("pri")))
        .filter(expr("rn = (n + 1) div 2"))
        .select(col("pri"), col("cents").as("median_cents"))
    }),

    // C33: correlated-subquery shape
    "above_avg_orders" -> ((s, dir) => {
      val o = Tables(s, dir, "orders").selectExpr("o_orderkey",
        "o_orderpriority AS pri", "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
      val avgp = o.groupBy("pri").agg(expr("sum(cents) div count(*)").as("avg_cents"))
      o.join(broadcast(avgp), "pri").filter(col("cents") > col("avg_cents"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n_above"), sum("cents").as("sum_cents"))
    }),

    // C34: ntile quartile assignment — equal-frequency binning per group
    // with a total (cents, key) order so both engines cut ties identically
    "orders_quartiles" -> ((s, dir) => {
      val o = Tables(s, dir, "orders").selectExpr("o_orderkey",
        "o_orderpriority AS pri", "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
      o.withColumn("q", ntile(4).over(
          Window.partitionBy("pri").orderBy(col("cents"), col("o_orderkey"))))
        .groupBy("pri", "q")
        .agg(count(lit(1)).as("n"), min("cents").as("lo"), max("cents").as("hi"))
    }),

    // C32: cohort retention — users grouped by first-active day, retention
    // measured at day offsets 0/1/3/7. Shape: (user, day) distinct →
    // user-keyed min (cohort) → same-key join (co-partitioned, no second
    // shuffle of the big side) → two-phase distinct count per
    // (cohort, offset). Days are integer unix-micro divisions shared with
    // the oracle.
    "events_retention" -> ((s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
        .distinct()
      val c = ud.groupBy("user_id").agg(min("d").as("c0"))
      ud.join(c, "user_id").withColumn("off", col("d") - col("c0"))
        .filter(col("off").isin(0L, 1L, 3L, 7L))
        .groupBy(col("c0").as("cohort_day"), col("off"))
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // C30: mergeable equi-width histogram quantile sketch
    "approx_quantile_hist" -> ((s, dir) => {
      val c = Tables(s, dir, "orders").selectExpr("o_orderpriority AS pri",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")
      val st = c.agg(min("cents").as("mn"), max("cents").as("mx"))
      val sk = c.crossJoin(broadcast(st))
        .withColumn("bin", expr("((cents - mn) * 256) div (mx - mn + 1)"))
        .groupBy("pri", "bin").agg(count(lit(1)).as("cnt"))
      val cum = sk
        .withColumn("cum", sum("cnt").over(Window.partitionBy("pri").orderBy("bin")))
        .withColumn("n", sum("cnt").over(Window.partitionBy("pri")))
      cum.groupBy("pri").agg(
          max("n").as("n"),
          min(when(col("cum") * 100 >= col("n") * 50, col("bin"))).as("b50"),
          min(when(col("cum") * 100 >= col("n") * 90, col("bin"))).as("b90"),
          min(when(col("cum") * 100 >= col("n") * 99, col("bin"))).as("b99"))
        .crossJoin(broadcast(st))
        // bin upper edge, clamped to the bin's lower edge so narrow spans
        .selectExpr("pri", "n",
          "mn + greatest(((b50 + 1) * (mx - mn + 1)) div 256 - 1, (b50 * (mx - mn + 1)) div 256) AS p50_cents",
          "mn + greatest(((b90 + 1) * (mx - mn + 1)) div 256 - 1, (b90 * (mx - mn + 1)) div 256) AS p90_cents",
          "mn + greatest(((b99 + 1) * (mx - mn + 1)) div 256 - 1, (b99 * (mx - mn + 1)) div 256) AS p99_cents")
    }),

    // C29: ordered funnel
    "events_funnel" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") > col("t1")).groupBy("user_id").agg(min("us").as("t2"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") > col("t2")).groupBy("user_id").agg(min("us").as("t3"))
      v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
        .union(c.agg(count(lit(1)).as("n_users")).select(lit("2_click").as("stage"), col("n_users")))
        .union(p.agg(count(lit(1)).as("n_users")).select(lit("3_purchase").as("stage"), col("n_users")))
    }),

    // C28: the Salting operator, oracle-verified end-to-end
    "salted_agg" -> ((s, dir) =>
      graft.operators.Salting.saltedCounts(events(s, dir), col("event_type"),
          salts = 16, valueCol = Some(expr("CAST(floor(value * 100) AS BIGINT)")))
        .select(col("k"), col("n"), col("total"))),

    // C37: the salted JOIN, oracle-verified
    "salted_join" -> ((s, dir) => {
      val ev = events(s, dir).selectExpr("event_type",
        "CAST(floor(value * 100) AS BIGINT) AS cents")
      val dim = s.createDataFrame(Seq(
        ("click", 1L), ("view", 2L), ("purchase", 5L), ("signup", 3L), ("error", 4L)))
        .toDF("event_type", "w")
      graft.operators.Salting.saltedJoin(ev, dim, "event_type", salts = 16, keepSalt = true)
        .groupBy(col("event_type"), col("_salt"))
        .agg(count(lit(1)).as("pc"), sum(expr("w * cents")).as("pw"))
        .groupBy("event_type")
        .agg(sum("pc").as("n"), sum("pw").as("weighted_cents"))
    }),

    // C38: time-series gap filling
    "events_gap_fill" -> ((s, dir) => {
      val daily = events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
        .groupBy("user_id", "d").agg(count(lit(1)).as("n"))
      val span = daily.groupBy("user_id").agg(min("d").as("mn"), max("d").as("mx"))
      span.select(col("user_id"), explode(expr("sequence(mn, mx)")).as("d"))
        .join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"), coalesce(col("n"), lit(0L)).as("n"))
    }),

    // C46: snapshot MERGE (upsert)
    "snapshot_merge" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val current = docs.filter(col("doc_id") < 400)
        .select(col("doc_id").as("c_id"), col("text").as("c_text"))
      val changes = docs.filter(col("doc_id") >= 350 && col("doc_id") < 450)
        .select(col("doc_id").as("n_id"), concat(lit("v2 "), col("text")).as("n_text"))
      val merged = current.join(changes, col("c_id") === col("n_id"), "full_outer")
        .select(
          coalesce(col("n_id"), col("c_id")).as("doc_id"),
          coalesce(col("n_text"), col("c_text")).as("text"),
          when(col("c_id").isNull, "insert")
            .when(col("n_id").isNull, "keep").otherwise("update").as("op"))
      // each row hash reduced mod 1e9+7 before the sum: 60-bit hashes summed
      // raw overflow BIGINT at a few hundred rows (ANSI Spark would throw)
      merged.groupBy("op").agg(
        count(lit(1)).as("n"),
        sum(expr(s"${graft.operators.Dedup.hashExpr(
          "concat(CAST(doc_id AS STRING), '|', coalesce(text, ''))")} % 1000000007")).as("checksum"))
    }),

    // C45: LOCF imputation
    "events_impute_locf" -> ((s, dir) => {
      val ev = events(s, dir).selectExpr("user_id", "event_id",
        "unix_micros(ts) AS us",
        """CASE WHEN event_type = 'purchase'
          |     THEN CAST(get_json_object(props, '$.k') AS BIGINT) END AS k""".stripMargin)
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("k_filled", last("k", ignoreNulls = true).over(w))
        .select("event_id", "user_id", "k", "k_filled")
    }),

    // C44: robust outlier detection
    "events_anomaly_mad" -> ((s, dir) => {
      // eagerly materialized: the histogram feeds three consumers, and without the checkpoint
      // each re-expands the subtree (PlanAuditSpec pins ≤1 live base-table scan)
      val hist = events(s, dir)
        .selectExpr("event_type", "CAST(floor(value * 100) AS BIGINT) AS cents")
        .groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      def lowerMedianHist(h: DataFrame, valCol: String, out: String): DataFrame = {
        val wc = Window.partitionBy("event_type").orderBy(col(valCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("cum", sum("cnt").over(wc))
          .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
          .filter(col("cum") >= expr("(n + 1) div 2") &&
            col("cum") - col("cnt") < expr("(n + 1) div 2"))
          .select(col("event_type"), col(valCol).as(out))
      }
      val med = lowerMedianHist(hist, "cents", "med")
      // NOT checkpointed: it reads the checkpointed histogram, so a second eager
      // materialization would only add a job launch
      val devHist = hist.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("cents") - col("med")))
        .groupBy("event_type", "dev").agg(sum("cnt").as("cnt"))
      val mad = lowerMedianHist(devHist, "dev", "mad")
      devHist.join(broadcast(mad), "event_type")
        .join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(max("med").as("med_cents"), max("mad").as("mad_cents"),
          sum(when(col("dev") > col("mad") * 3, col("cnt")).otherwise(0L))
            .as("n_outliers"),
          max("dev").as("max_dev"))
    }),

    // C43: value-based RANGE window frame — per event, activity in the
    // same user's trailing hour (count + cents). The complement of C20's
    // ROW frame: a row frame counts k rows regardless of time; the range
    // frame is the batch mirror of a sliding streaming window, keyed by
    // the event-time VALUE. Frame peers (equal timestamps) are included on
    // both engines per the SQL standard, so ties need no ordering column.
    // One shuffle on user_id; the frame scan is sorted-run-local.
    "events_trailing_window" -> ((s, dir) => {
      val ev = events(s, dir).selectExpr("user_id", "event_id",
        "unix_micros(ts) AS us", "CAST(floor(value * 100) AS BIGINT) AS cents")
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3600000000L, Window.currentRow)
      ev.withColumn("n_hour", count(lit(1)).over(w))
        .withColumn("cents_hour", sum("cents").over(w))
        .select("event_id", "user_id", "n_hour", "cents_hour")
    }),

    // C40: broadcast interval (range) join
    "events_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val busy = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("h")).limit(3)
        .select(col("h"), expr("h - interval 30 minutes").as("w_start"),
          expr("h + interval 90 minutes").as("w_end"))
      ev.join(broadcast(busy), col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy(expr("unix_micros(h) div 60000000").as("window_min"))
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
    }),

    // C41: unpivot (melt)
    "events_unpivot" -> ((s, dir) => {
      val wide = events(s, dir).groupBy("user_id")
        .pivot("event_type", EventTypes).agg(count(lit(1)))
        .select(col("user_id") +:
          EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      wide.unpivot(Array(col("user_id")), EventTypes.map(col).toArray, "event_type", "n")
        .filter(col("n") > 0)
    }),

    // C24: deterministic HyperLogLog (p=8) distinct estimate vs exact
    "approx_distinct_hll" -> ((s, dir) => {
      val ev = events(s, dir)
      val sketch = graft.operators.Hll.sketchAgg(
        graft.operators.Hll.bucketRho(ev,
          "concat('hll', CAST(event_id AS STRING))", Seq("event_type")),
        Seq("event_type"))
      val exact = ev.groupBy("event_type").agg(countDistinct("event_id").as("n_exact"))
      graft.operators.Hll.estimate(sketch, Seq("event_type"))
        .join(exact, "event_type")
        .select("event_type", "est", "n_exact")
    }),

    // C69: sketch-merge ROLLUP
    "hll_rollup_merge" -> ((s, dir) => hllRollup(s, dir, auditExact = true)),

    // C69b: the PRODUCTION shape of C69
    "hll_rollup_est" -> ((s, dir) => hllRollup(s, dir, auditExact = false)),

    // C64: KMV (k-minimum-values) distinct sketch
    "kmv_distinct_est" -> ((s, dir) => {
      val h = events(s, dir)
        .selectExpr("event_type",
          s"${Dedup.hashExpr("concat('kmv', CAST(user_id AS STRING))")} AS h")
        .distinct()
      val sk = h.groupBy("event_type")
        .agg(graft.functions.aggs.topK(col("h"), col("h"), KmvK, asc = true).as("hits"))
        .selectExpr("event_type", "CAST(size(hits) AS BIGINT) AS n_sk",
          "array_max(transform(hits, x -> x.score)) AS kth")
      val exact = h.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      sk.join(exact, "event_type")
        .selectExpr("event_type", "n_sk", "kth",
          s"""CASE WHEN n_sk < $KmvK THEN n_sk
             | ELSE CAST(floor(least(($KmvK - 1) * 1152921504606846976.0D
             |   / CAST(kth AS DOUBLE), 9.0e18D)) AS BIGINT) END AS est""".stripMargin,
          "n_exact")
    }),

    // C65: KMV set-operation estimate
    "kmv_jaccard_est" -> ((s, dir) => {
      // (r18: a cms_topk_est-style scan spread was A/B-measured here and
      // REJECTED — 1.3 -> 2.1 s: `h` feeds FOUR consumer subtrees, each of
      // which re-paid the added exchange, unlike cms' two)
      val h = events(s, dir)
        .selectExpr("event_type",
          s"${Dedup.hashExpr("concat('kmv', CAST(user_id AS STRING))")} AS h")
        .distinct()
      val sk = h.groupBy("event_type")
        .agg(graft.functions.aggs.topK(col("h"), col("h"), KmvK, asc = true).as("hits"))
        .selectExpr("event_type", "transform(hits, x -> x.score) AS hs",
          "CAST(size(hits) AS BIGINT) AS n_sk")
      val pairs = kmvPairwiseJaccard(sk)
      val cnt = h.groupBy("event_type").agg(count(lit(1)).as("n"))
      val inter = h.selectExpr("event_type AS sa", "h")
        .join(h.selectExpr("event_type AS sb", "h"), Seq("h"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("ni"))
      pairs
        .join(cnt.selectExpr("event_type AS sa", "n AS na"), "sa")
        .join(cnt.selectExpr("event_type AS sb", "n AS nb"), "sb")
        .join(inter, Seq("sa", "sb"), "left")
        .selectExpr("sa", "sb", "n_comb", "n_shared", "j_est_ppm",
          "coalesce(ni, CAST(0 AS BIGINT)) AS ni2", "na", "nb")
        .selectExpr("sa", "sb", "n_comb", "n_shared", "j_est_ppm",
          "(ni2 * 1000000) div (na + nb - ni2) AS j_exact_ppm")
    }),

    // C67: one-pass COLUMN PROFILER
    "profile_columns" -> ((s, dir) => profileColumnsQ(s, dir, auditExact = true)),

    // C67b: the PRODUCTION shape of C67
    "profile_columns_est" -> ((s, dir) => profileColumnsQ(s, dir, auditExact = false)),

    // C68: per-key SKEW PROFILE
    "key_skew_profile" -> ((s, dir) => {
      val c = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val tot = c.agg(count(lit(1)).as("n_keys"), sum("n").as("n_rows"),
        max("n").as("max_n"))
      val cum = c.groupBy("n").agg(count(lit(1)).as("f"))
        .withColumn("cf", sum("f").over(
          Window.orderBy("n").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      def pq(q: Int): DataFrame = cum.crossJoin(broadcast(tot))
        .filter(col("cf") >= expr(s"(n_keys * $q + 99) div 100"))
        .agg(min("n").as(s"p$q"))
      val t10 = c.orderBy(col("n").desc, col("user_id").asc).limit(10)
        .agg(sum("n").as("s10"))
      tot.crossJoin(broadcast(pq(50))).crossJoin(broadcast(pq(90)))
        .crossJoin(broadcast(pq(99))).crossJoin(broadcast(t10))
        .selectExpr("n_keys", "CAST(n_rows AS BIGINT) AS n_rows", "max_n",
          "p50", "p90", "p99",
          "(CAST(s10 AS BIGINT) * 1000000) div CAST(n_rows AS BIGINT) AS top10_ppm")
    }),

    // C48: session path mining
    "events_path_topk" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val cum = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess", when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L).otherwise(0L))
        .withColumn("sess_idx", sum("new_sess").over(cum))
        .groupBy("user_id", "sess_idx")
        .agg(expr(
          "array_join(transform(array_sort(collect_list(" +
            "struct(unix_micros(ts) AS us, event_id, event_type))), x -> x.event_type), '>')"
        ).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(10)
    }),

    // C49: Bloom-pruned join
    "bloom_prune_join" -> ((s, dir) => {
      val m = 4096
      val seeds = Seq(1, 2, 3)
      val cust = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val setBits = cust.select(explode(array(
          seeds.map(sd => pmod(xxhash64(col("c_custkey"), lit(sd)), lit(m.toLong))): _*)).as("b"))
        .distinct().collect().map(_.getLong(0))
      val words = new Array[Long](m / 64)
      setBits.foreach(b => words((b / 64).toInt) |= (1L << (b % 64).toInt))
      val wordsLit = s"array(${words.map(w => s"${w}L").mkString(",")})"
      val bitTest = seeds.map { sd =>
        val bit = s"pmod(xxhash64(o_custkey, $sd), $m)"
        s"((shiftright(element_at($wordsLit, CAST($bit div 64 AS INT) + 1), " +
          s"CAST($bit % 64 AS INT))) & 1) = 1"
      }.mkString(" AND ")
      Tables(s, dir, "orders").filter(expr(bitTest))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.scaled(sum("o_totalprice"), 0).as("total"))
    }),

    // C50: count-min sketch heavy-hitter estimation
    "cms_topk_est" -> ((s, dir) => {
      // r18: the 4x-per-event md5 cell hashing measured as a 1.1 s
      // single-task stage over the one-row-group events scan — spread it
      // (the multivector_maxsim convention); both aggregates are
      // placement-independent
      val ev = Pq.spreadHeavyKernel(events(s, dir), opsPerRow = 1 << 20)
      def cellOf(r: org.apache.spark.sql.Column, user: org.apache.spark.sql.Column) =
        pmod(graft.functions.md5Hash60(
          concat(lit("cms"), r.cast("string"), lit("_"), user.cast("string"))), lit(256L))
      val cells = ev.select(col("user_id"), explode(expr("sequence(1, 4)")).as("r"))
        .withColumn("cell", cellOf(col("r"), col("user_id")))
        .groupBy("r", "cell").agg(count(lit(1)).as("cnt"))
      val top5 = ev.groupBy("user_id").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("user_id").asc).limit(5)
      top5.select(col("user_id"), col("n_true"), explode(expr("sequence(1, 4)")).as("r"))
        .withColumn("cell", cellOf(col("r"), col("user_id")))
        .join(cells, Seq("r", "cell"))
        .groupBy("user_id", "n_true").agg(min("cnt").as("n_est"))
    }),

    // C52: SCD-2 (slowly-changing-dimension type 2) history
    "scd2_history" -> ((s, dir) => {
      val cur = Tables(s, dir, "customer").selectExpr("c_custkey AS k",
        "c_mktsegment AS seg", "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents")
      val upd = Tables(s, dir, "customer")
        .selectExpr("c_custkey", "c_mktsegment", "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bc")
        .filter(expr("c_custkey % 7 = 0 OR c_custkey % 13 = 0"))
        .selectExpr(
          "CASE WHEN c_custkey % 13 = 0 THEN c_custkey + 1000000 ELSE c_custkey END AS k",
          "c_mktsegment AS seg_u",
          "CASE WHEN c_custkey % 7 = 0 THEN bc + 1000 ELSE bc END AS bal_u")
      val t = lit(1000L) // batch day
      cur.join(upd, Seq("k"), "full_outer")
        .selectExpr("k", "seg", "bal_cents", "seg_u", "bal_u",
          "CASE WHEN seg IS NULL THEN 'insert' " +
            "WHEN seg_u IS NULL THEN 'keep' " +
            "WHEN bal_u = bal_cents AND seg_u = seg THEN 'keep' " +
            "ELSE 'restate' END AS cls")
        .selectExpr("k", "cls",
          // history rows as an exploded array of (from, to, seg, bal)
          "explode(CASE cls " +
            "WHEN 'insert' THEN array(struct(1000L AS vf, CAST(NULL AS BIGINT) AS vt, seg_u AS s, bal_u AS b)) " +
            "WHEN 'keep' THEN array(struct(0L AS vf, CAST(NULL AS BIGINT) AS vt, seg AS s, bal_cents AS b)) " +
            "ELSE array(struct(0L AS vf, 1000L AS vt, seg AS s, bal_cents AS b), " +
            "           struct(1000L AS vf, CAST(NULL AS BIGINT) AS vt, seg_u AS s, bal_u AS b)) END) AS h")
        .selectExpr("k", "cls", "h.vf AS valid_from", "h.vt AS valid_to",
          "h.s AS seg", "h.b AS bal_cents")
    }),

    // C53: incremental aggregate maintenance
    "agg_incremental" -> ((s, dir) => {
      val ev = events(s, dir).selectExpr("event_type",
        "unix_micros(ts) div 86400000000 AS d", "CAST(floor(value * 100) AS BIGINT) AS cents")
      val cutoff = ev.agg(expr("min(d) + (max(d) - min(d)) div 2").as("cut"))
      val tagged = ev.crossJoin(broadcast(cutoff))
      val state = tagged.filter(col("d") < col("cut"))
        .groupBy("event_type").agg(count(lit(1)).as("n"), sum("cents").as("sc"),
          lit(0L).as("nd"))
      val delta = tagged.filter(col("d") >= col("cut"))
        .groupBy("event_type").agg(count(lit(1)).as("n"), sum("cents").as("sc"),
          count(lit(1)).as("nd"))
      state.unionByName(delta)
        .groupBy("event_type")
        .agg(sum("n").as("n_total"), sum("sc").as("cents_total"), sum("nd").as("n_delta"))
    }),

    // C54: table diff by bucket checksums — how two 100 TB snapshots are
    // reconciled without a row-level join: each side reduces to 256
    // (bucket, count, checksum) rows (one narrow scan + a tiny aggregate
    // each), and only differing buckets are reported for row-level
    // investigation. Snapshot B is a deterministic perturbation of A
    // (drop %997 keys, restate %499 values) so the oracle replays it; the
    // checksum is an order-independent sum of 20-bit row-hash slices
    // (bounded so a BIGINT sum cannot overflow under ANSI).
    "table_diff_buckets" -> ((s, dir) => {
      def rows(perturbed: Boolean) = {
        val base = events(s, dir).selectExpr("event_id", "user_id", "event_type",
          "CAST(floor(value * 100) AS BIGINT) AS cents")
        val side = if (perturbed)
          base.filter(expr("event_id % 997 != 0"))
            .selectExpr("event_id", "user_id", "event_type",
              "CASE WHEN event_id % 499 = 0 THEN cents + 1 ELSE cents END AS cents")
        else base
        side.selectExpr("pmod(event_id, 256) AS bucket",
          s"${graft.functions.md5Hash60Sql(
            "concat_ws('|', CAST(event_id AS STRING), CAST(user_id AS STRING), " +
              "event_type, CAST(cents AS STRING))")} % 1048576 AS h")
          .groupBy("bucket").agg(count(lit(1)).as("n"), sum("h").as("chk"))
      }
      val a = rows(perturbed = false)
        .select(col("bucket"), col("n").as("n_a"), col("chk").as("chk_a"))
      val b = rows(perturbed = true)
        .select(col("bucket"), col("n").as("n_b"), col("chk").as("chk_b"))
      // null-safe comparison: a bucket empty on one side must still report
      a.join(b, Seq("bucket"), "full_outer")
        .filter(!(col("n_a") <=> col("n_b")) || !(col("chk_a") <=> col("chk_b")))
    }),

    // C51: bucketed big-big interval join
    "events_attribution_bucketed" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .selectExpr("user_id", "event_id AS c_id", "unix_micros(ts) AS c_us")
        .withColumn("bucket", expr("c_us div 3600000000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .selectExpr("user_id", "event_id AS p_id", "unix_micros(ts) AS p_us")
      val probed = purchases.select(col("user_id"), col("p_id"), col("p_us"),
        explode(expr("sequence(p_us div 3600000000 - 1, p_us div 3600000000)")).as("bucket"))
      val matched = probed.join(clicks, Seq("user_id", "bucket"))
        .filter(col("c_us") >= col("p_us") - lit(3600000000L) && col("c_us") <= col("p_us"))
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_clicks"), min("c_id").as("min_click"))
      purchases.join(matched, Seq("p_id"), "left")
        .select(col("p_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          col("min_click"))
    }),

    // C55: OHLC resampling bars
    "events_ohlc" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
          col("ts"), col("event_id"))
      val w = Window.partitionBy("event_type", "h").orderBy(col("ts").asc, col("event_id").asc)
      val wAll = Window.partitionBy("event_type", "h")
      ev.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .groupBy("event_type", "h")
        .agg(max(when(col("rn") === 1L, col("cents"))).as("open"),
          max("cents").as("high"), min("cents").as("low"),
          max(when(col("rn") === col("cnt"), col("cents"))).as("close"),
          count(lit(1)).as("n"), sum("cents").as("vol_cents"))
    }),

    // C56: first-order Markov transition matrix over each user's event stream
    "events_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      events(s, dir)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("next_type"))
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("p_scaled", expr("(n * 10000) div sum(n) OVER (PARTITION BY prev_type)"))
    }),

    // C57: PageRank over the part co-purchase graph
    "parts_pagerank" -> ((s, dir) =>
      // symmetric edges ⇒ dst covers every node
      Graph.pageRank(coPurchaseEdges(s, dir), iters = 5, symmetric = true)),

    // C61: triangle counting over the same co-purchase graph
    "parts_triangles" -> ((s, dir) =>
      Graph.triangleCounts(coPurchaseEdges(s, dir))
        .orderBy(col("n_tri").desc, col("node").asc)
        .limit(15))
  )

  /** Distinct symmetric part co-purchase pairs. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_partkey")
    // canonical HALF edges (src < dst) through the distinct
    val half = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
      // both union branches AND both consumers
      .cache()
    // cache the MIRRORED set too
    half.union(half.select(col("dst").as("src"), col("src").as("dst"))).cache()
  }

  val oracle: Map[String, String] = Map(
    // C67: same unpivot, same KMV estimator, same hash
    "profile_columns" ->
      s"""WITH u AS (
         |  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val FROM orders
         |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
         |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
         |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
         |base AS (SELECT col, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) - count(val) AS BIGINT) AS n_null,
         |    min(val) AS vmin, max(val) AS vmax FROM u GROUP BY col),
         |d AS (SELECT DISTINCT col, val FROM u WHERE val IS NOT NULL),
         |hh AS (SELECT col, ${DuckDialect.hash("'pfl' || col || '|' || val")} AS h FROM d),
         |rk AS (SELECT col, h, row_number() OVER (PARTITION BY col ORDER BY h ASC) AS rn FROM hh),
         |sk AS (SELECT col, CAST(count(*) AS BIGINT) AS n_sk, CAST(max(h) AS BIGINT) AS kth
         |  FROM rk WHERE rn <= $KmvK GROUP BY col),
         |ex AS (SELECT col, CAST(count(*) AS BIGINT) AS n_distinct FROM d GROUP BY col)
         |SELECT b.col, b.n, b.n_null, e.n_distinct,
         |  CASE WHEN s.n_sk < $KmvK THEN s.n_sk
         |       ELSE CAST(floor(least(($KmvK - 1) * 1152921504606846976.0
         |         / CAST(s.kth AS DOUBLE), 9.0e18)) AS BIGINT) END AS est,
         |  b.vmin, b.vmax
         |FROM base b JOIN sk s ON b.col = s.col JOIN ex e ON b.col = e.col""".stripMargin,

    // C68: histogram-of-sizes quantiles, identical ceil convention
    "key_skew_profile" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(max(n) AS BIGINT) AS max_n FROM c),
        |hist AS (SELECT n, CAST(count(*) AS BIGINT) AS f FROM c GROUP BY n),
        |cum AS (SELECT n, f, CAST(sum(f) OVER (ORDER BY n) AS BIGINT) AS cf FROM hist),
        |q AS (SELECT
        |  (SELECT min(n) FROM cum, tot WHERE cf >= (n_keys * 50 + 99) // 100) AS p50,
        |  (SELECT min(n) FROM cum, tot WHERE cf >= (n_keys * 90 + 99) // 100) AS p90,
        |  (SELECT min(n) FROM cum, tot WHERE cf >= (n_keys * 99 + 99) // 100) AS p99),
        |t10 AS (SELECT CAST(sum(n) AS BIGINT) AS s10 FROM
        |  (SELECT n FROM c ORDER BY n DESC, user_id ASC LIMIT 10))
        |SELECT tot.n_keys, tot.n_rows, tot.max_n, q.p50, q.p90, q.p99,
        |  CAST((t10.s10 * 1000000) // tot.n_rows AS BIGINT) AS top10_ppm
        |FROM tot, q, t10""".stripMargin,

    "events_asof" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, 0 AS is_q, event_id AS p_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 1 AS is_q, NULL, NULL
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT user_id, ts, event_id, is_q,
        |    last_value(p_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, is_q, event_id ROWS UNBOUNDED PRECEDING) AS prev_purchase,
        |    last_value(p_ts IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, is_q, event_id ROWS UNBOUNDED PRECEDING) AS prev_ts
        |  FROM tagged)
        |SELECT event_id, user_id, prev_purchase,
        |  CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
        |FROM w WHERE is_q = 1""".stripMargin,

    "events_pivot" ->
      s"""SELECT user_id,
         |${EventTypes.map(t =>
            s"  CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
            .mkString(",\n")}
         |FROM events GROUP BY user_id""".stripMargin,

    "median_exact" ->
      """WITH c AS (SELECT o_orderpriority AS pri,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey FROM orders),
        |w AS (SELECT pri, cents,
        |  row_number() OVER (PARTITION BY pri ORDER BY cents, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY pri) AS n FROM c)
        |SELECT pri, cents AS median_cents FROM w WHERE rn = (n + 1) // 2""".stripMargin,

    "salted_agg" ->
      """SELECT event_type AS k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total
        |FROM events GROUP BY event_type""".stripMargin,

    "above_avg_orders" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS pri,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |a AS (SELECT pri, sum(cents) // count(*) AS avg_cents FROM o GROUP BY 1)
        |SELECT pri, CAST(count(*) AS BIGINT) AS n_above,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o JOIN a USING (pri) WHERE cents > avg_cents GROUP BY pri""".stripMargin,

    "orders_quartiles" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS pri,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |w AS (SELECT pri, cents,
        |  ntile(4) OVER (PARTITION BY pri ORDER BY cents, o_orderkey) AS q FROM o)
        |SELECT pri, CAST(q AS INTEGER) AS q, CAST(count(*) AS BIGINT) AS n,
        |  min(cents) AS lo, max(cents) AS hi
        |FROM w GROUP BY 1, 2""".stripMargin,

    "events_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
        |c AS (SELECT user_id, min(d) AS c0 FROM ud GROUP BY 1)
        |SELECT c.c0 AS cohort_day, ud.d - c.c0 AS off,
        |  CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_users
        |FROM ud JOIN c USING (user_id)
        |WHERE ud.d - c.c0 IN (0, 1, 3, 7)
        |GROUP BY 1, 2""".stripMargin,

    "approx_quantile_hist" ->
      """WITH c AS (SELECT o_orderpriority AS pri,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |st AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c),
        |sk AS (SELECT pri, ((cents - st.mn) * 256) // (st.mx - st.mn + 1) AS bin,
        |       CAST(count(*) AS BIGINT) AS cnt FROM c CROSS JOIN st GROUP BY 1, 2),
        |cum AS (SELECT pri, bin, cnt,
        |  sum(cnt) OVER (PARTITION BY pri ORDER BY bin) AS cum,
        |  sum(cnt) OVER (PARTITION BY pri) AS n FROM sk),
        |q AS (SELECT pri, max(n) AS n,
        |  min(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS b50,
        |  min(CASE WHEN cum * 100 >= n * 90 THEN bin END) AS b90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS b99
        |  FROM cum GROUP BY pri)
        |SELECT pri, CAST(n AS BIGINT) AS n,
        |  CAST(st.mn + greatest(((b50 + 1) * (st.mx - st.mn + 1)) // 256 - 1, (b50 * (st.mx - st.mn + 1)) // 256) AS BIGINT) AS p50_cents,
        |  CAST(st.mn + greatest(((b90 + 1) * (st.mx - st.mn + 1)) // 256 - 1, (b90 * (st.mx - st.mn + 1)) // 256) AS BIGINT) AS p90_cents,
        |  CAST(st.mn + greatest(((b99 + 1) * (st.mx - st.mn + 1)) // 256 - 1, (b99 * (st.mx - st.mn + 1)) // 256) AS BIGINT) AS p99_cents
        |FROM q CROSS JOIN st""".stripMargin,

    "events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.us) AS t2 FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.us) AS t3 FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY 1)
        |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p""".stripMargin,

    "snapshot_merge" ->
      s"""WITH cur AS (SELECT doc_id AS c_id, text AS c_text FROM documents WHERE doc_id < 400),
         |chg AS (SELECT doc_id AS n_id, 'v2 ' || text AS n_text FROM documents
         |        WHERE doc_id >= 350 AND doc_id < 450),
         |m AS (SELECT coalesce(n_id, c_id) AS doc_id,
         |  coalesce(n_text, c_text) AS text,
         |  CASE WHEN c_id IS NULL THEN 'insert'
         |       WHEN n_id IS NULL THEN 'keep' ELSE 'update' END AS op
         |  FROM cur FULL OUTER JOIN chg ON c_id = n_id)
         |SELECT op, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(${DuckDialect.hash("CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '')")} % 1000000007) AS BIGINT) AS checksum
         |FROM m GROUP BY op""".stripMargin,

    "events_impute_locf" ->
      """SELECT event_id, user_id, k,
        |  last_value(k IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS k_filled
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
        |      CASE WHEN event_type = 'purchase'
        |           THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
        |      FROM events)""".stripMargin,

    "events_anomaly_mad" ->
      """WITH c AS (SELECT event_type, event_id,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, cents AS med FROM (
        |  SELECT event_type, cents, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM c)
        |  WHERE rn = (n + 1) // 2),
        |d AS (SELECT c.event_type, c.event_id, m.med,
        |  abs(c.cents - m.med) AS dev FROM c JOIN m USING (event_type)),
        |md AS (SELECT event_type, dev AS mad FROM (
        |  SELECT event_type, dev, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d)
        |  WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, max(d.med) AS med_cents, max(md.mad) AS mad_cents,
        |  CAST(count(CASE WHEN d.dev > 3 * md.mad THEN 1 END) AS BIGINT) AS n_outliers,
        |  max(d.dev) AS max_dev
        |FROM d JOIN md USING (event_type) GROUP BY d.event_type""".stripMargin,

    "events_trailing_window" ->
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_hour,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_hour
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
        |      CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "events_interval_join" ->
      """WITH busy AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events
        |  GROUP BY 1 ORDER BY n DESC, h LIMIT 3),
        |w AS (SELECT h, h - INTERVAL 30 MINUTE AS w_start,
        |             h + INTERVAL 90 MINUTE AS w_end FROM busy)
        |SELECT epoch_us(w.h) // 60000000 AS window_min,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY 1""".stripMargin,

    "events_unpivot" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "salted_join" ->
      """WITH dim(event_type, w) AS (VALUES
        |  ('click', 1), ('view', 2), ('purchase', 5), ('signup', 3), ('error', 4))
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(d.w * CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS weighted_cents
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type""".stripMargin,

    "events_gap_fill" ->
      """WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(d) AS mn, max(d) AS mx FROM daily GROUP BY 1),
        |filled AS (SELECT user_id, unnest(generate_series(mn, mx)) AS d FROM span)
        |SELECT f.user_id, f.d, coalesce(dy.n, 0) AS n
        |FROM filled f LEFT JOIN daily dy USING (user_id, d)""".stripMargin,

    // C64: per-source K smallest distinct hashes via row_number, the same
    "kmv_distinct_est" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |  ${DuckDialect.hash("'kmv'||CAST(user_id AS VARCHAR)")} AS h FROM events),
         |rk AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
         |sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sk, CAST(max(h) AS BIGINT) AS kth
         |  FROM rk WHERE rn <= $KmvK GROUP BY event_type),
         |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY event_type)
         |SELECT event_type, n_sk, kth,
         |  CASE WHEN n_sk < $KmvK THEN n_sk
         |   ELSE CAST(floor(least(($KmvK - 1) * 1152921504606846976.0
         |     / CAST(kth AS DOUBLE), 9.0e18)) AS BIGINT) END AS est, n_exact
         |FROM sk JOIN ex USING (event_type)""".stripMargin,

    // C65: combined-sketch Jaccard over ≤K-element lists + the exact pairwise Jaccard
    "kmv_jaccard_est" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |  ${DuckDialect.hash("'kmv'||CAST(user_id AS VARCHAR)")} AS h FROM events),
         |rk AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
         |sk AS (SELECT event_type, list(h ORDER BY h) AS hs FROM rk WHERE rn <= $KmvK GROUP BY event_type),
         |pr AS (SELECT a.event_type AS sa, b.event_type AS sb,
         |    list_sort(list_distinct(a.hs || b.hs))[1 : $KmvK] AS comb, a.hs AS ha, b.hs AS hb
         |  FROM sk a JOIN sk b ON a.event_type < b.event_type),
         |est AS (SELECT sa, sb, CAST(len(comb) AS BIGINT) AS n_comb,
         |    CAST(len(list_filter(comb, x -> list_contains(ha, x) AND list_contains(hb, x))) AS BIGINT) AS n_shared
         |  FROM pr),
         |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY event_type),
         |itr AS (SELECT a.event_type AS sa, b.event_type AS sb, CAST(count(*) AS BIGINT) AS ni
         |  FROM h a JOIN h b ON a.h = b.h AND a.event_type < b.event_type GROUP BY 1, 2)
         |SELECT e.sa, e.sb, e.n_comb, e.n_shared,
         |  (e.n_shared * 1000000) // e.n_comb AS j_est_ppm,
         |  (coalesce(i.ni, 0) * 1000000) // (ca.n + cb.n - coalesce(i.ni, 0)) AS j_exact_ppm
         |FROM est e
         |JOIN cnt ca ON ca.event_type = e.sa JOIN cnt cb ON cb.event_type = e.sb
         |LEFT JOIN itr i ON i.sa = e.sa AND i.sb = e.sb""".stripMargin,

    "approx_distinct_hll" ->
      s"""WITH h AS (SELECT event_type,
         |  ${DuckDialect.hash("'hll'||CAST(event_id AS VARCHAR)")} AS h FROM events),
         |b AS (SELECT event_type, h % 256 AS bucket, h // 256 AS w FROM h),
         |r AS (SELECT event_type, bucket,
         |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_j
         |  FROM b GROUP BY 1, 2),
         |z AS (SELECT event_type,
         |  CAST(sum(CAST(1 AS BIGINT) << (53 - m_j))
         |    + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS zsum FROM r GROUP BY 1),
         |x AS (SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
         |      FROM events GROUP BY 1)
         |SELECT z.event_type,
         |  CAST(floor((($HllAlphaScaled.0 / 1000000.0) * 65536.0 * 9007199254740992.0)
         |    / CAST(zsum AS DOUBLE)) AS BIGINT) AS est,
         |  x.n_exact
         |FROM z JOIN x ON z.event_type = x.event_type""".stripMargin,

    // C69: same bucket/rho/zsum CTEs as C24
    "hll_rollup_merge" -> {
      def z(src: String, grp: String) = {
        val sel = if (grp.isEmpty) "" else s"$grp, "
        val by = if (grp.isEmpty) "" else s" GROUP BY $grp"
        s"""SELECT ${sel}CAST(sum(CAST(1 AS BIGINT) << (53 - m_j))
           |    + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS zsum
           |  FROM $src$by""".stripMargin
      }
      val e = s"CAST(floor((($HllAlphaScaled.0 / 1000000.0) * 65536.0 " +
        "* 9007199254740992.0) / CAST(zsum AS DOUBLE)) AS BIGINT)"
      s"""WITH h AS (SELECT source, lang,
         |  ${DuckDialect.hash("'hrm'||text")} AS h FROM documents),
         |b AS (SELECT source, lang, h % 256 AS bucket, h // 256 AS w FROM h),
         |fine AS (SELECT source, lang, bucket,
         |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_j
         |  FROM b GROUP BY 1, 2, 3),
         |msrc AS (SELECT source, bucket, max(m_j) AS m_j FROM fine GROUP BY 1, 2),
         |mall AS (SELECT bucket, max(m_j) AS m_j FROM fine GROUP BY 1),
         |zf AS (${z("fine", "source, lang")}),
         |zs AS (${z("msrc", "source")}),
         |za AS (${z("mall", "")}),
         |dt AS (SELECT DISTINCT source, lang, text FROM documents),
         |xf AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_exact FROM dt GROUP BY 1, 2),
         |xs AS (SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_exact FROM dt GROUP BY 1),
         |xa AS (SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact FROM dt)
         |SELECT 'source_lang' AS lvl, zf.source, zf.lang, $e AS est, xf.n_exact
         |FROM zf JOIN xf ON zf.source = xf.source AND zf.lang = xf.lang
         |UNION ALL
         |SELECT 'source', zs.source, 'ALL', $e, xs.n_exact
         |FROM zs JOIN xs ON zs.source = xs.source
         |UNION ALL
         |SELECT 'all', 'ALL', 'ALL', $e, xa.n_exact
         |FROM za CROSS JOIN xa""".stripMargin
    },

    // C69b: the same register-max merge CTEs with no exact audit sides
    "hll_rollup_est" -> {
      def z(src: String, grp: String) = {
        val sel = if (grp.isEmpty) "" else s"$grp, "
        val by = if (grp.isEmpty) "" else s" GROUP BY $grp"
        s"""SELECT ${sel}CAST(sum(CAST(1 AS BIGINT) << (53 - m_j))
           |    + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS zsum
           |  FROM $src$by""".stripMargin
      }
      val e = s"CAST(floor((($HllAlphaScaled.0 / 1000000.0) * 65536.0 " +
        "* 9007199254740992.0) / CAST(zsum AS DOUBLE)) AS BIGINT)"
      s"""WITH h AS (SELECT source, lang,
         |  ${DuckDialect.hash("'hrm'||text")} AS h FROM documents),
         |b AS (SELECT source, lang, h % 256 AS bucket, h // 256 AS w FROM h),
         |fine AS (SELECT source, lang, bucket,
         |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_j
         |  FROM b GROUP BY 1, 2, 3),
         |msrc AS (SELECT source, bucket, max(m_j) AS m_j FROM fine GROUP BY 1, 2),
         |mall AS (SELECT bucket, max(m_j) AS m_j FROM fine GROUP BY 1),
         |zf AS (${z("fine", "source, lang")}),
         |zs AS (${z("msrc", "source")}),
         |za AS (${z("mall", "")})
         |SELECT 'source_lang' AS lvl, zf.source, zf.lang, $e AS est FROM zf
         |UNION ALL
         |SELECT 'source', zs.source, 'ALL', $e FROM zs
         |UNION ALL
         |SELECT 'all', 'ALL', 'ALL', $e FROM za""".stripMargin
    },

    // C67b: the same profile CTEs with the exact-distinct audit dropped
    "profile_columns_est" ->
      s"""WITH u AS (
         |  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val FROM orders
         |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
         |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
         |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
         |base AS (SELECT col, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) - count(val) AS BIGINT) AS n_null,
         |    min(val) AS vmin, max(val) AS vmax FROM u GROUP BY col),
         |d AS (SELECT DISTINCT col, val FROM u WHERE val IS NOT NULL),
         |hh AS (SELECT col, ${DuckDialect.hash("'pfl' || col || '|' || val")} AS h FROM d),
         |rk AS (SELECT col, h, row_number() OVER (PARTITION BY col ORDER BY h ASC) AS rn FROM hh),
         |sk AS (SELECT col, CAST(count(*) AS BIGINT) AS n_sk, CAST(max(h) AS BIGINT) AS kth
         |  FROM rk WHERE rn <= $KmvK GROUP BY col)
         |SELECT b.col, b.n, b.n_null,
         |  CASE WHEN s.n_sk < $KmvK THEN s.n_sk
         |       ELSE CAST(floor(least(($KmvK - 1) * 1152921504606846976.0
         |         / CAST(s.kth AS DOUBLE), 9.0e18)) AS BIGINT) END AS est,
         |  b.vmin, b.vmax
         |FROM base b JOIN sk s ON b.col = s.col""".stripMargin,

    "events_path_topk" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM g),
        |p AS (
        |  SELECT user_id, sess_idx,
        |    string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS path
        |  FROM s GROUP BY user_id, sess_idx)
        |SELECT path, count(*) AS n FROM p
        |GROUP BY path ORDER BY n DESC, path ASC LIMIT 10""".stripMargin,

    // the Bloom filter only PRUNES before the exact join, so the result is exactly the plain join
    "bloom_prune_join" ->
      """SELECT count(*) AS n_orders,
        | CAST(floor(sum(o_totalprice) + 0.5) AS BIGINT) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "cms_topk_est" -> {
      def cell(r: String, user: String) =
        DuckDialect.hash(s"'cms' || CAST($r AS VARCHAR) || '_' || CAST($user AS VARCHAR)") + " % 256"
      s"""WITH cells AS (
         |  SELECT rr.r AS r, ${cell("rr.r", "e.user_id")} AS cell, count(*) AS cnt
         |  FROM events e CROSS JOIN range(1, 5) rr(r) GROUP BY 1, 2),
         |top5 AS (
         |  SELECT user_id, count(*) AS n_true FROM events
         |  GROUP BY user_id ORDER BY n_true DESC, user_id ASC LIMIT 5),
         |pr AS (
         |  SELECT t.user_id, t.n_true, rr.r AS r, ${cell("rr.r", "t.user_id")} AS cell
         |  FROM top5 t CROSS JOIN range(1, 5) rr(r))
         |SELECT pr.user_id, pr.n_true, min(c.cnt) AS n_est
         |FROM pr JOIN cells c ON pr.r = c.r AND pr.cell = c.cell
         |GROUP BY 1, 2""".stripMargin
    },

    "scd2_history" ->
      """WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal FROM customer),
        |upd AS (SELECT
        |    CASE WHEN c_custkey % 13 = 0 THEN c_custkey + 1000000 ELSE c_custkey END AS k,
        |    c_mktsegment AS seg_u,
        |    CASE WHEN c_custkey % 7 = 0
        |         THEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 1000
        |         ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) END AS bal_u
        |  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0),
        |f AS (SELECT coalesce(c.k, u.k) AS k, c.seg, c.bal, u.seg_u, u.bal_u,
        |    CASE WHEN c.seg IS NULL THEN 'insert'
        |         WHEN u.seg_u IS NULL THEN 'keep'
        |         WHEN u.bal_u = c.bal AND u.seg_u = c.seg THEN 'keep'
        |         ELSE 'restate' END AS cls
        |  FROM cur c FULL OUTER JOIN upd u ON c.k = u.k)
        |SELECT k, cls, CAST(1000 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
        |  seg_u AS seg, bal_u AS bal_cents FROM f WHERE cls = 'insert'
        |UNION ALL
        |SELECT k, cls, 0, NULL, seg, bal FROM f WHERE cls = 'keep'
        |UNION ALL
        |SELECT k, cls, 0, 1000, seg, bal FROM f WHERE cls = 'restate'
        |UNION ALL
        |SELECT k, cls, 1000, NULL, seg_u, bal_u FROM f WHERE cls = 'restate'""".stripMargin,

    "agg_incremental" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |c AS (SELECT min(d) + (max(d) - min(d)) // 2 AS cut FROM ev)
        |SELECT event_type, count(*) AS n_total, CAST(sum(cents) AS BIGINT) AS cents_total,
        |  CAST(count(CASE WHEN d >= (SELECT cut FROM c) THEN 1 END) AS BIGINT) AS n_delta
        |FROM ev GROUP BY event_type""".stripMargin,

    "table_diff_buckets" -> {
      val rowHash = DuckDialect.hash(
        "concat_ws('|', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), " +
          "event_type, CAST(cents AS VARCHAR))") + " % 1048576"
      s"""WITH base AS (SELECT event_id, user_id, event_type,
         |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
         |a AS (SELECT event_id % 256 AS bucket, count(*) AS n_a,
         |    sum($rowHash) AS chk_a FROM base GROUP BY 1),
         |pert AS (SELECT event_id, user_id, event_type,
         |    CASE WHEN event_id % 499 = 0 THEN cents + 1 ELSE cents END AS cents
         |  FROM base WHERE event_id % 997 != 0),
         |b AS (SELECT event_id % 256 AS bucket, count(*) AS n_b,
         |    sum($rowHash) AS chk_b FROM pert GROUP BY 1)
         |SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |  n_a, CAST(chk_a AS BIGINT) AS chk_a, n_b, CAST(chk_b AS BIGINT) AS chk_b
         |FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
         |WHERE n_a IS DISTINCT FROM n_b OR chk_a IS DISTINCT FROM chk_b""".stripMargin
    },

    "events_ohlc" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(floor(value * 100) AS BIGINT) AS cents, epoch_us(ts) AS us, event_id
        |  FROM events WHERE value IS NOT NULL),
        |w AS (SELECT event_type, h, cents,
        |    row_number() OVER (PARTITION BY event_type, h ORDER BY us, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type, h) AS cnt
        |  FROM e)
        |SELECT event_type, h,
        |  max(CASE WHEN rn = 1 THEN cents END) AS open,
        |  max(cents) AS high, min(cents) AS low,
        |  max(CASE WHEN rn = cnt THEN cents END) AS close,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS vol_cents
        |FROM w GROUP BY event_type, h""".stripMargin,

    "events_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS prev_type
        |  FROM events),
        |pairs AS (SELECT prev_type, event_type AS next_type
        |  FROM seq WHERE prev_type IS NOT NULL)
        |SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST((count(*) * 10000) // sum(count(*)) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_scaled
        |FROM pairs GROUP BY prev_type, next_type""".stripMargin,

    // the 5 power iterations unroll into 5 CTEs (no recursive-CTE
    // aggregation semantics to depend on); every step is floor division
    // on non-negative integers, so both engines walk identical ranks
    "parts_pagerank" -> {
      val iterCtes = (1 to 5).map { i =>
        s"""r$i AS (SELECT n.node,
           |  CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.r // od.outdeg) AS s
           |    FROM e JOIN r${i - 1} r ON e.src = r.node
           |    JOIN od ON od.src = e.src
           |    GROUP BY e.dst) s USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
         |$iterCtes
         |SELECT node, r FROM r5""".stripMargin
    },

    // identical degree-orientation + wedge-closure walk
    "parts_triangles" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey),
        |deg AS (SELECT src AS n, count(*) AS deg FROM e GROUP BY src),
        |o AS (SELECT e.src AS a, e.dst AS b, d2.deg AS degb
        |  FROM e JOIN deg d1 ON d1.n = e.src JOIN deg d2 ON d2.n = e.dst
        |  WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND e.src < e.dst)),
        |w AS (SELECT x.a AS a, x.b AS b1, y.b AS b2
        |  FROM o x JOIN o y ON x.a = y.a
        |  AND (x.degb < y.degb OR (x.degb = y.degb AND x.b < y.b))),
        |t AS (SELECT w.a, w.b1, w.b2
        |  FROM w JOIN o z ON w.b1 = z.a AND w.b2 = z.b),
        |c AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT a AS node FROM t
        |  UNION ALL SELECT b1 FROM t
        |  UNION ALL SELECT b2 FROM t)
        |  GROUP BY node)
        |SELECT node, n_tri FROM c ORDER BY n_tri DESC, node ASC LIMIT 15""".stripMargin,

    "events_attribution_bucketed" ->
      """WITH c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.p_id, c.c_id FROM p JOIN c ON p.user_id = c.user_id
        |       AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us),
        |a AS (SELECT p_id, count(*) AS n_clicks, min(c_id) AS min_click
        |      FROM j GROUP BY p_id)
        |SELECT p.p_id, coalesce(a.n_clicks, 0) AS n_clicks, a.min_click
        |FROM p LEFT JOIN a USING (p_id)""".stripMargin
  )
}
