package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{aggs, scaled, sqDistLongSql, vectors}

/** A43/A43d — the three-stage quantizer cascade funnel (FAISS refine /
  * Vespa two-phase convention, generalized to three stages): stage 1
  * ranks by 64-bit Hamming over packed sign codes (the cheapest distance
  * that exists — the always-resident 8-byte index), stage 2 reranks the
  * shortlist by int8 scalar-quantized squared-L2 under full-corpus
  * (mn, mx) calibration, stage 3 pays exact float cosine for the
  * survivors only. Every cut is integer-exact with ties to the lower id,
  * so the whole funnel replays in the DuckDB oracle.
  *
  * At 100 TB the funnel ratio is the I/O story: the full scan touches
  * 8 B/row, sq8 touches 64 B on the stage-1 survivors, floats page in
  * for `stage2` rows. `restrict` narrows the stage-1 body (e.g. an IVF
  * probe membership join — A43d), while calibration and the query side
  * stay corpus-wide index-build state.
  *
  * Extracted from the FusionQueries entries so ScaleProbe can measure
  * the funnel at probe scale; the entries delegate here unchanged.
  */
object Cascade {

  /** Full-corpus sq8 calibration as a guarded 1-row (mn, mx) frame —
    * index-build model state, collected once. A degenerate corpus
    * (constant components, mx == mn) would make every
    * `(x − mn)·255/(mx − mn)` code NULL via division by zero and
    * silently collapse the int8 cut instead of failing loudly (r10
    * ADVICE; the probeBatch guard convention) — refuse it here, at
    * every calibration site at once. The collected doubles re-enter the
    * plan as exact literal columns (never stringified), so the
    * downstream arithmetic is bit-identical to the joined form. */
  def calibrationStats(ev: DataFrame, vCol: String = "v"): DataFrame =
    calibrationAndPresence(ev, Nil, vCol)

  /** [[calibrationStats]] plus a query-presence check riding the SAME
    * corpus aggregation (no extra scan): a q_id absent from the corpus
    * would otherwise yield no query row and silently vanish from the
    * batch output (fewer groups, no error — r11 ADVICE). One pass
    * computes (mn, mx, matched-qid count); a missing id fails loudly
    * here, at every funnel entry point at once. */
  def calibrationAndPresence(ev: DataFrame, qids: Seq[Long],
                             vCol: String = "v"): DataFrame = {
    val dq = qids.distinct
    // countDistinct, not count (r12 ADVICE): with a duplicated corpus
    // vec_id a row COUNT can exactly cancel an absent qid (dup + missing
    // still == dq.size) or fail spuriously on a benign duplicate; distinct
    // matched IDS is the property the guard actually asserts.
    val base = ev.agg(min(expr(s"array_min($vCol)")).as("mn"),
      max(expr(s"array_max($vCol)")).as("mx"),
      (if (dq.isEmpty) lit(0L)
       else countDistinct(when(col("vec_id").isin(dq: _*), col("vec_id")))).as("nq"))
    val r = base.head
    require(!r.isNullAt(0) && !r.isNullAt(1) && r.getDouble(1) > r.getDouble(0),
      s"sq8 calibration degenerate (mn=${r.get(0)}, mx=${r.get(1)}): a " +
        "constant-component corpus divides by zero and nulls every int8 " +
        "code, silently emptying the quantized stage — rescale the " +
        "embeddings or skip the sq8 cut")
    require(dq.isEmpty || r.getLong(2) == dq.size,
      s"cascade: ${dq.size - r.getLong(2)} of ${dq.size} query ids are " +
        "absent from the corpus — a missing q_id would silently drop its " +
        "query group from the batch output instead of failing; remove the " +
        "unknown ids or index them first")
    val spark = ev.sparkSession
    import spark.implicits._
    Seq((r.getDouble(0), r.getDouble(1))).toDF("mn", "mx")
  }

  /** 32 sign bits of `vec` starting at dim `off` packed into one
    * non-negative BIGINT — 32 explicit codegen'd CASE terms (disjoint
    * bits, so + is OR), token-identical to the oracle's DuckDB form. */
  def bqHalf(vec: String, off: Int): String =
    (0 until 32).map(j =>
      s"(CASE WHEN element_at($vec, ${off + j + 1}) > 0.0D THEN ${1L << j}L ELSE 0L END)")
      .mkString(" + ")

  /** Run the funnel for query `qid` over `raw` (needs `vec_id` and a
    * `dims`-wide `embedding`; extra columns such as `label` ride through to
    * `restrict`). Output: (vec_id, score, d8, ham), score desc.
    *
    * Any width: the sign bits pack into dims/32 longs via the BqPackVec /
    * HammingDistLong kernels (at d=64 the two words are the batch funnel's
    * [[bqHalf]] lo/hi pair; 2048 explicit CASE terms would blow the Janino
    * method-size budget, the kernels are one primitive loop each) and the
    * sq8 stage runs the Sq8QuantizeVec / SqDistLong kernels — Hamming over
    * all sign bits, int8 sq-L2 under corpus-wide calibration, exact
    * cosine, every cut integer-exact with ties to the lower id, so the
    * funnel replays in the oracle at the reference's d=2048. At 100 TB the
    * always-resident code column is dims/8 bytes/row (256 B at 2048-d vs
    * the reference's 8 KB floats). */
  def searchWide(raw: DataFrame, qid: Long, stage1: Int, stage2: Int, k: Int,
                 dims: Int,
                 restrict: DataFrame => DataFrame = identity): DataFrame = {
    require(dims % 32 == 0, s"searchWide: dims=$dims must be a multiple of 32")
    val e = raw.select(raw.columns.toSeq.map(col) ++ Seq(
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"),
      vectors.bqPack(col("embedding"), dims / 32).as("p")): _*)
    val stats = calibrationAndPresence(e, Seq(qid))
    val q = e.filter(col("vec_id") === qid)
      .select(col("p").as("qp"), col("embedding").as("q_vec"), col("v").as("qd"))
    // `restrict` narrows the stage-1 BODY only (e.g. an IVF probe
    // membership join — A43d); calibration and the query side stay
    // corpus-wide index-build state
    restrict(e.filter(col("vec_id") =!= qid))
      .crossJoin(broadcast(q))
      .withColumn("ham", vectors.hammingLong(col("p"), col("qp")))
      .orderBy(col("ham").asc, col("vec_id").asc).limit(stage1)
      .crossJoin(broadcast(stats))
      // sq8 quantize + integer sq-L2 as codegen'd kernels (r12: the
      // transform()/aggregate(zip_with) HOF forms pay boxed per-element
      // lambdas — arithmetic token-identical, spec-pinned kernel ≡ HOF)
      .select(col("vec_id"), col("embedding"), col("q_vec"), col("ham"),
        vectors.sq8(col("v"), col("mn"), col("mx")).as("qa"),
        vectors.sq8(col("qd"), col("mn"), col("mx")).as("qb"))
      .withColumn("d8", vectors.sqDistLong(col("qa"), col("qb")))
      .orderBy(col("d8").asc, col("vec_id").asc).limit(stage2)
      .withColumn("score", scaled(
        vectors.cosine(col("embedding"), col("q_vec")), Knn.ScoreDigits))
      .orderBy(col("score").desc, col("vec_id").asc).limit(k)
      .select("vec_id", "score", "d8", "ham")
  }

  /** A43b/A43e — the funnel BATCHED: ONE 8-byte-code scan serves the whole
    * query set (the A12b/A21b amortization): stage 1 is a per-q_id
    * map-side k-heap over one corpus×broadcast-Q Hamming scan (shuffle ≤
    * |Q|·stage1 rows — scored rows never leave the task); the shortlist
    * then broadcasts back over the float scan for stages 2/3, which rank
    * via windows over the pre-cut shortlist only. Exactly two corpus
    * scans regardless of |Q|.
    *
    * `keep` (single `vec_id` column) prunes the stage-1 BODY — the ACORN
    * composition (A23 convention: the filter qualifies candidates, never
    * who may ask, so queries come from the full table and need not pass
    * it). Calibration stays corpus-wide index-build state — filtering
    * never re-calibrates (the A44 probe convention). Queries come from
    * the indexed corpus by id (query-by-indexed-item, self excluded
    * per q_id). Output: (q_id, vec_id, score, d8, ham).
    *
    * `stats` lets [[searchBatchSharded]] thread ONE calibration/presence
    * aggregation across all chunks (r11 ADVICE: per-chunk recomputation
    * was 4 redundant corpus scans at cap=32×4); when absent, this call
    * runs it — which also validates every qid is indexed. */
  def searchBatch(raw: DataFrame, qids: Seq[Long], stage1: Int, stage2: Int,
                  k: Int, keep: Option[DataFrame] = None,
                  stats0: Option[DataFrame] = None,
                  e0: Option[DataFrame] = None,
                  codes0: Option[DataFrame] = None): DataFrame = {
    // `e0` lets the sharded driver thread ONE packed frame (vec, v, lo/hi
    // sign codes) across every pass — the pack projection is
    // query-independent, so per-pass re-derivation only multiplied it by
    // the shard count (r17 optimization, the Pq sharded convention).
    // `codes0` (r18, ADVICE r17) is the MATERIALIZED narrow (vec_id, lo,
    // hi) stage-1 table: only those 17 bytes/row are stored — the
    // embedding/v columns stay lazy and the rerank re-derives them for
    // its ≤shortlist join, so the sharded driver's executor-storage
    // footprint is index-sized, never 3× corpus bytes.
    val e = e0.getOrElse(raw.selectExpr("vec_id", "embedding",
      "CAST(embedding AS ARRAY<DOUBLE>) AS v",
      s"${bqHalf("embedding", 0)} AS lo", s"${bqHalf("embedding", 32)} AS hi"))
    val stats = stats0.getOrElse(calibrationAndPresence(e, qids))
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"), col("hi").as("q_hi"),
        col("embedding").as("q_vec"), col("v").as("qd"))
    val body0 = codes0.getOrElse(e.select("vec_id", "lo", "hi"))
    val body = keep.fold(body0)(ids => body0.join(ids, "vec_id"))
    val short1 = body.crossJoin(broadcast(qs.select("q_id", "q_lo", "q_hi")))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham",
        expr("CAST(bit_count(lo ^ q_lo) + bit_count(hi ^ q_hi) AS BIGINT)"))
      .groupBy("q_id")
      .agg(aggs.topK(col("ham"), col("vec_id"), stage1, asc = true).as("hits"))
      .select(col("q_id"), explode(col("hits")).as("hit"))
      .select(col("q_id"), col("hit.id").as("vec_id"), col("hit.score").as("ham"))
    rerankShortlist(e, qs, stats, short1, stage2, k)
  }

  /** Stages 2/3 over an ALREADY-CUT stage-1 shortlist (q_id, vec_id,
    * ham) — the tail of [[searchBatch]], factored so a downstream
    * consumer of a STREAMED stage-1 sink (C71's shortlist table) reranks
    * through the exact same code path the batch funnel runs (r11 verdict
    * next #8: "production reranks downstream" was documentation; this
    * makes it code). `e` needs (vec_id, embedding, v); `qs` needs
    * (q_id, q_vec, qd); `stats` is the corpus-wide (mn, mx) frame. */
  def rerankShortlist(e: DataFrame, qs: DataFrame, stats: DataFrame,
                      short1: DataFrame, stage2: Int, k: Int): DataFrame = {
    val wq = Window.partitionBy("q_id")
    broadcast(short1).join(e.select("vec_id", "embedding", "v"), "vec_id")
      .join(broadcast(qs.select("q_id", "q_vec", "qd")), "q_id")
      .crossJoin(broadcast(stats))
      // kernels, not HOFs — see searchWide
      .select(col("q_id"), col("vec_id"), col("embedding"), col("q_vec"), col("ham"),
        vectors.sq8(col("v"), col("mn"), col("mx")).as("qa"),
        vectors.sq8(col("qd"), col("mn"), col("mx")).as("qb"))
      .withColumn("d8", vectors.sqDistLong(col("qa"), col("qb")))
      .withColumn("r2", row_number().over(wq.orderBy(col("d8").asc, col("vec_id").asc)))
      .filter(col("r2") <= stage2)
      .withColumn("score", scaled(
        vectors.cosine(col("embedding"), col("q_vec")), Knn.ScoreDigits))
      .withColumn("r3", row_number().over(wq.orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("r3") <= k)
      .select("q_id", "vec_id", "score", "d8", "ham")
  }

  /** A43f — [[searchBatch]] past the broadcast-Q ceiling: the A21d
    * cap-and-union recipe applied to the funnel. Every q_id lands in
    * exactly one ≤cap chunk and per-query results depend only on that
    * query's Hamming/sq8/cosine cuts, so the union ≡ one whole-file pass
    * (spec-pinned at cap=4); the whole-file duplicate guard lives in the
    * shared skeleton. Linear in shard count by design — the price of the
    * >cap path.
    *
    * ONE calibration/presence pass for the whole qid set is threaded into
    * every chunk (r11 ADVICE), and ONE shared pack, size-gated by
    * [[fullPackFits]]: under the budget the whole packed frame
    * materializes (A/B-measured: the narrow-only split re-derived the
    * embedding/v columns per pass and doubled the sharded entry at gate
    * scale, 1.4 → 2.6 s); past it only the narrow (vec_id, lo, hi)
    * stage-1 code table is stored (index-sized, the column a store keeps
    * resident at 100 TB) and each pass's tiny qs filter / ≤shortlist
    * rerank join re-derives the wide columns lazily. */
  def searchBatchSharded(raw: DataFrame, qids: Seq[Long], stage1: Int,
                         stage2: Int, k: Int, keep: Option[DataFrame] = None,
                         cap: Int = Pq.WideBatchCap): DataFrame = {
    val packed = raw.selectExpr("vec_id", "embedding",
      "CAST(embedding AS ARRAY<DOUBLE>) AS v",
      s"${bqHalf("embedding", 0)} AS lo", s"${bqHalf("embedding", 32)} AS hi")
    // the row count prunes every column: a parquet corpus answers it from
    // file footers, so the gate costs no pass over the vectors
    val (e, codes) =
      if (fullPackFits(raw.count())) (Dedup.materialize(packed), None)
      else (packed, Some(Dedup.materialize(packed.select("vec_id", "lo", "hi"))))
    val stats = calibrationAndPresence(e, qids)
    Pq.shardedWide(qids, cap, "cascadeSearchBatchSharded")(chunk =>
      searchBatch(raw, chunk, stage1, stage2, k, keep, Some(stats), Some(e), codes))
  }

  /** Byte budget for the sharded funnel's materialized full pack, in
    * executor storage: sized so any corpus that plausibly fits executor
    * storage whole takes the faster full-pack shape, and a 100 TB corpus
    * never does. */
  val PackMaterializeMaxBytes: Long = 4L << 30

  /** In-memory bytes of one full-pack row: the 64 packed dims as the float
    * embedding (4·d) and its double cast `v` (8·d), plus the two sign
    * words (16). Compressed file bytes would understate it several-fold. */
  private[graft] val PackRowBytes: Long = 12L * 64 + 16

  /** The full pack of `rows` vectors fits [[PackMaterializeMaxBytes]]. */
  private[graft] def fullPackFits(rows: Long): Boolean =
    rows * PackRowBytes <= PackMaterializeMaxBytes
}
