package graft.operators

import org.apache.spark.sql.{DataFrame, Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{exchange, FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.functions.{pq, scaled, vectors}

/** Product quantization (IVF-PQ style) — the canonical 100 TB vector-
  * compression path: vectors become `numSub` small codes (here 8 codes of
  * 6 bits → 8 bytes per 64-dim float vector, 32× smaller), queries scan
  * codes via an ADC (asymmetric distance computation) lookup table, and
  * only a short candidate list is reranked against full vectors.
  *
  * Codebook training is deliberately DETERMINISTIC here: the K lowest-id
  * vectors seed each subspace's codewords (the `KMeans` operator exists for
  * real Lloyd's training — seeding keeps this whole path, encode included,
  * verifiable by the DuckDB oracle, the same trade `ivf_build` makes).
  *
  * Scale shape:
  *  - codebook and ADC tables are K·M-entry model state — driver
  *    arithmetic, broadcast, never shuffled;
  *  - encoding is one narrow kernel projection ([[encodeFast]]); at 100 TB
  *    codes are computed ONCE at ingest and stored (the 32× compression is
  *    what makes the corpus scannable);
  *  - the query scan reads codes only, sums M table lookups per row, and
  *    cuts the shortlist with map-side k-heaps — no full-vector I/O until
  *    the R-row rerank.
  *
  * All sub-distances are squared L2 computed as an explicit left-assoc
  * 8-term sum (no sqrt, no engine aggregation-order ambiguity), scaled to
  * BIGINT per the repo convention.
  *
  * One path serves every query, single or file: each algorithm has one
  * batched serve — [[searchRerankBatch]], [[searchRerankBatchExternal]],
  * [[ivfpqBatch]] and [[ivfpqResidualBatch]] — and the single-query forms
  * ([[searchRerank]], [[searchRerankCb]], [[searchPersisted]],
  * [[ivfpqResidual]]) are one-query calls of it that project
  * (vec_id, score). See the batched-serving section below. */
object Pq {

  /** (m, code, cw): KMeans-trained codewords — real Lloyd's over every
    * subspace's sub-vectors SIMULTANEOUSLY (the production alternative to
    * the oracle-friendly seeded codebook). Per iteration: ONE scan whose
    * assignment step is the codegen'd `PqNearestCode` kernel itself (the
    * encode path doubles as Lloyd's E-step), a stack to (m, code, subvec)
    * rows, and one (m, code)-keyed mean — all M·K centroids update in a
    * single job, vs M separate KMeans fits. Training runs on a bounded
    * sample (`sampleMax` lowest-id vectors), exactly how large-corpus PQ
    * codebooks are fit in practice: the codebook is k·d model state and
    * the full corpus is only ever touched by the one-pass encode that
    * follows. Deterministic (lowest-id seeds, lowest-code tie-breaks,
    * empty codes keep their centroid) but iterative fp — so entries built
    * on it are rows-only, the same trade SURVEY §2 documents for A14. */
  def trainedCodebook(emb: DataFrame, numSub: Int, subDim: Int, numCodes: Int,
                      iters: Int, sampleMax: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = Dedup.materialize(emb.filter(col("vec_id") < sampleMax)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v"))
    var cb = codebookRows(seededCodebook(emb, numSub, subDim, numCodes))
    val stackExpr = s"stack($numSub, " +
      (0 until numSub).map(m => s"$m, code_$m").mkString(", ") + ") AS (m, code)"
    for (_ <- 0 until iters) {
      val next = encodeFast(sample, cb, numSub, subDim)
        .join(sample, "vec_id")
        .selectExpr(stackExpr, "v")
        .selectExpr("m", "code",
          s"CAST(slice(v, m * $subDim + 1, $subDim) AS ARRAY<FLOAT>) AS sv")
        .groupBy("m", "code")
        .agg(graft.functions.aggs.vecSum(col("sv")).as("vsum"), count(col("sv")).as("n"))
        .selectExpr("m", "code", "transform(vsum, x -> x / n) AS cw")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      cb = cb.map { case (m, c, cw) => (m, c, next.getOrElse((m, c), cw)) }
    }
    cb.toSeq.map { case (m, c, cw) => (m, c, cw.toSeq) }.toDF("m", "code", "cw")
  }

  /** (vec_id, q: array<bigint>): components quantized to floor(x·10⁴+0.5)
    * — the integer-exact form the engine-portable training paths share. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.vectors.quantize(col("embedding")).as("q"))

  /** INTEGER-EXACT trained PQ codebook — Lloyd's per subspace over
    * QUANTIZED sub-vectors: assignment via the `NearestCentroidLong`
    * kernel (exact integer squared L2, lowest-code ties), centroid update
    * as the element-wise integer floor-mean. Bit-identical in any engine
    * ⇒ the trained search carries a full DuckDB oracle (the float
    * `trainedCodebook` remains the library fp form). Same scale shape:
    * bounded sample, one kernel-projection E-step + one (m, code)-keyed
    * VecSumLong M-step per iteration, M·K·d driver model state. */
  def trainedCodebookInt(emb: DataFrame, numSub: Int, subDim: Int, numCodes: Int,
                         iters: Int, sampleMax: Int): Seq[(Int, Long, Array[Long])] = {
    // spread the sample across executors BEFORE materializing: every
    // Lloyd iteration's E-step kernel runs over this frame, and the
    // single-row-group gate corpus would otherwise pin all of them to
    // one task (r17 optimization; results are key-grouped integer sums —
    // placement-independent)
    val sample = Dedup.materialize(spreadHeavyKernel(
      quantized(emb).filter(col("vec_id") < sampleMax),
      numSub.toLong * numCodes * subDim))
    val seedVecs = sample.orderBy(col("vec_id").asc).limit(numCodes)
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    var cb: Seq[(Int, Long, Array[Long])] =
      for { m <- 0 until numSub; (v, c) <- seedVecs.zipWithIndex.toSeq }
        yield (m, c.toLong, v.slice(m * subDim, (m + 1) * subDim))
    val stackExpr = s"stack($numSub, " +
      (0 until numSub).map(m => s"$m, code_$m").mkString(", ") + ") AS (m, code)"
    for (_ <- 0 until iters) {
      val next = encodeIntCols(sample, cb, numSub, subDim)
        .selectExpr(stackExpr, "q")
        .selectExpr("m", "code", s"slice(q, m * $subDim + 1, $subDim) AS sv")
        .groupBy("m", "code")
        .agg(graft.functions.aggs.vecSumLong(col("sv")).as("s"), count(lit(1)).as("cnt"))
        // integer floor-mean; components can be negative → pmod identity
        .selectExpr("m", "code", graft.functions.floorMeanVecSql("s", "cnt") + " AS cw")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2).toArray).toMap
      // empty codes keep their previous codeword
      cb = cb.map { case (m, c, cw) => (m, c, next.getOrElse((m, c), cw)) }
    }
    cb
  }

  /** Wide integer codes (vec_id, q, code_0 … code_{M-1}) — one narrow
    * projection of `NearestCentroidLong` kernels over sliced sub-vectors. */
  private def encodeIntCols(qemb: DataFrame, cb: Seq[(Int, Long, Array[Long])],
                            numSub: Int, subDim: Int,
                            carry: Seq[String] = Seq("vec_id", "q"),
                            vecCol: String = "q"): DataFrame = {
    val cols = (0 until numSub).map { m =>
      val table = cb.filter(_._1 == m).map { case (_, c, cw) => (c, cw) }
      graft.functions.centroids.nearestLong(
        expr(s"slice($vecCol, ${m * subDim + 1}, $subDim)"), table)
        .getField("label").as(s"code_$m")
    }
    // heavy-kernel spread is a no-op on already-spread inputs (the
    // materialized Lloyd sample) and on naturally-parallel scans
    spreadHeavyKernel(qemb, cb.length.toLong * subDim)
      .select(carry.map(col) ++ cols: _*)
  }

  /** Integer-exact ADC shortlist + exact integer rerank over a trained
    * integer codebook: score = exact squared L2 in quantized units.
    * Narrow encode (kernel projection) → literal-array td lookup →
    * TakeOrdered shortlist → rerank from the carried q (no join back). */
  def searchRerankInt(emb: DataFrame, cb: Seq[(Int, Long, Array[Long])],
                      qid: Int, k: Int, numSub: Int, subDim: Int,
                      shortlist: Int): DataFrame = {
    // store the quantized frame once when the encode is heavy (the
    // lineage-vs-stored 6× penalty — see materializeIfHeavy); the encode
    // itself stays LAZY in both paths: it has exactly one consumer (the
    // adist TakeOrdered), so the old codes materialize only re-wrote the
    // wide q column per entry
    val qall = materializeIfHeavy(quantized(emb), cb.length.toLong * subDim)
    val qv = qall.filter(col("vec_id") === qid).select("q").head.getSeq[Long](0).toArray
    // codes do NOT carry q: dragging the d-long array through the encode
    // projection and the shortlist heap measured ~3.5 s at d=2048 for
    // 2,000 rows (the wide-payload-through-operators penalty, r17
    // isolation probe) — the rerank re-joins the ≤shortlist ids to the
    // stored frame instead, the batch rerank convention
    val codes = encodeIntCols(qall.filter(col("vec_id") =!= qid), cb, numSub,
      subDim, carry = Seq("vec_id"), vecCol = "q")
    val td: Map[(Int, Long), Long] = cb.map { case (m, c, cw) =>
      var acc = 0L; var j = 0
      while (j < subDim) { val d = qv(m * subDim + j) - cw(j); acc += d * d; j += 1 }
      (m, c) -> acc
    }.toMap
    val adistExpr = (0 until numSub).map { m =>
      val tds = cb.filter(_._1 == m).sortBy(_._2).map { case (_, c, _) => s"${td((m, c))}L" }
      s"element_at(array(${tds.mkString(", ")}), CAST(code_$m AS INT) + 1)"
    }.mkString(" + ")
    val qLit = s"array(${qv.map(v => s"${v}L").mkString(", ")})"
    val short = codes.selectExpr("vec_id", s"CAST($adistExpr AS BIGINT) AS adist")
      .orderBy(col("adist").asc, col("vec_id").asc).limit(shortlist)
      .select("vec_id")
    qall.join(broadcast(short), "vec_id")
      .selectExpr("vec_id",
        graft.functions.sqDistLongSql("q", qLit) + " AS score")
      .orderBy(col("score").asc, col("vec_id").asc).limit(k)
  }

  /** A42: residual IVF-PQ search — the real FAISS IVFPQ encoding (Jégou et
    * al. 2011 §IV-A): vectors PQ-encode their RESIDUAL against the coarse
    * (cluster) centroid rather than the raw vector — the residual
    * distribution is far tighter than the raw one, so the same code budget
    * quantizes finer (A24 `knn_ivfpq` is the direct-encode baseline).
    * Integer-exact end to end; the one-query call of [[ivfpqResidualBatch]],
    * projected to (vec_id, score). */
  def ivfpqResidual(emb: DataFrame, qid: Int, k: Int, numSub: Int, subDim: Int,
                    numCodes: Int, nProbe: Int, shortlist: Int): DataFrame =
    residualSearch(emb, Seq(qid.toLong), k, numSub, subDim, numCodes, nProbe,
      shortlist, WideBatchCap, "ivfpqResidual").select("vec_id", "score")

  // ---- the residual-IVFPQ construction: integer coarse centroids, the
  // dense-seed residual codebook, and the residual-transformed member
  // encode — query-independent structure built once per serve.

  /** (vec_id, label, q): the quantized labeled corpus the residual serve
    * starts from. */
  private def quantizedLabeled(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label").cast("bigint").as("label"),
      graft.functions.vectors.quantize(col("embedding")).as("q"))

  private final case class ResidualModel(cent: Map[Long, Array[Long]],
                                         centDf: DataFrame,
                                         cb: Seq[(Int, Long, Array[Long])])

  /** Coarse centroids (integer floor-mean per label over the FULL corpus —
    * index-build state; query rows are part of the ingested index) + the
    * residual codebook: codes 0..K−1 = residuals of the K lowest-id vectors
    * against their OWN centroids (the seededCodebook convention,
    * residual-transformed). Driver state is k·d + K·M·d — the KMeans
    * model-state contract. */
  private def residualModel(qe: DataFrame, numSub: Int, subDim: Int,
                            numCodes: Int, who: String): ResidualModel = {
    val spark = qe.sparkSession
    import spark.implicits._
    val dims = numSub * subDim
    val cent: Map[Long, Array[Long]] = qe.groupBy("label")
      .agg(graft.functions.aggs.vecSumLong(col("q")).as("s"), count(lit(1)).as("cnt"))
      .selectExpr("label", graft.functions.floorMeanVecSql("s", "cnt") + " AS cent")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val seedRows = qe.filter(col("vec_id") < numCodes)
      .select("vec_id", "label", "q").collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val v = r.getSeq[Long](2).toArray
        val c = cent(r.getLong(1))
        (r.getLong(0), Array.tabulate(dims)(i => v(i) - c(i)))
      }
    require(seedRows.map(_._1).toSeq == (0L until numCodes.toLong),
      s"$who: seed ids not dense 0..${numCodes - 1} — " +
        "the ADC lookup indexes by code; re-densify vec_id first")
    val cb: Seq[(Int, Long, Array[Long])] =
      for { m <- 0 until numSub; (code, rv) <- seedRows.toSeq }
        yield (m, code, rv.slice(m * subDim, (m + 1) * subDim))
    val centDf = cent.toSeq.map { case (l, c) => (l, c.toSeq) }.toDF("label", "cent")
    ResidualModel(cent, centDf, cb)
  }

  /** Members of `labels`, residual-transformed and encoded: one broadcast
    * centroid join, one narrow zip_with, one NearestCentroidLong kernel
    * projection (encodeIntCols over the residual column — codegen'd, ties
    * to the lowest code, matching the oracle's min-join). */
  private def residualCodes(qe: DataFrame, model: ResidualModel,
                            labels: Seq[Long], numSub: Int, subDim: Int,
                            carry: Seq[String]): DataFrame = {
    val members = qe.filter(col("label").isin(labels: _*))
      .join(broadcast(model.centDf), "label")
      .selectExpr("vec_id", "label", "q", "zip_with(q, cent, (a, b) -> a - b) AS r")
    encodeIntCols(members, model.cb, numSub, subDim, carry = carry, vecCol = "r")
  }

  /** One (query, cluster) td table: tds(m)(code) = ||qr_sub − cw||², exact
    * integer arithmetic both engines replay. */
  private def residualAdc(qr: Array[Long], cb: Seq[(Int, Long, Array[Long])],
                          numSub: Int, subDim: Int): IndexedSeq[IndexedSeq[Long]] =
    (0 until numSub).map { m =>
      cb.filter(_._1 == m).sortBy(_._2).map { case (_, _, cw) =>
        var acc = 0L; var j = 0
        while (j < subDim) { val d = qr(m * subDim + j) - cw(j); acc += d * d; j += 1 }
        acc
      }.toIndexedSeq
    }.toIndexedSeq

  private def sqdFull(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** (m, code, cw): K seed codewords per subspace from the lowest-id vectors. */
  def seededCodebook(emb: DataFrame, numSub: Int, subDim: Int, numCodes: Int): DataFrame =
    emb.filter(col("vec_id") < numCodes)
      .selectExpr("vec_id AS code", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .selectExpr("code", s"explode(sequence(0, ${numSub - 1})) AS m", "v")
      .selectExpr("m", "code", s"slice(v, m * $subDim + 1, $subDim) AS cw")

  /** round(||v_sub − cw||² · 10⁴): explicit per-dim terms in fixed order so
    * both engines sum bit-identically. `vecExpr` is indexed through the
    * subspace offset (column `m`); `subExpr` is the codeword. */
  private def sqDistExpr(vecExpr: String, subExpr: String, subDim: Int,
                         offset: Boolean): String = {
    val terms = (1 to subDim).map { i =>
      val x = if (offset) s"element_at($vecExpr, m * $subDim + $i)"
              else s"element_at($vecExpr, $i)"
      val diff = s"($x - element_at($subExpr, $i))"
      s"$diff * $diff"
    }
    // floor, not round: floor on a double is a single allocation-free fp op
    // in both engines (Spark's round routes every value through BigDecimal —
    // measurably dominant when the expression runs 512× per row)
    s"CAST(floor((${terms.mkString(" + ")}) * 10000.0) AS BIGINT)"
  }

  /** (vec_id, m, code): nearest codeword per subspace — ties to the lowest
    * code via lexicographic struct-min, matching the oracle's min-join. */
  def encode(body: DataFrame, codebook: DataFrame, subDim: Int): DataFrame =
    body.crossJoin(broadcast(codebook))
      .selectExpr("vec_id", "m", "code", s"${sqDistExpr("v", "cw", subDim, offset = true)} AS d")
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .selectExpr("vec_id", "m", "best.code AS code")

  /** Scan-speed encode: the codebook is k·d MODEL STATE (like KMeans
    * centroids), so it rides along as a reference object inside the
    * codegen'd `PqNearestCode` kernel and every code is computed in ONE
    * narrow projection — no 512×corpus row explosion, no argmin shuffle
    * (the crossJoin+groupBy `encode` form materialized n·M·K intermediate
    * rows: 26 s vs ~2 s at 500k vectors). The kernel's loop is
    * bit-identical to `encode`'s SQL arithmetic — asserted by spec AND by
    * the driver oracle through every PQ serve. Returns wide codes
    * (vec_id, code_0 … code_{M-1}). */
  def encodeFast(body: DataFrame, cbRows: Array[(Int, Long, Array[Double])],
                 numSub: Int, subDim: Int,
                 carry: Seq[String] = Seq("vec_id")): DataFrame = {
    // `carry` columns ride through the kernel projection (r8 deferred
    // item b: the ivfpq batch paths carried `label` via an inline copy of
    // this loop — one kernel-projection construction site now)
    val cols = carry.map(col) ++ (0 until numSub).map { m =>
      val cw = cbRows.filter(_._1 == m).sortBy(_._2).map(_._3)
      pq.nearestCode(col("v"), cw, m, subDim).as(s"code_$m")
    }
    spreadHeavyKernel(body, cbRows.length * subDim).select(cols: _*)
  }

  /** Spread a heavy per-row kernel projection across the executors when
    * the input's scan parallelism is degenerate (r17 optimization, guide
    * §2.5 "one huge unsplittable file → repartition immediately after
    * the read"): the gate corpora are single-row-group parquet files, so
    * without this every wide encode runs as ONE task while the other
    * cores idle — Bench's layer split measured the d=2048 encode as a
    * 4.7 s single-task job. The shuffle moves the narrow input rows once
    * (cheap) and only fires when (a) the per-row kernel work is heavy
    * (`opsPerRow`, ≈ distance mults per row, above [[SpreadMinOpsPerRow]]),
    * (b) the frame is a batch frame (a streaming side must stay a
    * stateless narrow projection — its plan contract), and (c) the
    * input's planned parallelism is below the session default (at 100 TB
    * the scan is naturally parallel and this is a no-op). Row placement
    * never affects results: every consumer aggregates by key or through
    * order-insensitive k-heaps. */
  private[operators] val SpreadMinOpsPerRow = 16384L
  private[graft] def spreadHeavyKernel(body: DataFrame, opsPerRow: Long): DataFrame = {
    if (body.isStreaming || opsPerRow < SpreadMinOpsPerRow) return body
    // Plan-side parallelism probe (ADVICE r17, replaces
    // body.rdd.getNumPartitions): under AQE, Dataset.rdd FINALIZES the
    // adaptive plan — it eagerly executes every intermediate exchange
    // (broadcast builds, shuffle map stages) of the body's plan and then
    // discards them, so join-shaped bodies (the keep-pruned and
    // probe-joined encodes) paid their stages twice per construction.
    // sparkPlan is the planned pre-AQE physical tree: inspecting it runs
    // no job.
    val plan = body.queryExecution.sparkPlan
    // Only the STREAMED spine drives the body's output partitioning:
    // broadcast subtrees ship whole (their internal shuffles — e.g. a
    // distinct() under a broadcast hint — neither spread nor constrain
    // the probe side), so both walks skip them entirely.
    def streamedLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: exchange.BroadcastExchangeLike => Nil
      case l if l.children.isEmpty => Seq(l)
      case other => other.children.flatMap(streamedLeaves)
    }
    def streamedHasShuffle(p: SparkPlan): Boolean = p match {
      case _: exchange.BroadcastExchangeLike => false
      case _: exchange.ShuffleExchangeLike => true
      case other => other.children.exists(streamedHasShuffle)
    }
    val leaves = streamedLeaves(plan)
    // FileScanRDD / checkpoint-RDD / cached-buffer partition counts and
    // file sizes are driver-side metadata — reading them runs nothing. A
    // cache whose buffers are not built yet has no count to read (building
    // them would plan its query), so it counts as degenerate, like local rows.
    val leafParts = leaves.map {
      case f: FileSourceScanExec => f.inputRDDs().map(_.getNumPartitions).sum
      case r: RDDScanExec => r.rdd.getNumPartitions
      case m: InMemoryTableScanExec if m.relation.cacheBuilder.isCachedColumnBuffersLoaded =>
        m.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions
      case _ => 1
    }.sum.max(1)
    val spark = body.sparkSession
    val current =
      if (!streamedHasShuffle(plan)) leafParts
      else {
        // A streamed-side shuffle re-spreads the rows, but under AQE its
        // RUNTIME partition count is coalesced to ~outputBytes/advisory —
        // at gate scale that is 1 partition, and the old .rdd probe
        // (which executed the plan) saw exactly that and re-spread.
        // Estimate the coalesced count from the streamed leaf bytes (a
        // narrow projection's shuffle output is bounded by its input's
        // order of magnitude) instead of executing: tiny input → ~1,
        // 100 TB input → ≥ shuffle.partitions → no-op.
        val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
        val fileBytes = leaves.collect {
          case f: FileSourceScanExec => f.relation.location.sizeInBytes
        }.sum
        val shufflePartitions =
          spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
        if (fileBytes <= 0) leafParts // RDD-leaf spine: keep its placement
        else math.min(shufflePartitions.toLong,
          math.max(1L, fileBytes / math.max(1L, advisory))).toInt
      }
    val target = spark.sparkContext.defaultParallelism
    if (current >= target) body else body.repartition(target)
  }

  /** Materialize (spread) a derived vector frame BEFORE a heavy consumer
    * when the downstream per-row kernel work crosses
    * [[SpreadMinOpsPerRow]] — measured (r17 Bench layer split + isolation
    * probe): the d=2048 integer encode over the LINEAGE
    * quantize(widen(...)) frame ran ~6× slower than the identical encode
    * over the same rows read back from a checkpoint (5.1 s vs 0.9 s at
    * sf0.1), on top of being single-task on the one-row-group gate
    * corpus. Below the threshold the input is returned UNCHANGED — the
    * d=64 paths keep their lazy one-pass plans. */
  private def materializeIfHeavy(body: DataFrame, opsPerRow: Long): DataFrame =
    if (opsPerRow < SpreadMinOpsPerRow) body
    else Dedup.materialize(spreadHeavyKernel(body, opsPerRow))

  /** Full search for corpus query `qid`: ADC shortlist of `shortlist`
    * candidates over the codes, then exact L2 rerank of the shortlist to
    * top-`k`, as (vec_id, score) — the one-query call of
    * [[searchRerankBatch]].
    *
    * `keep` (optional, single `vec_id` column) restricts the search to a
    * metadata-qualified subset — the ACORN-hybrid composition over the
    * compressed index. Here the filter prunes before encoding; in
    * production the codes pre-exist and the same predicate prunes the
    * code scan (codes are co-partitioned with their metadata), so the
    * filtered query reads |keep|·8 bytes, not the corpus. */
  def searchRerank(emb: DataFrame, qid: Int, k: Int, numSub: Int, subDim: Int,
                   numCodes: Int, shortlist: Int,
                   keep: Option[DataFrame] = None): DataFrame =
    flatSearch(emb, seededCodebook(emb, numSub, subDim, numCodes), Seq(qid.toLong), k,
      numSub, subDim, shortlist, keep, WideBatchCap, "searchRerank").select("vec_id", "score")

  /** As `searchRerank` but over a caller-supplied codebook (m, code, cw) —
    * the seeded and KMeans-trained paths share everything downstream. */
  def searchRerankCb(emb: DataFrame, cb: DataFrame, qid: Int, k: Int,
                     numSub: Int, subDim: Int, shortlist: Int,
                     keep: Option[DataFrame] = None): DataFrame =
    flatSearch(emb, cb, Seq(qid.toLong), k, numSub, subDim, shortlist, keep,
      WideBatchCap, "searchRerankCb").select("vec_id", "score")

  /** One-time PQ index BUILD: encode the WHOLE corpus (production ingest
    * encodes everything; queries are excluded at serve time — encode is
    * per-row independent, so encode-all-then-exclude ≡ exclude-then-encode,
    * the same identity the batch paths pin) and persist the two artifacts
    * any PQ index stores: the wide code table (vec_id, code_0…code_{M-1} —
    * M bytes/row where the corpus stores d floats) and the (m, code, cw)
    * codebook. Parquet IS the index format: the code table stays a
    * distributed, partition-prunable relation (co-partitionable with its
    * metadata), and the k·d codebook is the only driver-held state a
    * serving session restores. */
  /** The persisted-PQ EXPORT CONTRACT version (r15 verdict next #5 — the
    * Hnsw.SchemaVersion convention for the compressed family). The two
    * parquet artifacts under `path` are the hand-off an external serving
    * engine (FAISS / Milvus — reference README:257 delegates online
    * serving there) consumes:
    *  - `codebook`: (m, code, cw, schema_version) — subspace index,
    *    codeword id, the subDim-double codeword, and the contract
    *    version replicated per row (HNSW-style; the table is k·M rows of
    *    model state, so the column is free).
    *  - `codes`: (vec_id, code_0 … code_{M-1}) — M bytes/row; NO version
    *    column by design (the table is the corpus-sized 8 B/row
    *    economics story), its vintage is carried by the codebook written
    *    atomically under the same path root, and appends validate
    *    against the restored codebook before writing.
    * Any change to either layout or the conventions above MUST bump this
    * constant (PqExportContractSpec fails on silent drift), and readers
    * refuse a mismatched vintage loudly instead of serving reinterpreted
    * rankings. */
  val SchemaVersion = 1

  def buildAndWriteIndex(emb: DataFrame, path: String, numSub: Int,
                         subDim: Int, numCodes: Int): Unit = {
    val cb = seededCodebook(emb, numSub, subDim, numCodes)
    val cbRows = codebookRows(cb)
    val body = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    encodeFast(body, cbRows, numSub, subDim)
      .write.mode("overwrite").parquet(s"$path/codes")
    cb.withColumn("schema_version", lit(SchemaVersion))
      .write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Restore + vintage-validate the persisted codebook: refuse a
    * mismatched on-disk layout loudly (the Hnsw restore convention) —
    * stored artifacts built at different (numSub, subDim) would otherwise
    * serve silently wrong rankings, or appends would write codes in a
    * foreign layout. Shared by [[searchPersisted]] and [[appendToIndex]].
    * Returns the collected (m, code, cw) rows. */
  def restoreCodebook(s: SparkSession, path: String, numSub: Int,
                      subDim: Int): Array[(Int, Long, Array[Double])] = {
    val cb = s.read.parquet(s"$path/codebook")
    // the export contract pins the exact column set — a codebook without
    // the version column predates the contract (or is foreign) and its
    // layout conventions cannot be trusted
    require(cb.columns.sameElements(Array("m", "code", "cw", "schema_version")),
      s"pq restore: codebook at $path has columns ${cb.columns.mkString(",")}, " +
        s"the schema_version-$SchemaVersion contract writes " +
        "m,code,cw,schema_version — rebuild the index with buildAndWriteIndex")
    val all = cb.collect()
    all.find(_.getInt(3) != SchemaVersion).foreach { r =>
      throw new IllegalArgumentException(
        s"pq persisted index at $path has schema_version ${r.getInt(3)}, " +
          s"this engine reads $SchemaVersion — rebuild the index or use a " +
          "matching engine version")
    }
    val cbRows = all.map(codewordRow)
    val storedSubs = cbRows.map(_._1).distinct.sorted
    require(storedSubs.sameElements(0 until numSub),
      s"pq restore: codebook at $path holds subspaces ${storedSubs.mkString(",")}, " +
        s"caller expects 0..${numSub - 1} — the index was built at a different numSub")
    cbRows.find(_._3.length != subDim).foreach { case (m, c, cw) =>
      throw new IllegalArgumentException(
        s"pq restore: codeword (m=$m, code=$c) at $path has ${cw.length} dims, " +
          s"caller expects subDim=$subDim — the index was built at a different layout")
    }
    cbRows
  }

  /** Incremental ADD to the persisted PQ index (A21f; the reference's
    * `add_items` maintenance path, reference acorn.py:61, applied to the
    * compressed family — completes the lifecycle symmetry: IVF has
    * `assignAppended`, HNSW has `searchAppended`, this is PQ's). Arriving
    * vectors encode with the STORED codebook — NEVER retrained: a
    * retrain would silently re-key every existing 8-byte code, so codeword
    * drift is handled by periodic full rebuild instead (the A30
    * convention) — and land as new parquet files appended to the code
    * table. Encode is per-row independent, so append-then-serve is
    * bit-identical to a full rebuild over base ∪ arriving at the same
    * codebook (spec-pinned). At 100 TB the append touches ONLY the
    * arriving rows (one narrow codegen'd projection, M bytes/row out);
    * the existing corpus-sized code table is never rewritten. */
  def appendToIndex(s: SparkSession, path: String, arriving: DataFrame,
                    numSub: Int, subDim: Int): Unit = {
    val cbRows = restoreCodebook(s, path, numSub, subDim)
    // Refuse ids already indexed (r11 ADVICE): a duplicate vec_id would
    // write a second code row and searchPersisted's shortlist heap would
    // double-serve that id, silently breaking the append ≡ rebuild pin.
    // Validation cost = one semi-join of the arriving ids against the
    // code table's vec_id column (8 B/row, column-pruned scan), paid once
    // per append action — never at serve time.
    val dups = s.read.parquet(s"$path/codes").select("vec_id")
      .join(arriving.select("vec_id"), "vec_id").limit(5)
      .collect().map(_.getLong(0))
    require(dups.isEmpty,
      s"pq append: vec_id(s) ${dups.mkString(", ")} already present in the " +
        s"code table at $path — appending them would double-serve those ids " +
        "from the shortlist heap; deduplicate the arriving batch or rebuild")
    // Duplicates WITHIN the arriving batch pass the semi-join above yet
    // still write two code rows for one vec_id (r12 ADVICE) — same
    // double-serve, different origin. One narrow groupBy over the
    // arriving ids (append-action cost, never serve-time).
    val selfDups = arriving.groupBy("vec_id").count()
      .filter(col("count") > 1).limit(5).collect().map(_.getLong(0))
    require(selfDups.isEmpty,
      s"pq append: vec_id(s) ${selfDups.mkString(", ")} appear more than " +
        "once within the arriving batch itself — each duplicate would write " +
        "a second code row and double-serve from the shortlist heap; " +
        "deduplicate the batch before appending")
    val body = arriving.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    encodeFast(body, cbRows, numSub, subDim)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Serve a query from the PERSISTED index: restore the codebook (k·d
    * model state), scan the stored code table — never re-encoding, never
    * touching raw embeddings except the ≤`shortlist`-row rerank page-in.
    * The A35c lifecycle (build once / serve many) for the compressed
    * family: at 100 TB the serve cost is one 8-byte-per-row scan of a
    * parquet relation plus a broadcast rerank. The flat pass of
    * [[searchRerankBatch]] over the stored codes, projected to
    * (vec_id, score); results are identical to `searchRerank` at the same
    * constants (spec-pinned). An absent `qid` is refused: it would empty
    * the answer and its oracle alike. */
  def searchPersisted(s: SparkSession, path: String, emb: DataFrame,
                      qid: Long, k: Int, numSub: Int, subDim: Int,
                      shortlist: Int): DataFrame = {
    val cbRows = restoreCodebook(s, path, numSub, subDim)
    val codes = s.read.parquet(s"$path/codes")
    val expectCols = "vec_id" +: (0 until numSub).map(m => s"code_$m")
    require(codes.columns.sameElements(expectCols),
      s"pq restore: code table at $path has columns ${codes.columns.mkString(",")}, " +
        s"expected ${expectCols.mkString(",")}")
    val qs = indexedQueries(emb, Seq(qid), "searchPersisted")
    pqPasses(emb, qs, cbRows, codes, k, numSub, subDim, shortlist, WideBatchCap,
      excludeSelf = true).select("vec_id", "score")
  }

  /** Group [[cbRows]] by subspace and validate the positional-lookup
    * layout — the typedlit lookups index codewords POSITIONALLY, so a
    * codebook with code-id gaps would throw a bare
    * NoSuchElementException at plan-build time (r10 ADVICE); validate up
    * front with a message naming the expectation. Shared by
    * [[adcDistCol]] and [[adcTableCol]]. */
  private def densifiedByM(cbRows: Array[(Int, Long, Array[Double])],
                           numSub: Int, who: String): Map[Int, Map[Long, Array[Double]]] = {
    val byM: Map[Int, Map[Long, Array[Double]]] =
      cbRows.groupBy(_._1).view
        .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    require((0 until numSub).forall(byM.contains),
      s"$who: codebook holds subspaces ${byM.keys.toSeq.sorted.mkString(",")}, " +
        s"caller expects 0..${numSub - 1}")
    (0 until numSub).foreach { m =>
      val ks = byM(m).keySet
      require(ks == (0L until ks.size.toLong).toSet,
        s"$who: subspace $m codes ${ks.toSeq.sorted.mkString(",")} are not " +
          "contiguous 0..K-1 — the literal lookup indexes by code position; " +
          "re-densify the codebook's code ids first")
    }
    byM
  }

  /** Per-row ADC distance computed ONLINE from a literal codebook — the
    * streaming-serve form of [[sqDistExpr]]: no precomputed ADC table at
    * all, because a STREAMING query row cannot wait for a driver-side
    * table build. Each subspace m looks its codeword up in a
    * `typedlit`-embedded K×subDim literal (exact doubles — never
    * stringified SQL literals, whose decimal parse would break the
    * engine-proof arithmetic), then floors the scaled squared distance
    * per m and sums — term order identical to [[sqDistExpr]] +
    * [[wideAdistExpr]], so the oracle's sums CTE replays it exactly.
    * Expects the query vector in `qvCol` (ARRAY<DOUBLE>) and the row
    * codes in code_0 … code_{M-1}. No serve calls it: the streaming
    * serves use [[adcTableCol]]. It stays, package-private, as the
    * reference that [[adcTableCol]] and StreamingQueriesSpec's batch
    * replica are checked against. */
  private[graft] def adcDistCol(cbRows: Array[(Int, Long, Array[Double])],
                                numSub: Int, subDim: Int,
                                qvCol: String = "qv"): Column = {
    val byM = densifiedByM(cbRows, numSub, "adcDistCol")
    (0 until numSub).map { m =>
      val codes = byM(m)
      val cwm = typedlit(
        (0L until codes.size.toLong).map(c => codes(c).toSeq))
      val sub = element_at(cwm, col(s"code_$m").cast("int") + 1)
      val sq = (1 to subDim).map { i =>
        val d = element_at(col(qvCol), m * subDim + i) -
          element_at(sub, i)
        d * d
      }.reduce(_ + _)
      floor(sq * 10000.0).cast("long")
    }.reduce(_ + _)
  }

  /** One arriving query's WHOLE ADC table as a projection column — the
    * streaming counterpart of the batch serves' driver-side [[adcTds]],
    * for widths where [[adcDistCol]]'s inlined M·subDim-term tree would
    * dwarf the plan (16×128 = 2048 terms per candidate ROW at d=2048):
    * `tds[m+1][code+1] = floor(Σᵢ (qv[m·subDim+i] − cw[i])² · 10⁴)`,
    * computed via nested HOFs over the typedlit codebook (model state
    * rides as a literal, the [[adcDistCol]] convention). A serving
    * stream derives each query's table INLINE in the micro-batch
    * projection — no second streaming aggregation, no per-query driver
    * work — and the candidate scan then pays only [[wideAdistExpr]]'s M
    * lookups per row instead of M·subDim FLOPs: the ADC economics that
    * make PQ serving cheap at 100 TB. Accumulation is an ascending left
    * fold in DOUBLE seeded at 0.0 (+0.0 + x ≡ x in IEEE, so the sum
    * order is exactly [[sqDistExpr]]'s left-assoc chain) — the oracle's
    * list_reduce fold replays it bit-for-bit. */
  def adcTableCol(cbRows: Array[(Int, Long, Array[Double])], numSub: Int,
                  subDim: Int, qvCol: String = "qv"): Column = {
    val byM = densifiedByM(cbRows, numSub, "adcTableCol")
    val cbLit = typedlit((0 until numSub).map(m =>
      (0L until byM(m).size.toLong).map(c => byM(m)(c).toSeq)))
    transform(sequence(lit(0), lit(numSub - 1)), m =>
      transform(element_at(cbLit, m + 1), cw =>
        floor(aggregate(
          sequence(lit(1), lit(subDim)), lit(0.0),
          (acc: Column, i: Column) => {
            val d = element_at(col(qvCol), m * lit(subDim) + i) -
              element_at(cw, i)
            acc + d * d
          }) * 10000.0).cast("long")))
  }

  /** The [[wideAdistExpr]] candidate-scan sum as a public SQL fragment —
    * M nested-array lookups against a joined or projected `tds` column
    * (the streaming wide serve shares the batch scan's arithmetic). */
  def wideAdistSql(numSub: Int): String = wideAdistExpr(numSub)

  // ---- batched serving: one sharded joined-ADC path per algorithm ----
  //
  // The reference serves one query at a time, and an evaluation file through
  // the same ADC shortlist-and-rerank; here a single query is a one-query
  // file. Each batch entry point below
  //  1. runs the whole-file guard ([[requireQueryFile]]: cap range, empty,
  //     duplicates across the file) and refuses ids absent from the corpus;
  //  2. builds its pass-invariant state once: the codebook or residual
  //     model, the query vectors in ONE driver action (every ADC table is
  //     then driver arithmetic over model state), and the one code table —
  //     encode is query-independent, so one encode serves every pass;
  //  3. runs ⌈|Q|/cap⌉ shortlist passes and unions them. A pass joins the
  //     code scan to a driver-local (q_id[, label], tds) relation of its
  //     ≤ cap queries, broadcast — plan size O(1) in |Q| — cuts per-query
  //     shortlists with map-side k-heaps (TopKHits: ≤ |Q|·shortlist rows
  //     per partition cross the only shuffle) and reranks them exactly.
  // Every q_id lands in exactly one pass and per-query funnels are
  // independent, so any cap yields the same rows and each query's rows are
  // the ones it gets alone (both spec-pinned). Output: (q_id, vec_id, rank,
  // score), the A12 batch convention.

  /** Queries per pass: the broadcast ADC relation carries |Q|·M·K BIGINT
    * entries (~|Q|·4 KB at M=8, K=64) and the rerank broadcasts
    * |Q|·shortlist candidate ids — ~16 MB + model state at the cap. A
    * larger query file runs ⌈|Q|/cap⌉ passes, each one code scan. */
  val WideBatchCap = 4096

  /** The batch family's whole-file guard, run before any Spark work where
    * the ids are known up front. A duplicate split across passes would
    * pass a per-pass check yet double-answer in the union, so duplicates
    * are checked over the whole file. */
  private[operators] def requireQueryFile(qids: Seq[Long], cap: Int, who: String): Unit = {
    require(cap >= 1 && cap <= WideBatchCap,
      s"$who: cap=$cap must be in [1, $WideBatchCap] — the broadcast ADC " +
        "relation and the rerank candidate set grow with the queries per " +
        s"pass; shard the query file at most $WideBatchCap per pass")
    require(qids.nonEmpty, s"$who: empty query file")
    val dups = qids.diff(qids.distinct).distinct
    require(dups.isEmpty,
      s"$who: duplicate query ids: ${dups.mkString(", ")} — a duplicated " +
        "query would double-join every code row; dedupe the query file")
  }

  /** ⌈|items|/cap⌉ passes of ≤ cap items each, unioned in input order. */
  private def passes[A](items: Seq[A], cap: Int)(pass: Seq[A] => DataFrame): DataFrame =
    items.grouped(cap).map(pass).reduce(_.union(_))

  /** [[requireQueryFile]], then [[passes]]: the cap-and-union skeleton for
    * a caller with its own per-pass serve (`Cascade.searchBatchSharded`). */
  private[operators] def shardedWide(qids: Seq[Long], cap: Int, who: String)
                                    (pass: Seq[Long] => DataFrame): DataFrame = {
    requireQueryFile(qids, cap, who)
    passes(qids, cap)(pass)
  }

  /** The (m, code, cw) rows of a codebook frame, collected. */
  private def codebookRows(cb: DataFrame): Array[(Int, Long, Array[Double])] =
    cb.collect().map(codewordRow)

  private def codewordRow(r: org.apache.spark.sql.Row): (Int, Long, Array[Double]) =
    (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray)

  /** (q_id, q_vec) rows of a query frame, collected: one per frame row,
    * repeats included (the guards read them). */
  private def collectQueries(qs: DataFrame): Seq[(Long, Array[Float])] =
    qs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  /** The vectors of a query file of corpus ids, in file order, collected in
    * one action; ids absent from the corpus are refused (a missing query
    * would silently vanish from the answer set). */
  private def indexedQueries(emb: DataFrame, qids: Seq[Long],
                             who: String): Seq[(Long, Array[Float])] = {
    val vecs = collectQueries(emb.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding")).toMap
    requirePresent(qids, vecs.contains, who)
    qids.map(q => q -> vecs(q))
  }

  private def requirePresent(qids: Seq[Long], present: Long => Boolean, who: String): Unit = {
    val missing = qids.filterNot(present)
    require(missing.isEmpty,
      s"$who: query ids absent from the corpus: ${missing.mkString(", ")}")
  }

  /** Driver-local (q_id, q_vec ARRAY<FLOAT>) rows for the rerank join. */
  private def queryFrame(s: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame =
    s.createDataFrame(qs.map { case (q, v) => (q, v.toSeq) }).toDF("q_id", "q_vec")

  /** One query's ADC table, tds(m)(code) = floor(Σᵢ (q[m·subDim+i] − cw[i])²
    * · 10⁴) in code order: [[sqDistExpr]]'s IEEE double arithmetic in the
    * same term order (a left fold from +0.0 adds nothing), so the values
    * equal the oracle's SQL-computed tables bit for bit. */
  private def adcTds(q: Array[Float], cbRows: Array[(Int, Long, Array[Double])],
                     numSub: Int, subDim: Int): Seq[Seq[Long]] =
    (0 until numSub).map { m =>
      cbRows.filter(_._1 == m).sortBy(_._2).map { case (_, _, cw) =>
        var acc = 0.0; var i = 0
        while (i < subDim) { val d = q(m * subDim + i).toDouble - cw(i); acc += d * d; i += 1 }
        math.floor(acc * 10000.0).toLong
      }.toSeq
    }

  /** Sum of M nested-array lookups over the joined `tds` column — constant
    * plan size regardless of |Q|. */
  private def wideAdistExpr(numSub: Int): String =
    (0 until numSub).map(m =>
      s"element_at(element_at(tds, ${m + 1}), CAST(code_$m AS INT) + 1)")
      .mkString(" + ")

  /** The ADC shortlist of one pass: the code scan joins the broadcast ADC
    * relation — on `label` when it has one (the label key is both the
    * probe membership and the lookup: a row joins only the queries that
    * probed its cluster), else as a map-side cross join — and each
    * query's shortlist comes out of the partial k-heap aggregate. */
  private def adcShortlist(codes: DataFrame, adc: DataFrame, numSub: Int,
                           shortlist: Int, excludeSelf: Boolean): DataFrame = {
    val joined =
      if (adc.columns.contains("label")) codes.join(broadcast(adc), "label")
      else codes.crossJoin(broadcast(adc))
    val body = if (excludeSelf) joined.filter(col("vec_id") =!= col("q_id")) else joined
    topKPerQuery(body.selectExpr("q_id", "vec_id",
      s"CAST(${wideAdistExpr(numSub)} AS BIGINT) AS score"), shortlist)
      .select("q_id", "vec_id")
  }

  /** Per-query top-k of (q_id, vec_id, score) rows, ascending with ties to
    * the lower id, via the k-heap aggregate: (q_id, vec_id, rank, score). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(graft.functions.aggs.topK(col("score"), col("vec_id"), k, asc = true).as("hits"))
      .select(col("q_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("q_id"), col("hit.id").as("vec_id"),
        (col("pos") + 1).cast("long").as("rank"), col("hit.score").as("score"))

  /** Exact rerank of a (q_id, vec_id) shortlist against the (q_id, q_vec)
    * query vectors: broadcast joins to full vectors + the per-query k-heap. */
  private def rerank(emb: DataFrame, short: DataFrame, qfull: DataFrame,
                     k: Int): DataFrame =
    topKPerQuery(emb.select("vec_id", "embedding")
      .join(broadcast(short), "vec_id")
      .join(broadcast(qfull), "q_id")
      .select(col("q_id"), col("vec_id"),
        scaled(vectors.l2(col("embedding"), col("q_vec")), Knn.ScoreDigits).as("score")), k)

  /** The flat-PQ passes shared by the indexed and external forms. */
  private def pqPasses(emb: DataFrame, qs: Seq[(Long, Array[Float])],
                       cbRows: Array[(Int, Long, Array[Double])], codes: DataFrame,
                       k: Int, numSub: Int, subDim: Int, shortlist: Int, cap: Int,
                       excludeSelf: Boolean): DataFrame = {
    val s = emb.sparkSession
    passes(qs, cap) { chunk =>
      val adc = s.createDataFrame(chunk.map { case (q, v) =>
        (q, adcTds(v, cbRows, numSub, subDim)) }).toDF("q_id", "tds")
      rerank(emb, adcShortlist(codes, adc, numSub, shortlist, excludeSelf),
        queryFrame(s, chunk), k)
    }
  }

  /** (vec_id, v DOUBLE[]) of the corpus, restricted to `keep` when given. */
  private def candidates(emb: DataFrame, keep: Option[DataFrame]): DataFrame = {
    val cast = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    keep.fold(cast)(ids => cast.join(ids, "vec_id"))
  }

  /** Batched PQ search over a query file of corpus ids; each query is
    * excluded from its own answer. Encoding runs once over the whole
    * corpus, query rows included (each is corpus for the other queries):
    * encode is per-row independent, so encode-all-then-exclude ≡
    * exclude-then-encode, and each query's rows are its [[searchRerank]]
    * answer.
    *
    * `keep` (optional, single `vec_id` column) restricts candidates to a
    * metadata-qualified subset — the ACORN-hybrid composition over the
    * compressed index, batched. The filter is query-independent, so the
    * keep-pruned encode still runs once; queries come from the full
    * corpus (the filter qualifies candidates, never who may ask). */
  def searchRerankBatch(emb: DataFrame, qids: Seq[Long], k: Int, numSub: Int,
                        subDim: Int, numCodes: Int, shortlist: Int,
                        keep: Option[DataFrame] = None,
                        cap: Int = WideBatchCap): DataFrame =
    flatSearch(emb, seededCodebook(emb, numSub, subDim, numCodes), qids, k, numSub,
      subDim, shortlist, keep, cap, "searchRerankBatch")

  /** The flat serve of corpus query ids over codebook `cb`. By name: the
    * whole-file guard runs before the codebook frame is even analysed, so
    * a bad query file refuses whatever the corpus frame is. */
  private def flatSearch(emb: DataFrame, cb: => DataFrame, qids: Seq[Long], k: Int,
                         numSub: Int, subDim: Int, shortlist: Int,
                         keep: Option[DataFrame], cap: Int, who: String): DataFrame = {
    requireQueryFile(qids, cap, who)
    val cbRows = codebookRows(cb)
    // queries before the encode: a bad query file refuses before the
    // corpus pays anything
    val qs = indexedQueries(emb, qids, who)
    pqPasses(emb, qs, cbRows, flatCodes(emb, keep, cbRows, numSub, subDim), k, numSub,
      subDim, shortlist, cap, excludeSelf = true)
  }

  /** The materialized wide codes of the (`keep`-restricted) corpus. The
    * encode and the ADC lookup must compile as TWO small codegen steps: a
    * fused expression (argmin inlined into the lookup) is too deep for
    * janino, whole-stage codegen fails uncached and every task re-pays a
    * failed compile plus an interpreted tree-walk (15-19 s per query at
    * sf0.1 vs ~0.5 s split). localCheckpoint is the optimizer-opaque
    * barrier — under anything weaker Catalyst collapses the projections
    * back into one. The stored relation is the ~(M·8 B + id) per row any
    * PQ index stores anyway. */
  private def flatCodes(emb: DataFrame, keep: Option[DataFrame],
                        cbRows: Array[(Int, Long, Array[Double])],
                        numSub: Int, subDim: Int): DataFrame =
    Dedup.materialize(encodeFast(candidates(emb, keep), cbRows, numSub, subDim))

  /** Batched PQ search over EXTERNAL queries: a (q_id, q_vec ARRAY<FLOAT>)
    * frame whose vectors are not corpus rows — the reference's demo shape,
    * where `query.jpg` is embedded at serve time (acorn.py __main__). No
    * self-exclusion applies and the rerank joins the frame's vectors.
    * The whole-file guard runs on the collected frame rows, before the
    * corpus encode; passes are cut in ascending q_id order. */
  def searchRerankBatchExternal(emb: DataFrame, queries: DataFrame, k: Int,
                                numSub: Int, subDim: Int, numCodes: Int,
                                shortlist: Int, keep: Option[DataFrame] = None,
                                cap: Int = WideBatchCap): DataFrame = {
    val who = "searchRerankBatchExternal"
    val qs = collectQueries(
      queries.selectExpr("q_id", "CAST(q_vec AS ARRAY<FLOAT>) AS q_vec"))
    requireQueryFile(qs.map(_._1), cap, who)
    val cbRows = codebookRows(seededCodebook(emb, numSub, subDim, numCodes))
    pqPasses(emb, qs.sortBy(_._1), cbRows, flatCodes(emb, keep, cbRows, numSub, subDim), k,
      numSub, subDim, shortlist, cap, excludeSelf = false)
  }

  /** Batched IVF×PQ (A24's batch form): per-query coarse probes (the
    * [[Ivf.probe]] order, via [[Ivf.probeBatch]]) prune the one encode to
    * the probed clusters' union, and membership resolves per (q_id, label)
    * inside the ADC join. At 100 TB the scan reads (distinct probed
    * clusters)/C of an already-compressed corpus — the batch shares
    * clusters probed by several queries. The ≤ |Q|·nProbe probe pairs are
    * collected once: they key the ADC relation and name the union. */
  def ivfpqBatch(emb: DataFrame, qids: Seq[Long], k: Int, numSub: Int,
                 subDim: Int, numCodes: Int, nProbe: Int, shortlist: Int,
                 cap: Int = WideBatchCap): DataFrame = {
    val who = "ivfpqBatch"
    requireQueryFile(qids, cap, who)
    val s = emb.sparkSession
    val cbRows = codebookRows(seededCodebook(emb, numSub, subDim, numCodes))
    val qs = indexedQueries(emb, qids, who)
    val tds = qs.map { case (q, v) => q -> adcTds(v, cbRows, numSub, subDim) }.toMap
    val probes = Ivf.probeBatch(Ivf.centroids(emb), queryFrame(s, qs), nProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val body = emb.filter(col("label").isin(probes.map(_._2).distinct: _*))
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val codes = Dedup.materialize(
      encodeFast(body, cbRows, numSub, subDim, carry = Seq("vec_id", "label")))
    passes(qs, cap) { chunk =>
      val inChunk = chunk.map(_._1).toSet
      val adc = s.createDataFrame(probes.collect {
        case (q, l) if inChunk(q) => (q, l, tds(q)) }).toDF("q_id", "label", "tds")
      rerank(emb, adcShortlist(codes, adc, numSub, shortlist, excludeSelf = true),
        queryFrame(s, chunk), k)
    }
  }

  /** Batched residual IVF-PQ (A42's batch form). The residual structure
    * is query-independent — seeds, codebook and codes all encode against
    * each row's OWN cluster centroid — so one encode of the probed-cluster
    * union serves every query; only the per-(query, probed cluster) ADC
    * tables differ. Probes and tables are exact integer driver work on
    * the collected query vectors and the model state, so the path stays
    * integer-exact end to end. */
  def ivfpqResidualBatch(emb: DataFrame, qids: Seq[Long], k: Int, numSub: Int,
                         subDim: Int, numCodes: Int, nProbe: Int,
                         shortlist: Int, cap: Int = WideBatchCap): DataFrame =
    residualSearch(emb, qids, k, numSub, subDim, numCodes, nProbe, shortlist, cap,
      "ivfpqResidualBatch")

  /** [[ivfpqResidualBatch]]'s body; `who` names the public caller in
    * its refusals. */
  private def residualSearch(emb: DataFrame, qids: Seq[Long], k: Int, numSub: Int,
                             subDim: Int, numCodes: Int, nProbe: Int, shortlist: Int,
                             cap: Int, who: String): DataFrame = {
    requireQueryFile(qids, cap, who)
    val s = emb.sparkSession
    // store the quantized labeled frame once when wide (it feeds the
    // model aggregates, the query collect, the residual encode, and the
    // rerank — the lineage-vs-stored penalty, see materializeIfHeavy)
    val qe = materializeIfHeavy(quantizedLabeled(emb),
      numSub.toLong * numCodes * subDim)
    val model = residualModel(qe, numSub, subDim, numCodes, who)
    val qvs: Map[Long, Array[Long]] = qe.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    requirePresent(qids, qvs.contains, who)
    // per query: the nProbe nearest integer centroids (ties to the lower
    // label), and per probed cluster td(m, code) = ||(q − cent)_sub − cw||²
    val adcRows: Seq[(Long, Long, Seq[Seq[Long]])] = for {
      q <- qids
      l <- model.cent.toSeq.map { case (l, c) => (l, sqdFull(c, qvs(q))) }
        .sortBy { case (l, d) => (d, l) }.take(nProbe).map(_._1)
    } yield {
      val qr = Array.tabulate(qvs(q).length)(i => qvs(q)(i) - model.cent(l)(i))
      (q, l, residualAdc(qr, model.cb, numSub, subDim))
    }
    val codes = Dedup.materialize(residualCodes(qe, model, adcRows.map(_._2).distinct,
      numSub, subDim, carry = Seq("vec_id", "label")))
    passes(qids, cap) { chunk =>
      val inChunk = chunk.toSet
      val adc = s.createDataFrame(adcRows.filter(r => inChunk(r._1)))
        .toDF("q_id", "label", "tds")
      val short = adcShortlist(codes, adc, numSub, shortlist, excludeSelf = true)
      // exact integer rerank in quantized space (the single-query convention)
      val qq = s.createDataFrame(chunk.map(q => (q, qvs(q).toSeq))).toDF("q_id", "qq")
      topKPerQuery(qe.select("vec_id", "q")
        .join(broadcast(short), "vec_id")
        .join(broadcast(qq), "q_id")
        .selectExpr("q_id", "vec_id",
          graft.functions.sqDistLongSql("q", "qq") + " AS score"), k)
    }
  }
}
