package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables
import graft.operators.{Dedup, Hll, Hnsw, Ivf, Pq}
import graft.streaming.{CurationStream, DedupStream, EnrichStream, EventsStream, JoinStream, SketchStream}

/** §2.C7/C8/C17/C25/C31/C35 — the streaming surface: each entry runs a Structured
  * Streaming query to completion and returns its sink as a batch frame. */
object StreamingQueries {

  /** File streams need a directory. */
  private val staged = new ConcurrentHashMap[String, String]()
  private def stagedDir(dir: String, name: String): String =
    staged.computeIfAbsent(s"$dir/$name", _ => {
      val d = Files.createTempDirectory(s"graft_stream_$name").toString
      Files.copy(Paths.get(s"$dir/$name.parquet"), Paths.get(d, s"$name.parquet"))
      d
    })

  // ceiling on the probe-as-projection coarse quantizer
  private[queries] val ProbeProjectionCap = 1024

  /** The static side of the PQ/IVF×PQ serving streams at width `w`: the seeded codebook,
    * the encoded code table (with its `label` when `probed`) and, when `probed`, one
    * literal cosine struct per centroid for the per-row probe projection. The wide code
    * table materializes before the stream starts (the in-stream d=2048 encode measured
    * ~1.4 s of per-task interpreter time); the d=64 encode is cheaper in-stream. */
  private def serveStatics(w: Width, s: SparkSession, dir: String, probed: Boolean)
      : (Array[(Int, Long, Array[Double])], DataFrame, Seq[Column]) = {
    val emb = if (probed) w.labeled(s, dir) else w.frame(s, dir)
    val cbRows = Pq.seededCodebook(emb, numSub = w.numSub, subDim = w.subDim,
      numCodes = 64).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val codes0 = Pq.encodeFast(
      emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v"),
      cbRows, numSub = w.numSub, subDim = w.subDim)
    val codes1 =
      if (probed) codes0.join(emb.selectExpr("vec_id", "CAST(label AS BIGINT) AS label"), "vec_id")
      else codes0
    val codes = if (w.wide) Dedup.materialize(codes1) else codes1
    if (!probed) return (cbRows, codes, Nil)
    val cents = Ivf.centroids(emb).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty,
      "streaming ivfpq serve: empty centroid table — the per-row probe " +
        "projection needs at least one cluster; ingest the corpus first")
    // the probe rides as ONE literal cosine struct per centroid inside the per-row projection
    require(cents.length <= ProbeProjectionCap,
      s"streaming ivfpq serve: ${cents.length} centroids exceed the " +
        s"probe-as-projection cap $ProbeProjectionCap — each cluster adds " +
        "a literal cosine struct to the per-row projection (plan size is " +
        "O(C)); re-cluster to fewer coarse cells or serve via the batch " +
        "IVF×PQ path")
    val probeStructs = cents.map { case (l, c) =>
      struct(
        (-graft.functions.scaled(
          graft.functions.vectors.cosine(typedlit(c), col("qe")),
          graft.operators.Knn.ScoreDigits)).as("n"),
        lit(l).as("label"))
    }.toSeq
    (cbRows, codes, probeStructs)
  }

  /** The serve streams' query file (the first 8 corpus rows) at width `w` as (q_id, qe);
    * `external` maps each component through `derive` (one float round) into non-indexed
    * vectors with ids vec_id + 1000. */
  private def serveQueries(w: Width, s: SparkSession, dir: String, external: Boolean,
                           derive: String): DataFrame = {
    val rows = readStreamTable(s, dir, "embeddings").filter(col("vec_id") < 8)
    if (!external) rows.select(col("vec_id").as("q_id"), w.widen(col("embedding")).as("qe"))
    else rows.select((col("vec_id") + 1000).as("q_id"), w.widen(col("embedding")).as("we"))
      .selectExpr("q_id",
        s"CAST(transform(CAST(we AS ARRAY<DOUBLE>), x -> CAST($derive AS FLOAT)) AS ARRAY<FLOAT>) AS qe")
  }

  /** C66/C66b–h: PQ (and, when `probed`, IVF×PQ) query serving as a stream. Arriving
    * queries derive their whole ADC table in the micro-batch projection, fan out over the
    * broadcast code table, and one complete-mode k-heap per q_id keeps O(|Q|·k) state.
    * Stage-1 (ADC-ranked) only: the exact rerank would be a second streaming aggregation.
    * The queries are keyed by q_id before the fan-out so the heap's exchange sits below
    * the scoring projection instead of being added after it. */
  private def pqServeStream(w: Width, s: SparkSession, dir: String, name: String,
                            sink: String, external: Boolean, probed: Boolean): DataFrame = {
    requireStreamQueriesPresent(s, dir, name)
    val (cbRows, codes, probeStructs) = serveStatics(w, s, dir, probed)
    val qs0 = serveQueries(w, s, dir, external, "x * 1.5D")
      .withColumn("qv", col("qe").cast("array<double>"))
    val qStream = (if (probed) qs0.withColumn("parr", array(probeStructs: _*))
        .withColumn("probes", expr("transform(slice(array_sort(parr), 1, 2), x -> x.label)"))
        else qs0)
      .withColumn("tds", Pq.adcTableCol(cbRows, w.numSub, w.subDim))
      .drop("parr", "qe", "qv")
      .withColumn("one", lit(1))
      .repartition(col("q_id"))
    val keep = Seq(
      Some(col("vec_id") =!= col("q_id")).filter(_ => !external),
      Some(array_contains(col("probes"), col("label"))).filter(_ => probed)).flatten
    val joined = qStream.join(broadcast(codes.withColumn("one", lit(1))), "one")
    val scored = keep.reduceOption(_ && _).fold(joined)(joined.filter)
      .drop("one")
      .withColumn("adist", expr(Pq.wideAdistSql(w.numSub)).cast("long"))
    runToTable(s,
      scored.groupBy("q_id")
        .agg(graft.functions.aggs.topK(col("adist"), col("vec_id"), 10,
          asc = true).as("hits")),
      sink, "complete")
      .select(col("q_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as("vec_id"), col("hit.score").as("adist"))
  }

  /** Streaming read of a testdata table with the batch loader's schema and TIMESTAMP(NANOS). */
  private def readStreamTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val src = stagedDir(dir, name)
    val schema = s.read.parquet(src).schema
    Tables.convertNanoCols(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1000000").parquet(src),
      schema)
  }

  /** Shuffle partitions of a streaming aggregation's state stores. */
  private val StreamShufflePartitions = "8"
  /** Stream-STREAM joins maintain FOUR state stores per partition (each
    * side × keyToNumValues/keyWithIndexToValue) — 4× the per-partition
    * state machinery of a single-store aggregation — so their overhead
    * floor sits lower: r18 A/B at sf0.1 measured 4 parts at 2.5/2.6 s vs
    * 8 parts at 2.9/3.1 s for the inner/outer join entries. Both counts
    * are tuned at the gate scales; larger state (at 100 TB, the join-key
    * cardinality) needs more. */
  private val StreamJoinShufflePartitions = "4"
  // per-process temp root
  private def wiped(sub: String): String = graft.TmpDirs.wiped(sub)
  /** Large-state option: the default HDFSBacked provider keeps every state store ON EXECUTOR. */
  val StateStoreConf = "spark.graft.stream.statestore"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run a streaming frame to completion (AvailableNow) and return the result as a batch frame. */
  private def runToTable(s: SparkSession, out: DataFrame, name: String,
                         mode: String,
                         parts: String = StreamShufflePartitions): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, parts)
    val ssKey = "spark.sql.streaming.stateStore.providerClass"
    val prevSs = s.conf.getOption(ssKey)
    val wantRocks = s.conf.getOption(StateStoreConf).exists(_.equalsIgnoreCase("rocksdb"))
    if (wantRocks) s.conf.set(ssKey, RocksDbProvider)
    try {
      if (mode == "append") {
        val sink = wiped(s"graft_sink_$name")
        val ck = wiped(s"graft_ck_$name")
        val sq = out.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ck)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
        s.read.schema(out.schema).parquet(sink)
      } else {
        val sq = out.writeStream.format("memory").queryName(name).outputMode(mode)
          .trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
        s.table(name)
      }
    } finally {
      s.conf.set(key, prev)
      prevSs.fold(s.conf.unset(ssKey))(v => s.conf.set(ssKey, v))
    }
  }

  /** ADVICE r15 — the vacuous-gate rule on the one family that cannot
    * collect its query set: a streaming serve whose `vec_id < 8` filter
    * matches nothing would empty BOTH the sink table and its oracle, and
    * the hash gate would pass while checking nothing. The stream side
    * can't be collected before it runs, so the guard runs on the STATIC
    * batch view of the same parquet source — one bounded count with the
    * filter pushed to the scan, before the stream starts. ADVICE r16
    * upgrade, mirroring the batch-side requireQueriesPresent's
    * exact-count contract: the serve families' query file is the FIXED
    * 8-id set `vec_id < 8`, and a partially absent file (say 5 of 8
    * qids) would silently shrink the gate on both entry and oracle
    * sides, so the guard pins == 8, not merely non-empty. Threaded
    * through EVERY serving stream. */
  private val StreamServeQueryCount = 8L
  private def requireStreamQueriesPresent(s: SparkSession, dir: String,
                                          who: String): Unit = {
    val n = Tables(s, dir, "embeddings")
      .filter(col("vec_id") < StreamServeQueryCount).count()
    require(n == StreamServeQueryCount,
      s"$who: $n of $StreamServeQueryCount expected embeddings rows match " +
        "the serve's vec_id < 8 query filter — a shrunken query file would " +
        "gate fewer rows on both entry and oracle sides (empty would pass " +
        "vacuously); regenerate the corpus")
  }

  /** C71/C71c/C71d/C71e: cascade stage-1 serving as a stream. The packed sign-code table
    * is static and broadcast; arriving queries pack inline (`external` derives x − 0.25,
    * one float round, which flips the sign of every component in [0, 0.25)), Hamming-rank
    * the table, and one complete-mode k-heap per q_id keeps O(|Q|·stage1) state. */
  private def cascadeServeStream(w: Width, s: SparkSession, dir: String, sink: String,
                                 external: Boolean = false): DataFrame = {
    requireStreamQueriesPresent(s, dir, s"cascade serve stream ($sink)")
    val vecs = graft.functions.vectors
    val codes = w.frame(s, dir)
      .select(col("vec_id"), vecs.bqPack(col("embedding"), w.groups).as("p"))
    val qStream = serveQueries(w, s, dir, external, "x - 0.25D")
      .select(col("q_id"), vecs.bqPack(col("qe"), w.groups).as("qp"))
      .withColumn("one", lit(1))
      .repartition(col("q_id"))
    val joined = qStream.join(broadcast(codes.withColumn("one", lit(1))), "one")
    val scored = (if (external) joined else joined.filter(col("vec_id") =!= col("q_id")))
      .drop("one")
      .withColumn("ham", vecs.hammingLong(col("p"), col("qp")))
    runToTable(s,
      scored.groupBy("q_id")
        .agg(graft.functions.aggs.topK(col("ham"), col("vec_id"),
          FusionQueries.CascStage1, asc = true).as("hits")),
      sink, "complete")
      .select(col("q_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as("vec_id"), col("hit.score").as("ham"))
  }

  /** Documents carry no event time. */
  private def docsStream(s: SparkSession, dir: String): DataFrame =
    readStreamTable(s, dir, "documents")
      .withColumn("ts", expr("timestamp_micros(1000000 + doc_id)"))
  private val NoEvictDelay = "3650 days"

  /** The streaming families defined once over their [[Width]]; each emits a d=64 entry
    * and its `_2048` twin. */
  private val twins: Seq[Seq[Width.Entry]] = Seq(
    // C58/C58d: streaming IVF ingest; arrivals assign to the batch-built centroids in a
    // stateless narrow projection (no watermark, no state store), ≡ the batch assignment
    Width.twin("streaming_ivf_ingest")(
      w => (s, dir) => {
        val cent = Ivf.centroids(w.labeled(s, dir)
          .filter(col("vec_id") < HybridQueries.IvfAppendSplit))
        runToTable(s,
          Ivf.assignToNearest(
            readStreamTable(s, dir, "embeddings")
              .filter(col("vec_id") >= HybridQueries.IvfAppendSplit)
              .select(col("vec_id"), w.widen(col("embedding")).as("embedding")), cent)
            .select(col("vec_id"), col("label").cast("long").as("label"), col("d")),
          w.name("sq_ivf_ingest"), "append")
      },
      w => HybridQueries.oracle(w.name("knn_ivf_append"))),

    // C58c/C58e: streaming PQ encode with the stored seeded codebook, one stateless
    // projection; every arriving vector leaves as its code row
    Width.twin("streaming_pq_ingest")(
      w => (s, dir) => {
        val cbRows = Pq.seededCodebook(w.frame(s, dir), numSub = w.numSub, subDim = w.subDim,
          numCodes = 64).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
        runToTable(s,
          Pq.encodeFast(
            readStreamTable(s, dir, "embeddings")
              .filter(col("vec_id") >= HybridQueries.IvfAppendSplit)
              .select(col("vec_id"), w.widen(col("embedding")).cast("array<double>").as("v")),
            cbRows, numSub = w.numSub, subDim = w.subDim),
          w.name("sq_pq_ingest"), "append")
      },
      w => {
        val codeCols = (0 until w.numSub).map(m =>
          s"  CAST(max(CASE WHEN m = $m THEN code END) AS BIGINT) AS code_$m")
          .mkString(",\n")
        s"""WITH ${w.cte}${FusionQueries.pqCodebookDuck(w)},
           |body AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM ${w.tbl}
           |         WHERE vec_id >= ${HybridQueries.IvfAppendSplit}),
           |${FusionQueries.pqEncodeDuck(w)}
           |SELECT vec_id,
           |$codeCols
           |FROM enc GROUP BY vec_id""".stripMargin
      }),

    // C58b/C58f: the streamed delta plus the persisted base graphs ≡ a full fresh build
    // (ascending-id append), so at the saturating beam the exact top-k replays it
    Width.twin("streaming_hnsw_append")(
      w => (s, dir) => {
        val basePath = HybridQueries.hnswBase(w, s, dir)
        val delta = runToTable(s,
          readStreamTable(s, dir, "embeddings")
            .filter(col("vec_id") >= HybridQueries.IvfAppendSplit)
            .select(col("vec_id"), w.widen(col("embedding")).as("embedding")),
          w.name("sq_hnsw_append"), "append")
        val qv = HybridQueries.requireQueryPresent(
            w.frame(s, dir).filter(col("vec_id") === 6), w.name("streaming_hnsw_append"))
          .select("embedding").collect().head.getSeq[Float](0).toArray
        Hnsw.searchAppended(s, basePath, delta, numParts = 8, qv, 10, ef = 0)
      },
      w => s"""${w.withTbl}SELECT e.vec_id,
              |  CAST(floor(list_distance(CAST(e.embedding AS DOUBLE[]),
              |    CAST(q.embedding AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score
              |FROM ${w.tbl} e CROSS JOIN (SELECT embedding FROM ${w.tbl} WHERE vec_id = 6) q
              |ORDER BY score ASC, e.vec_id ASC LIMIT 10""".stripMargin),

    // C66/C66e: PQ serving stream; the oracle is the batch replay cut at the ADC ranking
    Width.twin("streaming_pq_serve")(
      w => (s, dir) => pqServeStream(w, s, dir, w.name("streaming_pq_serve"),
        w.name("sq_pq_serve"), external = false, probed = false),
      w => FusionQueries.pqBatchOracleSql(w, Some("vec_id < 8"), adcOnly = true)),

    // C66b/C66g: external (non-indexed) queries, no self-exclusion
    Width.twin("streaming_pq_serve_external")(
      w => (s, dir) => pqServeStream(w, s, dir, w.name("streaming_pq_serve_external"),
        w.name("sq_pq_serve_ext"), external = true, probed = false),
      w => FusionQueries.pqBatchOracleSql(w, None, qsSelect = Some(externalServeQs(w)),
        excludeSelf = false, adcOnly = true)),

    // C66c/C66f: IVF×PQ serving stream; each arriving query picks its 2 probes as a pure
    // projection over the literal centroids
    Width.twin("streaming_ivfpq_serve")(
      w => (s, dir) => pqServeStream(w, s, dir, w.name("streaming_ivfpq_serve"),
        w.name("sq_ivfpq_serve"), external = false, probed = true),
      w => FusionQueries.ivfpqBatchOracleSql(w, Some("vec_id < 8"), adcOnly = true)),

    // C66d/C66h: external queries through the IVF×PQ serving stream
    Width.twin("streaming_ivfpq_serve_external")(
      w => (s, dir) => pqServeStream(w, s, dir, w.name("streaming_ivfpq_serve_external"),
        w.name("sq_ivfpq_serve_ext"), external = true, probed = true),
      w => FusionQueries.ivfpqBatchOracleSql(w, None, adcOnly = true,
        qsSelect = Some(externalServeQs(w)), excludeSelf = false)),

    // C71/C71d: cascade stage-1 serving stream; the oracle replays the per-q_id Hamming
    // ranking with the heap's tie order (ham asc, lower id wins)
    Width.twin("streaming_cascade_serve")(
      w => (s, dir) => cascadeServeStream(w, s, dir, w.name("sq_casc_serve"))
        .select("q_id", "rank", "vec_id", "ham"),
      w => s"""WITH ${FusionQueries.cascBaseDuck(w)}
              |SELECT q_id, CAST(rn1 AS BIGINT) AS rank, vec_id, ham FROM r1
              |WHERE rn1 <= ${FusionQueries.CascStage1}""".stripMargin),

    // C71c/C71e: external queries through the cascade stage-1 stream
    Width.twin("streaming_cascade_serve_external")(
      w => (s, dir) => cascadeServeStream(w, s, dir, w.name("sq_casc_serve_ext"),
        external = true),
      w => {
        val qs = s"""SELECT q_id, ${FusionQueries.packDuck(w, "qe")} AS q_p,
                    |  CAST(qe AS DOUBLE[]) AS q_vec
                    |  FROM (SELECT vec_id + 1000 AS q_id,
                    |    list_transform(CAST(embedding AS DOUBLE[]),
                    |      x -> CAST(x - 0.25 AS FLOAT)) AS qe
                    |    FROM ${w.tbl} WHERE vec_id < 8)""".stripMargin
        s"""WITH ${FusionQueries.cascBaseDuck(w, excludeSelf = false, qsSelect = Some(qs))}
           |SELECT q_id, CAST(rn1 AS BIGINT) AS rank, vec_id, ham FROM r1
           |WHERE rn1 <= ${FusionQueries.CascStage1}""".stripMargin
      })
  )

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map[String, Width.Run](
    // C7: windowed agg AS a stream — complete mode, integer cents sum
    // (order-insensitive merge; see EventsStream.windowedAggExact)
    "streaming_window" -> ((s, dir) =>
      runToTable(s,
        EventsStream.windowedAggExact(readStreamTable(s, dir, "events")),
        "sq_window", "complete")
        .select(expr("unix_micros(window_start) div 60000000").as("hour_min"),
          col("event_type"), col("n"), col("sum_cents"))),

    // C31: stream-static enrichment (stateless broadcast join per batch) feeding a windowed count
    "streaming_enrich" -> ((s, dir) => {
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      runToTable(s,
        EnrichStream.segmentCounts(readStreamTable(s, dir, "events"), dim, "2 hours"),
        "sq_enrich", "complete")
        .select(expr("unix_micros(window_start) div 60000000").as("hour_min"),
          col("segment"), col("n"))
    }),

    // C63: benchmark decontamination AS a stream
    "streaming_decontaminate" -> ((s, dir) => {
      val bench: Array[Long] = graft.operators.Dedup
        .shingledExploded(Tables(s, dir, "documents")
          .filter(col("source") === CurationQueries.BenchmarkSource))
        .selectExpr(graft.operators.Dedup.hashExpr("g") + " AS g").distinct()
        .collect().map(_.getLong(0))
      val flagged = readStreamTable(s, dir, "documents")
        .filter(col("source") =!= CurationQueries.BenchmarkSource)
        .select(col("doc_id"),
          graft.functions.text.shingles(expr(graft.operators.Dedup.TokExpr), 3).as("sh"))
        .selectExpr("doc_id",
          s"transform(array_distinct(sh), g -> ${graft.operators.Dedup.hashExpr("g")}) AS hs")
        .select(col("doc_id"),
          graft.functions.sets.countIn(col("hs"), bench).as("n_shared"))
        .filter(col("n_shared") >= CurationQueries.MinSharedShingles)
      runToTable(s, flagged, "sq_decontam", "append")
    }),

    // C62: trained-BPE token accounting AS a stream
    "streaming_bpe_tokens" -> ((s, dir) => {
      val wl = graft.operators.Bpe.wordSymLens(Tables(s, dir, "documents"), dir)
      runToTable(s,
        graft.streaming.TokenStream.tokenTotals(readStreamTable(s, dir, "documents"), wl),
        "sq_bpetok", "complete")
        .select(col("source"), col("n_ws"), col("n_bpe"))
    }),

    // C25: bucket-level HLL sketch AS a stream
    "streaming_sketch" -> ((s, dir) =>
      runToTable(s,
        SketchStream.sketchStream(readStreamTable(s, dir, "events"), "2 hours"),
        "sq_sketch", "complete")
        .select(expr("unix_micros(window_start) div 60000000").as("hour_min"),
          col("event_type"), col("bucket").cast("long").as("bucket"),
          col("rho").cast("long").as("rho"))),

    "streaming_drift" -> ((s, dir) => {
      val dim = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      runToTable(s,
        readStreamTable(s, dir, "embeddings")
          .select(col("vec_id"), graft.functions.vectors.quantize(col("embedding")).as("q"))
          .join(dim, col("vec_id") === col("doc_id"))
          .groupBy("source")
          .agg(graft.functions.aggs.vecSumLong(col("q")).as("sv"),
            count(lit(1)).as("cnt")),
        "sq_drift", "complete")
        .select(col("source"),
          posexplode(expr(graft.functions.floorMeanVecSql("sv", "cnt")))
            .as(Seq("dim", "cmean")))
        .selectExpr("source", "CAST(dim AS BIGINT) AS dim", "cmean")
    }),

    // C17: streaming exact dedup
    "streaming_dedup" -> ((s, dir) =>
      runToTable(s,
        DedupStream.dedupWithinWatermark(
          docsStream(s, dir).filter(col("text").isNotNull), NoEvictDelay).select("h"),
        "sq_dedup", "append")),

    // C35: the streaming curation pipeline
    "streaming_curation" -> ((s, dir) =>
      runToTable(s,
        CurationStream.gated(docsStream(s, dir), CurationQueries.MinQuality)
          .withColumn("h", md5(col("text")))
          .withWatermark("ts", NoEvictDelay)
          .dropDuplicatesWithinWatermark("h")
          .select("h", "quality"),
        "sq_curation", "append")),

    // C39: stream-stream interval join
    "streaming_join" -> ((s, dir) => {
      val clicks = readStreamTable(s, dir, "events")
        .filter(col("event_type") === "click")
      val purchases = readStreamTable(s, dir, "events")
        .filter(col("event_type") === "purchase")
      runToTable(s,
        JoinStream.clickPurchase(clicks, purchases, NoEvictDelay),
        "sq_join", "append", StreamJoinShufflePartitions)
    }),

    // C47: the LEFT OUTER stream-stream join
    "streaming_join_outer" -> ((s, dir) => {
      val clicks = readStreamTable(s, dir, "events")
        .filter(col("event_type") === "click")
      val purchases = readStreamTable(s, dir, "events")
        .filter(col("event_type") === "purchase")
      runToTable(s,
        JoinStream.clickPurchaseOuter(clicks, purchases, "1 minute"),
        "sq_join_outer", "append", StreamJoinShufflePartitions)
    }),

    // C69c: the HLL cardinality cube MAINTAINED as a stream — C69's
    // mergeability claim made live: the complete-mode state IS the
    // per-(source, lang, bucket) register table (≤ G·256 rows forever —
    // max is associative and order-insensitive, so the fold is exact
    // regardless of batching), and each emission derives the per-group
    // distinct estimate from the registers alone. At 100 TB this is the
    // live ingest counter: no distinct shuffle ever runs; arriving text
    // hashes fold into bounded registers map-side. The coarser rollup
    // levels (C69's register-max merges) read the emitted sketch table.
    "streaming_hll_rollup" -> ((s, dir) => {
      val sketch = runToTable(s,
        Hll.sketchAgg(Hll.bucketRho(readStreamTable(s, dir, "documents"),
          "concat('hrm', text)", Seq("source", "lang")), Seq("source", "lang")),
        "sq_hll_rollup", "complete")
      Hll.estimate(sketch, Seq("source", "lang")).select("source", "lang", "est")
    }),

    // C71b: the DOWNSTREAM RERANK the C66/C71 scaladoc promises
    "streaming_cascade_rerank" -> ((s, dir) => {
      val short1 = cascadeServeStream(Width.Base, s, dir, "sq_casc_rerank")
        .select("q_id", "vec_id", "ham")
      val e = Tables(s, dir, "embeddings").selectExpr("vec_id", "embedding",
        "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      val stats = graft.operators.Cascade.calibrationStats(e)
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("v").as("qd"))
      graft.operators.Cascade.rerankShortlist(e, qs, stats, short1,
        FusionQueries.CascStage2, k = 10)
    }),

    // C59: continuous top-k maintenance AS a stream
    "streaming_topk" -> ((s, dir) =>
      runToTable(s,
        readStreamTable(s, dir, "events")
          .selectExpr("event_type", "event_id",
            "CAST(floor(value * 100) AS BIGINT) AS cents")
          .groupBy("event_type")
          .agg(graft.functions.aggs.topK(col("cents"), col("event_id"), 5, asc = false).as("hits")),
        "sq_topk", "complete")
        .select(col("event_type"), posexplode(col("hits")).as(Seq("pos", "hit")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("hit.id").as("event_id"), col("hit.score").as("cents"))),

    // C70: B39's weighted priority sample MAINTAINED as a stream
    "streaming_weighted_sample" -> ((s, dir) =>
      runToTable(s,
        readStreamTable(s, dir, "documents")
          .selectExpr("doc_id",
            s"CAST(size(${Dedup.TokExpr}) AS BIGINT) AS w",
            s"${Dedup.hashExpr("concat('wsp', CAST(doc_id AS STRING))")} AS h")
          .filter(col("w") > 0)
          .selectExpr("doc_id", "h div w AS pri")
          .agg(graft.functions.aggs.topK(col("pri"), col("doc_id"), 100, asc = true)
            .as("hits")),
        "sq_wsample", "complete")
        .select(posexplode(col("hits")).as(Seq("pos", "hit")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("hit.id").as("doc_id"), col("hit.score").as("pri"))),

    // C8: stateful sessionization AS a stream (flatMapGroupsWithState, event-time timeout)
    "streaming_sessionize" -> ((s, dir) => {
      val key = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "false")
      try {
        runToTable(s,
          EventsStream.sessionizeStream(s, readStreamTable(s, dir, "events"),
            gapSeconds = 1800).toDF(),
          "sq_sessionize", "append")
          .select(col("user_id"), col("n_events"),
            expr("unix_micros(sess_start) div 1000000").as("sess_start"),
            expr("unix_micros(sess_end) div 1000000").as("sess_end"))
      } finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
    })
  ) ++ Width.defsOf(twins)

  /** The C66b external query set at width `w` (q_id, qv, qemb): x·1.5, one float round. */
  private def externalServeQs(w: Width): String =
    s"""SELECT vec_id + 1000 AS q_id,
       |  list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(x * 1.5 AS FLOAT) AS DOUBLE)) AS qv,
       |  CAST(list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(x * 1.5 AS FLOAT)) AS FLOAT[]) AS qemb
       |  FROM ${w.tbl} WHERE vec_id < 8""".stripMargin

  val oracle: Map[String, String] = {
    import TextScoring._
    val dTok = DuckDialect.Tok
    def dH(v: String) = DuckDialect.hash(v)

    Map(
      // bounded-sum assumption (ADVICE r4): CAST(HUGEINT AS BIGINT) errors
      // on overflow in DuckDB while Spark's long sum wraps — unreachable at
      // gate corpus scale, and an overflow would fail LOUDLY here, not pass
      "streaming_window" ->
        """SELECT epoch_us(date_trunc('hour', ts)) // 60000000 AS hour_min, event_type,
          | count(*) AS n, CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY 1, 2""".stripMargin,

      "streaming_enrich" ->
        """SELECT epoch_us(date_trunc('hour', e.ts)) // 60000000 AS hour_min,
          | coalesce(c.c_mktsegment, 'unknown') AS segment, count(*) AS n
          |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
          |GROUP BY 1, 2""".stripMargin,

      "streaming_sketch" ->
        s"""WITH h AS (SELECT date_trunc('hour', ts) AS hr, event_type,
           |  ${dH("'hll'||CAST(event_id AS VARCHAR)")} AS h FROM events),
           |b AS (SELECT hr, event_type, h % 256 AS bucket, h // 256 AS w FROM h)
           |SELECT epoch_us(hr) // 60000000 AS hour_min, event_type,
           |  CAST(bucket AS BIGINT) AS bucket,
           |  CAST(max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS BIGINT) AS rho
           |FROM b GROUP BY 1, 2, 3""".stripMargin,

      // C63 runs B15's exact gate as a stream
      "streaming_decontaminate" -> CurationQueries.oracle("decontaminate"),

      // stream state ≡ the batch per-source aggregate over the SAME trained dictionary
      "streaming_bpe_tokens" -> {
        val iters = graft.operators.Bpe.DefaultIters
        s"""WITH ${DuckDialect.bpeChain(iters)},
           |wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sym FROM s$iters),
           |dw AS (SELECT source, unnest($dTok) AS word FROM documents)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_ws,
           |  CAST(sum(n_sym) AS BIGINT) AS n_bpe
           |FROM dw JOIN wl USING (word) GROUP BY source""".stripMargin
      },

      "streaming_dedup" ->
        "SELECT DISTINCT md5(text) AS h FROM documents WHERE text IS NOT NULL",

      // stream state ≡ the batch integer centroid (A34's centroid side)
      "streaming_drift" ->
        s"""WITH ed AS (SELECT d.source, ${DuckDialect.quantizeVec("e.embedding")} AS q
           |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
           |cnts AS (SELECT source, count(*) AS cnt FROM ed GROUP BY source),
           |comp AS (SELECT ed.source AS source, dd.dim AS dim, sum(ed.q[dd.dim + 1]) AS sv
           |  FROM ed CROSS JOIN range(64) dd(dim)
           |  GROUP BY ed.source, dd.dim)
           |SELECT c.source, CAST(dim AS BIGINT) AS dim,
           |  CAST((sv - ((sv % cnt + cnt) % cnt)) // cnt AS BIGINT) AS cmean
           |FROM comp c JOIN cnts USING (source)""".stripMargin,

      // C71b: the streamed stage-1 + downstream batch rerank equals the batch funnel end-to-end
      "streaming_cascade_rerank" -> FusionQueries.oracle("knn_cascade_batch"),

      // C70: the batch bottom-k replayed with rank — same tie order as
      // the heap (pri asc, lower id wins)
      "streaming_weighted_sample" ->
        s"""WITH w AS (SELECT doc_id,
           |  CAST(len(${DuckDialect.Tok}) AS BIGINT) AS w,
           |  ${DuckDialect.hash("'wsp'||CAST(doc_id AS VARCHAR)")} AS h FROM documents),
           |r AS (SELECT doc_id, h // w AS pri,
           |  row_number() OVER (ORDER BY h // w ASC, doc_id ASC) AS rn
           |  FROM w WHERE w > 0)
           |SELECT CAST(rn AS BIGINT) AS rank, doc_id, pri FROM r WHERE rn <= 100""".stripMargin,

      // same tie-break as TopKHits: score desc, lower id wins
      "streaming_topk" ->
        """SELECT event_type, rank, event_id, cents FROM (
          |  SELECT event_type, event_id,
          |    CAST(floor(value * 100) AS BIGINT) AS cents,
          |    CAST(row_number() OVER (PARTITION BY event_type
          |      ORDER BY CAST(floor(value * 100) AS BIGINT) DESC, event_id ASC) AS BIGINT) AS rank
          |  FROM events) WHERE rank <= 5""".stripMargin,

      // the gates are B21's shared fragments
      "streaming_curation" ->
        s"""WITH t AS (SELECT doc_id, n_chars, text, $dTok AS tk FROM documents),
           |sc AS (SELECT doc_id, n_chars, text,
           |  ${(dLangScores ++ dQualityInputs).mkString(",\n  ")}
           |  FROM t),
           |q AS (SELECT text, ${qualityExpr("//")} AS quality
           |  FROM sc WHERE ($LangPred) = 'en')
           |SELECT DISTINCT md5(text) AS h, quality FROM q
           |WHERE quality >= ${CurationQueries.MinQuality}""".stripMargin,

      "streaming_join" ->
        """SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id,
          |  CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
          |FROM events c JOIN events p ON c.user_id = p.user_id
          |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin,

      // inner matches ∪ unmatched clicks whose window the final watermark
      "streaming_join_outer" ->
        """WITH c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
          |           WHERE event_type = 'click'),
          |p AS (SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts FROM events
          |      WHERE event_type = 'purchase'),
          |wm AS (SELECT least((SELECT max(c_ts) FROM c), (SELECT max(p_ts) FROM p))
          |         - INTERVAL 1 MINUTE AS w),
          |j AS (SELECT c.user_id, c.c_id, c.c_ts, p.p_id, p.p_ts
          |      FROM c JOIN p ON c.user_id = p.p_user
          |       AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR)
          |SELECT user_id, c_id, p_id,
          |  CAST(epoch_us(p_ts) - epoch_us(c_ts) AS BIGINT) AS gap_us FROM j
          |UNION ALL
          |SELECT c.user_id, c.c_id, NULL, NULL FROM c
          |WHERE c.c_id NOT IN (SELECT c_id FROM j)
          |  AND c.c_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)""".stripMargin,

      // C69c: the fine-level branch of the C69 oracle
      "streaming_hll_rollup" -> {
        val e = s"CAST(floor(((${Hll.AlphaScaled}.0 / 1000000.0) * 65536.0 " +
          "* 9007199254740992.0) / CAST(zsum AS DOUBLE)) AS BIGINT)"
        s"""WITH h AS (SELECT source, lang,
           |  ${DuckDialect.hash("'hrm'||text")} AS h FROM documents),
           |b AS (SELECT source, lang, h % 256 AS bucket, h // 256 AS w FROM h),
           |fine AS (SELECT source, lang, bucket,
           |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_j
           |  FROM b GROUP BY 1, 2, 3),
           |zf AS (SELECT source, lang, CAST(sum(CAST(1 AS BIGINT) << (53 - m_j))
           |    + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS zsum
           |  FROM fine GROUP BY 1, 2)
           |SELECT source, lang, $e AS est FROM zf""".stripMargin
      },

      // batch sessionization minus each user's LAST session (the stream's still-open tail)
      "streaming_sessionize" ->
        """WITH g AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
          |           OR epoch_us(ts)
          |              - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) > 1800000000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events),
          |sess AS (
          |  SELECT user_id, ts,
          |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
          |  FROM g),
          |agg AS (
          |  SELECT user_id, sess_idx,
          |    max(sess_idx) OVER (PARTITION BY user_id) AS last_idx,
          |    count(*) AS n_events,
          |    epoch_us(min(ts)) // 1000000 AS sess_start,
          |    epoch_us(max(ts)) // 1000000 AS sess_end
          |  FROM sess GROUP BY user_id, sess_idx)
          |SELECT user_id, n_events, sess_start, sess_end
          |FROM agg WHERE sess_idx < last_idx""".stripMargin
    ) ++ Width.oraclesOf(twins)
  }
}
