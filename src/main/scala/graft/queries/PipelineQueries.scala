package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Multimodal

/** §2.B11 + C6 — multimodal ingest plumbing and gap-based sessionization. */
object PipelineQueries {

  // the multimodal persisted index builds once per (JVM, sfDir)
  private val mmIndexFor = scala.collection.mutable.Map.empty[String, String]
  private val MmQueryId = 5L

  private def mediaEmbeddings(s: SparkSession, dir: String,
                              docsDf: DataFrame => DataFrame = identity): DataFrame = {
    val media = Multimodal.asMedia(s,
      docsDf(Tables(s, dir, "documents").filter(col("text").isNotNull)))
    val model = Multimodal.EmbedModels.forSession(s) // SignalFeatureModel here
    // storage quantization to floor(x·10⁴ + 0.5)
    Multimodal.embedWith(s, media, model).toDF()
      .select(col("media_id").cast("long").as("vec_id"),
        expr("transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT) / 10000.0 AS FLOAT))")
          .as("embedding"))
  }

  private def ensureMmIndex(s: SparkSession, dir: String): String = synchronized {
    mmIndexFor.getOrElseUpdate(dir, {
      val path = graft.TmpDirs.path("mm_hnsw_" + graft.TmpDirs.dirKey(dir))
      graft.operators.Hnsw.buildAndWrite(mediaEmbeddings(s, dir), path,
        dims = 32, numParts = 8)
      path
    })
  }

  // ---- learned-checkpoint NN arm (B11f): the readout trains on the first CkptTrainCap
  // doc_ids, a fixed bounded sample in ascending doc_id order
  private val nnCkptFor = scala.collection.mutable.Map.empty[String, String]
  private val CkptTrainCap = 256L
  private val CkptEpochs = 2

  private def ckptTrainSamples(s: SparkSession, dir: String): Seq[(Long, Array[Long], String)] = {
    import s.implicits._
    // featurization runs DISTRIBUTED (the same per-partition shape the embed path uses)
    Tables(s, dir, "documents")
      .filter(col("text").isNotNull && col("lang").isNotNull &&
        col("doc_id") < CkptTrainCap)
      .select(col("doc_id"), col("text").cast("binary").as("bytes"), col("lang"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, b, lang) =>
        (id, Multimodal.IntMlp.readoutFeatures(b), lang)
      })
      .collect().sortBy(_._1).toSeq
  }

  private def ensureNnCkpt(s: SparkSession, dir: String): String = synchronized {
    nnCkptFor.getOrElseUpdate(dir, {
      val path = graft.TmpDirs.path("nn_ckpt_" + graft.TmpDirs.dirKey(dir))
      val (classes, w) =
        Multimodal.trainPerceptronReadout(ckptTrainSamples(s, dir), CkptEpochs)
      Multimodal.writeCheckpoint(s, path, classes, w)
      path
    })
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The reference's own demo composition
    "multimodal_search" -> ((s, dir) => {
      val path = ensureMmIndex(s, dir)
      // embed ONLY the query doc
      val qv = mediaEmbeddings(s, dir, _.filter(col("doc_id") === MmQueryId))
        .select("embedding").collect().head.getSeq[Float](0).toArray
      val passing = Multimodal.asMedia(s,
          Tables(s, dir, "documents").filter(col("text").isNotNull)).toDF()
        .filter(col("mime") === "application/x-en")
        .select(col("media_id").as("vec_id"))
      graft.operators.Hnsw.searchFilteredPersisted(s, path, passing,
        numParts = 8, qv, 10, metaSearch = 0)
    }),
    // B11e: a GENUINE neural forward pass, oracle-gated
    "multimodal_search_nn" -> ((s, dir) => {
      val docsNn = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val model = new Multimodal.IntMlpEmbedModel
      def embed(df: DataFrame): DataFrame =
        Multimodal.embedWith(s, Multimodal.asMedia(s, df), model).toDF()
          .select(col("media_id").as("vec_id"),
            expr("CAST(embedding AS ARRAY<BIGINT>)").as("y"))
      // embed ONLY the query doc
      val qv = embed(docsNn.filter(col("doc_id") === MmQueryId))
        .select(col("y").as("qy"))
      val corpus = embed(
        docsNn.filter(col("lang").isNotNull && col("lang") === "en"))
      corpus.crossJoin(broadcast(qv))
        .selectExpr("vec_id", graft.functions.sqDistLongSql("y", "qy") + " AS dist")
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
    }),

    // B11f: the LEARNED-weights NN arm, weights-as-data
    "multimodal_search_ckpt" -> ((s, dir) => {
      val path = ensureNnCkpt(s, dir)
      val (_, w) = Multimodal.restoreCheckpoint(s, path)
      val model = new Multimodal.CkptMlpEmbedModel(w)
      val docsNn = Tables(s, dir, "documents").filter(col("text").isNotNull)
      def embed(df: DataFrame): DataFrame =
        Multimodal.embedWith(s, Multimodal.asMedia(s, df), model).toDF()
          .select(col("media_id").as("vec_id"),
            expr("CAST(embedding AS ARRAY<BIGINT>)").as("y"))
      val qv = embed(docsNn.filter(col("doc_id") === MmQueryId))
        .select(col("y").as("qy"))
      val corpus = embed(
        docsNn.filter(col("lang").isNotNull && col("lang") === "en"))
      corpus.crossJoin(broadcast(qv))
        .select(col("vec_id"),
          graft.functions.vectors.sqDistLong(col("y"), col("qy")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
    }),

    // B11: binary media column → sha256 identity + stub decode via typed mapPartitions
    "multimodal_ingest" -> ((s, dir) => {
      val media = Multimodal.asMedia(s, Tables(s, dir, "documents").filter(col("text").isNotNull))
      Multimodal.decode(s, media).toDF()
        .select("media_id", "content_sha", "n_bytes", "width", "height", "mime")
    }),

    // B11b: stub feature extraction
    "multimodal_embed" -> ((s, dir) => {
      val media = Multimodal.asMedia(s, Tables(s, dir, "documents"))
      val emb = Multimodal.embedStub(s, Multimodal.decode(s, media))
      emb.toDF()
        .select(col("media_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("media_id"), col("dim").cast("long").as("dim"),
          floor(col("v") * 1000 + lit(0.5)).cast("long").as("w"))
    }),

    // C6: sessionize events per user on 30-minute inactivity gaps
    "events_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        // gap computed at microsecond precision
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L).otherwise(0L))
        .withColumn("sess_idx", sum("new_sess").over(
          Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_idx")
        // session bounds as integer epoch seconds, not formatted strings
        .agg(count(lit(1)).as("n_events"),
          expr("unix_micros(min(ts)) div 1000000").as("sess_start"),
          expr("unix_micros(max(ts)) div 1000000").as("sess_end"))
    })
  )

  val oracle: Map[String, String] = Map(
    // replays the WHOLE serving path
    "multimodal_search" ->
      """WITH base AS (
        |  SELECT doc_id, lang, octet_length(CAST(text AS BLOB)) AS n,
        |         hex(CAST(text AS BLOB)) AS hx
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (
        |  SELECT doc_id, n, hx, CAST(unnest(range(n)) AS BIGINT) AS i FROM base),
        |bytes AS (
        |  SELECT doc_id, n, i,
        |         CAST('0x' || substr(hx, CAST(2 * i + 1 AS BIGINT), 2) AS INT) AS byte
        |  FROM idx),
        |hist AS (
        |  SELECT doc_id, byte // 16 AS dim,
        |         CAST(CAST(count(*) AS FLOAT) / CAST(any_value(n) AS FLOAT) AS FLOAT) AS vraw
        |  FROM bytes GROUP BY doc_id, byte // 16),
        |tapidx AS (
        |  SELECT doc_id, n, CAST(unnest(range(64)) AS BIGINT) AS j FROM base WHERE n > 0),
        |taps AS (
        |  SELECT s.doc_id, s.j, bt.byte
        |  FROM (SELECT doc_id, n, j, (j * n) // 64 AS bi FROM tapidx) s
        |  JOIN bytes bt ON bt.doc_id = s.doc_id AND bt.i = s.bi),
        |kdim AS (
        |  SELECT doc_id, j, byte, CAST(unnest(range(16)) AS BIGINT) AS k FROM taps),
        |dct AS (
        |  SELECT doc_id, 16 + k AS dim,
        |         CAST(list_aggregate(list(
        |           ((byte / 255.0) - 0.5) * cos(pi() * k * (2 * j + 1) / 128.0)
        |           ORDER BY j), 'sum') AS FLOAT) AS vraw
        |  FROM kdim GROUP BY doc_id, k),
        |comps AS (
        |  SELECT b.doc_id, d.range AS dim,
        |    coalesce(h.vraw, dc.vraw, CAST(0 AS FLOAT)) AS vf
        |  FROM base b CROSS JOIN range(32) d
        |  LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.dim = d.range AND d.range < 16
        |  LEFT JOIN dct dc ON dc.doc_id = b.doc_id AND dc.dim = d.range AND d.range >= 16),
        |norms AS (
        |  SELECT doc_id, sqrt(list_aggregate(list(
        |    CAST(vf AS DOUBLE) * CAST(vf AS DOUBLE) ORDER BY dim), 'sum')) AS nrm
        |  FROM comps GROUP BY doc_id),
        |qcomps AS (
        |  SELECT c.doc_id, c.dim,
        |    CAST(CAST(floor(CAST(
        |      CASE WHEN n.nrm > 0 THEN CAST(CAST(c.vf AS DOUBLE) / n.nrm AS FLOAT) ELSE c.vf END
        |      AS DOUBLE) * 10000 + 0.5) AS BIGINT) / 10000.0 AS FLOAT) AS vqf
        |  FROM comps c JOIN norms n ON n.doc_id = c.doc_id),
        |qvec AS (SELECT dim, vqf FROM qcomps WHERE doc_id = 5),
        |dists AS (
        |  SELECT c.doc_id,
        |    list_aggregate(list(
        |      (CAST(c.vqf AS DOUBLE) - CAST(q.vqf AS DOUBLE)) * (CAST(c.vqf AS DOUBLE) - CAST(q.vqf AS DOUBLE))
        |      ORDER BY dim), 'sum') AS sq
        |  FROM qcomps c JOIN qvec q USING (dim)
        |  GROUP BY c.doc_id)
        |SELECT d.doc_id AS vec_id, CAST(floor(sqrt(d.sq) * 10000 + 0.5) AS BIGINT) AS score
        |FROM dists d JOIN base b ON b.doc_id = d.doc_id
        |WHERE 'application/x-' || b.lang = 'application/x-en'
        |ORDER BY score ASC, vec_id ASC LIMIT 10""".stripMargin,

    // B11e: the forward pass REPLAYED — md5-derived weights, the 32-wide
    // input (16 histogram counts + 16 byte taps), both matmuls, the ReLU
    // + floor-div-64 requantize, then the integer filtered top-10. All
    // integer arithmetic: sums are order-insensitive, no float folds
    // needed (pre-validated in python/duckdb vs a pure-python forward
    // pass at sf0.001 and sf0.01).
    "multimodal_search_nn" ->
      """WITH base AS (
        |  SELECT doc_id, lang, octet_length(CAST(text AS BLOB)) AS n,
        |         hex(CAST(text AS BLOB)) AS hx
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (
        |  SELECT doc_id, n, hx, CAST(unnest(range(n)) AS BIGINT) AS i FROM base),
        |bytes AS (
        |  SELECT doc_id, n, i,
        |         CAST('0x' || substr(hx, CAST(2 * i + 1 AS BIGINT), 2) AS INT) AS byte
        |  FROM idx),
        |hist0 AS (
        |  SELECT doc_id, byte // 16 AS i, CAST(count(*) AS BIGINT) AS xv
        |  FROM bytes GROUP BY doc_id, byte // 16),
        |taps AS (
        |  SELECT s.doc_id, 16 + s.j AS i, CAST(bt.byte AS BIGINT) AS xv
        |  FROM (SELECT doc_id, n, CAST(unnest(range(16)) AS BIGINT) AS j FROM base WHERE n > 0) s
        |  JOIN bytes bt ON bt.doc_id = s.doc_id AND bt.i = (s.j * s.n) // 16),
        |x AS (
        |  SELECT b.doc_id, d.range AS i, coalesce(h.xv, t.xv, 0) AS xv
        |  FROM base b CROSS JOIN range(32) d
        |  LEFT JOIN hist0 h ON h.doc_id = b.doc_id AND h.i = d.range AND d.range < 16
        |  LEFT JOIN taps t ON t.doc_id = b.doc_id AND t.i = d.range AND d.range >= 16),
        |w1 AS (SELECT k.range AS k, i.range AS i,
        |  (CAST('0x' || substr(md5('w1_' || CAST(k.range AS VARCHAR) || '_' || CAST(i.range AS VARCHAR)), 1, 15) AS BIGINT) % 17) - 8 AS w
        |  FROM range(16) k CROSS JOIN range(32) i),
        |b1 AS (SELECT k.range AS k,
        |  (CAST('0x' || substr(md5('b1_' || CAST(k.range AS VARCHAR)), 1, 15) AS BIGINT) % 17) - 8 AS b
        |  FROM range(16) k),
        |h AS (
        |  SELECT x.doc_id, w1.k,
        |    greatest(sum(w1.w * x.xv) + any_value(b1.b), 0) // 64 AS hv
        |  FROM x JOIN w1 ON w1.i = x.i JOIN b1 ON b1.k = w1.k
        |  GROUP BY x.doc_id, w1.k),
        |w2 AS (SELECT d.range AS d, k.range AS k,
        |  (CAST('0x' || substr(md5('w2_' || CAST(d.range AS VARCHAR) || '_' || CAST(k.range AS VARCHAR)), 1, 15) AS BIGINT) % 17) - 8 AS w
        |  FROM range(16) d CROSS JOIN range(16) k),
        |b2 AS (SELECT d.range AS d,
        |  (CAST('0x' || substr(md5('b2_' || CAST(d.range AS VARCHAR)), 1, 15) AS BIGINT) % 17) - 8 AS b
        |  FROM range(16) d),
        |y AS (
        |  SELECT h.doc_id, w2.d, sum(w2.w * h.hv) + any_value(b2.b) AS yv
        |  FROM h JOIN w2 ON w2.k = h.k JOIN b2 ON b2.d = w2.d
        |  GROUP BY h.doc_id, w2.d),
        |q AS (SELECT d, yv FROM y WHERE doc_id = 5),
        |dists AS (
        |  SELECT y.doc_id, sum((y.yv - q.yv) * (y.yv - q.yv)) AS dist
        |  FROM y JOIN q USING (d) GROUP BY y.doc_id)
        |SELECT d.doc_id AS vec_id, CAST(d.dist AS BIGINT) AS dist
        |FROM dists d JOIN base b ON b.doc_id = d.doc_id
        |WHERE 'application/x-' || b.lang = 'application/x-en'
        |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // B11f: replays featurize → fixed hidden layer → the perceptron TRAINING FOLD
    "multimodal_search_ckpt" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id, lang, octet_length(CAST(text AS BLOB)) AS n,
        |         hex(CAST(text AS BLOB)) AS hx
        |  FROM documents WHERE text IS NOT NULL),
        |idx AS (
        |  SELECT doc_id, n, hx, CAST(unnest(range(n)) AS BIGINT) AS i FROM base),
        |bytes AS MATERIALIZED (
        |  SELECT doc_id, n, i,
        |         CAST('0x' || substr(hx, CAST(2 * i + 1 AS BIGINT), 2) AS INT) AS byte
        |  FROM idx),
        |hist0 AS (
        |  SELECT doc_id, byte // 16 AS i, CAST(count(*) AS BIGINT) AS xv
        |  FROM bytes GROUP BY doc_id, byte // 16),
        |taps AS (
        |  SELECT s.doc_id, 16 + s.j AS i, CAST(bt.byte AS BIGINT) AS xv
        |  FROM (SELECT doc_id, n, CAST(unnest(range(16)) AS BIGINT) AS j FROM base WHERE n > 0) s
        |  JOIN bytes bt ON bt.doc_id = s.doc_id AND bt.i = (s.j * s.n) // 16),
        |x AS (
        |  SELECT b.doc_id, d.range AS i, coalesce(h.xv, t.xv, 0) AS xv
        |  FROM base b CROSS JOIN range(32) d
        |  LEFT JOIN hist0 h ON h.doc_id = b.doc_id AND h.i = d.range AND d.range < 16
        |  LEFT JOIN taps t ON t.doc_id = b.doc_id AND t.i = d.range AND d.range >= 16),
        |w1 AS (SELECT k.range AS k, i.range AS i,
        |  (CAST('0x' || substr(md5('w1_' || CAST(k.range AS VARCHAR) || '_' || CAST(i.range AS VARCHAR)), 1, 15) AS BIGINT) % 17) - 8 AS w
        |  FROM range(16) k CROSS JOIN range(32) i),
        |b1 AS (SELECT k.range AS k,
        |  (CAST('0x' || substr(md5('b1_' || CAST(k.range AS VARCHAR)), 1, 15) AS BIGINT) % 17) - 8 AS b
        |  FROM range(16) k),
        |h AS MATERIALIZED (
        |  SELECT x.doc_id, w1.k,
        |    greatest(sum(w1.w * x.xv) + any_value(b1.b), 0) // 64 AS hv
        |  FROM x JOIN w1 ON w1.i = x.i JOIN b1 ON b1.k = w1.k
        |  GROUP BY x.doc_id, w1.k),
        |gl AS MATERIALIZED (
        |  SELECT doc_id, list(hv // 16 ORDER BY k) AS g FROM h GROUP BY doc_id),
        |samples AS MATERIALIZED (
        |  SELECT gl.doc_id, b.lang, gl.g
        |  FROM gl JOIN base b USING (doc_id) WHERE gl.doc_id < 256),
        |classes AS MATERIALIZED (
        |  SELECT lang AS cls, CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS out_idx
        |  FROM (SELECT DISTINCT lang FROM samples)),
        |percls AS (
        |  SELECT c.cls, c.out_idx,
        |    list(struct_pack(g := s.g,
        |      y := CAST(CASE WHEN s.lang = c.cls THEN 1 ELSE -1 END AS BIGINT)) ORDER BY s.doc_id) AS smps
        |  FROM classes c CROSS JOIN samples s GROUP BY c.cls, c.out_idx),
        |w2t AS MATERIALIZED (
        |  SELECT cls, out_idx,
        |    list_reduce(
        |      list_prepend(
        |        struct_pack(st := list_transform(range(17), z -> CAST(0 AS BIGINT)),
        |                    g := CAST(NULL AS BIGINT[]), y := CAST(NULL AS BIGINT)),
        |        list_transform(smps || smps,
        |          s -> struct_pack(st := CAST(NULL AS BIGINT[]), g := s.g, y := s.y))),
        |      (acc, s) -> struct_pack(
        |        st := list_transform(range(1, 18), idx -> acc.st[idx] +
        |          CASE WHEN s.y * (list_reduce(list_transform(range(1, 17),
        |                 i -> acc.st[i] * s.g[i]), (a, b) -> a + b) + acc.st[17]) <= 0
        |               THEN s.y * (CASE WHEN idx <= 16 THEN s.g[idx] ELSE 1 END)
        |               ELSE 0 END),
        |        g := CAST(NULL AS BIGINT[]), y := CAST(NULL AS BIGINT))).st AS w
        |  FROM percls),
        |y AS MATERIALIZED (
        |  SELECT gl.doc_id, t.out_idx,
        |    list_reduce(list_transform(range(1, 17), i -> t.w[i] * gl.g[i]),
        |      (a, b) -> a + b) + t.w[17] AS yv
        |  FROM gl CROSS JOIN w2t t),
        |q AS (SELECT out_idx, yv FROM y WHERE doc_id = 5),
        |dists AS (
        |  SELECT y.doc_id, sum((y.yv - q.yv) * (y.yv - q.yv)) AS dist
        |  FROM y JOIN q USING (out_idx) GROUP BY y.doc_id)
        |SELECT d.doc_id AS vec_id, CAST(d.dist AS BIGINT) AS dist
        |FROM dists d JOIN base b ON b.doc_id = d.doc_id
        |WHERE b.lang = 'en'
        |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // width/height mirror Multimodal.stubDecode; sha over the utf8 bytes
    "multimodal_ingest" ->
      """SELECT doc_id AS media_id, sha256(text) AS content_sha,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(CAST(text AS BLOB)) % 1024 AS BIGINT) AS width,
        | CAST((octet_length(CAST(text AS BLOB)) * 7) % 768 AS BIGINT) AS height,
        | 'application/x-' || lang AS mime
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "multimodal_embed" ->
      """SELECT doc_id AS media_id, d.dim AS dim,
        | (CAST('0x'||substr(md5(sha256(text) || '_' || d.dim), 1, 15) AS BIGINT) % 2001) - 1000 AS w
        |FROM documents CROSS JOIN range(8) d(dim)""".stripMargin,

    "events_sessionize" ->
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
        |  FROM g)
        |SELECT user_id, sess_idx, count(*) AS n_events,
        |  epoch_us(min(ts)) // 1000000 AS sess_start,
        |  epoch_us(max(ts)) // 1000000 AS sess_end
        |FROM sess GROUP BY user_id, sess_idx""".stripMargin
  )
}
