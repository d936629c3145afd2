package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.scaled
import graft.operators.{Knn, MetaPredicate}

/** §2.A — the reference's hybrid-vector-search surface (metadata predicates, exact and
  * filtered kNN). */
object SearchQueries {

  private def emb(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")
  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  /** corpus minus the query row, projected to (vec_id, embedding) */
  private def corpusExcl(s: SparkSession, dir: String, qid: Int): DataFrame =
    emb(s, dir).filter(col("vec_id") =!= qid).select("vec_id", "embedding")

  private def queryVec(s: SparkSession, dir: String, qid: Int): DataFrame =
    emb(s, dir).filter(col("vec_id") === qid).select(col("embedding").as("q_vec"))

  // shared SQL fragments for the DuckDB oracle
  private def cosSql(a: String, b: String) =
    s"CAST(floor(list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) * 10000 + 0.5) AS BIGINT)"
  private def l2Sql(a: String, b: String) =
    s"CAST(floor(list_distance(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) * 10000 + 0.5) AS BIGINT)"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: survey_metadata.py — value-frequency distribution of one key
    "meta_survey_lang" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(count(lit(1)).as("n"))),

    // A2: second key + selectivity share (drives query-class design)
    "meta_survey_source" -> ((s, dir) => {
      val d = docs(s, dir)
      val byKey = d.groupBy("source").agg(count(lit(1)).as("n"))
      val total = d.select(count(lit(1)).as("total"))
      byKey.crossJoin(broadcast(total))
        .select(col("source"), col("n"),
          scaled(col("n") / col("total"), 6).as("share"))
    }),

    // A3: exact-match predicate
    "meta_filter_exact" -> ((s, dir) =>
      docs(s, dir)
        .filter(MetaPredicate("lang" -> ("exact", "en")))
        .select("doc_id", "source", "n_chars")),

    // A4: substring predicate (two conjoined, like query_metadata_class_2_1)
    "meta_filter_substring" -> ((s, dir) =>
      docs(s, dir)
        .filter(MetaPredicate("text" -> ("substring", "spark"), "source" -> ("substring", "src1")))
        .select("doc_id", "lang", "n_chars")),

    // A5: numeric range ops (< > leq geq)
    "meta_filter_numeric" -> ((s, dir) =>
      docs(s, dir)
        .filter(MetaPredicate(
          "n_chars" -> ("geq", 150), "n_chars" -> ("<", 300),
          "doc_id" -> (">", 10), "doc_id" -> ("leq", 400)))
        .select("doc_id", "n_chars")),

    // A7: brute-force cosine top-k
    "knn_exact_cosine" -> ((s, dir) =>
      Knn.topK(corpusExcl(s, dir, 0), queryVec(s, dir, 0), 10, Knn.Cosine)
        .select("vec_id", "score")),

    // A7b: inner-product space (hnswlib space='ip')
    "knn_exact_dot" -> ((s, dir) =>
      Knn.topK(corpusExcl(s, dir, 0), queryVec(s, dir, 0), 10, Knn.Dot)
        .select("vec_id", "score")),

    // A8: pre-filter search — metadata first, exact kNN on survivors
    "prefilter_knn" -> ((s, dir) =>
      Knn.prefilterKnn(
        corpusExcl(s, dir, 1), docs(s, dir),
        MetaPredicate("lang" -> ("exact", "en"), "n_chars" -> ("<", 300)),
        queryVec(s, dir, 1), 10, Knn.Cosine)
        .select("vec_id", "score")),

    // A8b: the reference's user-facing result shape
    "knn_with_metadata" -> ((s, dir) =>
      Knn.prefilterKnn(
        corpusExcl(s, dir, 1), docs(s, dir),
        MetaPredicate("lang" -> ("exact", "en")),
        queryVec(s, dir, 1), 5, Knn.Cosine)
        .select("vec_id", "score")
        .join(docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
          col("n_chars")), col("vec_id") === col("doc_id"))
        .select("vec_id", "score", "lang", "source", "n_chars")),

    // A9: post-filter search — vector top-largeK, then filter, then top-k
    "postfilter_knn" -> ((s, dir) =>
      Knn.postfilterKnn(
        corpusExcl(s, dir, 2), docs(s, dir),
        MetaPredicate("lang" -> ("exact", "en")),
        queryVec(s, dir, 2), 5, 50, Knn.Cosine)
        .select("vec_id", "score")),

    // A22: radius (range) search — every vector within the L2 threshold;
    // pure map shape, no top-k merge, no boundary ties
    "knn_radius" -> ((s, dir) =>
      Knn.radius(corpusExcl(s, dir, 0), queryVec(s, dir, 0), 12500L, Knn.L2)
        .select("vec_id", "score")),

    // A12: batch kNN — top-k per query over a broadcast query set
    "knn_batch" -> ((s, dir) => {
      val queries = emb(s, dir).filter(col("vec_id") <= 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Knn.batchKnn(emb(s, dir).select("vec_id", "embedding"), queries, 3, Knn.Cosine)
    }),

    // B30: hard-negative mining for contrastive training
    "hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
        .join(docs(s, dir).select(col("doc_id"), col("lang")),
          col("vec_id") === col("doc_id"))
      val anchors = e.filter(col("vec_id") <= 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("lang").as("q_lang"))
      e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("q_id") && col("lang") =!= col("q_lang"))
        .withColumn("score", scaled(Knn.Cosine.score(col("embedding"), col("q_vec")), Knn.ScoreDigits))
        .groupBy("q_id")
        .agg(graft.functions.aggs.topK(col("score"), col("vec_id"), 5, asc = false).as("hits"))
        .select(col("q_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
        .select(col("q_id"), col("hit.id").as("vec_id"),
          (col("pos") + 1).cast("long").as("rank"), col("hit.score").as("score"))
    })
  )

  val oracle: Map[String, String] = Map(
    "meta_survey_lang" ->
      "SELECT lang, count(*) AS n FROM documents GROUP BY lang",

    "meta_survey_source" ->
      """SELECT source, count(*) AS n,
        | CAST(floor((count(*) * 1.0 / (SELECT count(*) FROM documents)) * 1000000.0 + 0.5) AS BIGINT) AS share
        |FROM documents GROUP BY source""".stripMargin,

    "meta_filter_exact" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE lang IS NOT NULL AND lang = 'en'",

    "meta_filter_substring" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE text IS NOT NULL AND position('spark' IN text) > 0
        |  AND source IS NOT NULL AND position('src1' IN source) > 0""".stripMargin,

    "meta_filter_numeric" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars IS NOT NULL AND n_chars >= 150 AND n_chars < 300
        |  AND doc_id IS NOT NULL AND doc_id > 10 AND doc_id <= 400""".stripMargin,

    "knn_exact_cosine" ->
      s"""SELECT e.vec_id, ${cosSql("e.embedding", "q.embedding")} AS score
         |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0 ORDER BY score DESC, e.vec_id ASC LIMIT 10""".stripMargin,

    "knn_exact_dot" ->
      s"""SELECT e.vec_id,
         | CAST(floor(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score
         |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0 ORDER BY score DESC, e.vec_id ASC LIMIT 10""".stripMargin,

    "prefilter_knn" ->
      s"""SELECT e.vec_id, ${cosSql("e.embedding", "q.embedding")} AS score
         |FROM embeddings e
         |JOIN documents d ON d.doc_id = e.vec_id
         |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 1) q
         |WHERE e.vec_id <> 1
         |  AND d.lang IS NOT NULL AND d.lang = 'en'
         |  AND d.n_chars IS NOT NULL AND d.n_chars < 300
         |ORDER BY score DESC, e.vec_id ASC LIMIT 10""".stripMargin,

    "knn_with_metadata" ->
      s"""WITH hits AS (
         |  SELECT e.vec_id, ${cosSql("e.embedding", "q.embedding")} AS score
         |  FROM embeddings e
         |  JOIN documents d ON d.doc_id = e.vec_id
         |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 1) q
         |  WHERE e.vec_id <> 1 AND d.lang IS NOT NULL AND d.lang = 'en'
         |  ORDER BY score DESC, e.vec_id ASC LIMIT 5)
         |SELECT h.vec_id, h.score, d.lang, d.source, d.n_chars
         |FROM hits h JOIN documents d ON d.doc_id = h.vec_id""".stripMargin,

    "postfilter_knn" ->
      s"""WITH cand AS (
         |  SELECT e.vec_id AS vec_id, ${cosSql("e.embedding", "q.embedding")} AS score
         |  FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 2) q
         |  WHERE e.vec_id <> 2 ORDER BY score DESC, e.vec_id ASC LIMIT 50
         |)
         |SELECT c.vec_id, c.score FROM cand c
         |JOIN documents d ON d.doc_id = c.vec_id
         |WHERE d.lang IS NOT NULL AND d.lang = 'en'
         |ORDER BY c.score DESC, c.vec_id ASC LIMIT 5""".stripMargin,

    "knn_radius" ->
      s"""SELECT e.vec_id, ${l2Sql("e.embedding", "q.embedding")} AS score
         |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |  AND ${l2Sql("e.embedding", "q.embedding")} < 12500""".stripMargin,

    "knn_batch" ->
      s"""SELECT q_id, vec_id, rank, score FROM (
         |  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("e.embedding", "q.embedding")} DESC, e.vec_id ASC) AS BIGINT) AS rank,
         |    ${cosSql("e.embedding", "q.embedding")} AS score
         |  FROM embeddings e CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id <= 4) q
         |  WHERE e.vec_id <> q.vec_id
         |) WHERE rank <= 3""".stripMargin,

    "hard_negatives" ->
      s"""SELECT q_id, vec_id, rank, score FROM (
         |  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |    CAST(row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("e.embedding", "q.embedding")} DESC, e.vec_id ASC) AS BIGINT) AS rank,
         |    ${cosSql("e.embedding", "q.embedding")} AS score
         |  FROM embeddings e
         |  JOIN documents d ON e.vec_id = d.doc_id
         |  CROSS JOIN (SELECT q0.vec_id, q0.embedding, d0.lang
         |              FROM embeddings q0 JOIN documents d0 ON q0.vec_id = d0.doc_id
         |              WHERE q0.vec_id <= 4) q
         |  WHERE e.vec_id <> q.vec_id AND d.lang <> q.lang
         |) WHERE rank <= 5""".stripMargin
  )
}
