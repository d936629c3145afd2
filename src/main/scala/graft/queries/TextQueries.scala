package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** §2.B7–B10 — text analysis for training-data curation; every score is deterministic
  * integer-scaled arithmetic so the DuckDB oracle hash-matches. */
/** Shared language-ID / quality-score fragments (both dialects). */
private[graft] object TextScoring {
  // marker tokens per language for the n-gram/marker language-ID heuristic
  val EnMarkers = Seq("the", "a", "data")
  val ZhMarkers = Seq("table", "row")
  val EsMarkers = Seq("query", "scan")
  def inList(v: String, ms: Seq[String]) = ms.map(m => s"$v = '$m'").mkString("(", " OR ", ")")

  val Stopwords = Seq("the", "a", "of", "and")

  /** language scores over `tk` — (expr, alias) per language, Spark/DuckDB. */
  def sLangScores: Seq[String] = Seq(
    s"CAST(size(filter(tk, x -> ${inList("x", EnMarkers)})) AS BIGINT) AS en_score",
    s"CAST(size(filter(tk, x -> ${inList("x", ZhMarkers)})) AS BIGINT) AS zh_score",
    s"CAST(size(filter(tk, x -> ${inList("x", EsMarkers)})) AS BIGINT) AS es_score")
  def dLangScores: Seq[String] = Seq(
    s"CAST(len(list_filter(tk, x -> ${inList("x", EnMarkers)})) AS BIGINT) AS en_score",
    s"CAST(len(list_filter(tk, x -> ${inList("x", ZhMarkers)})) AS BIGINT) AS zh_score",
    s"CAST(len(list_filter(tk, x -> ${inList("x", EsMarkers)})) AS BIGINT) AS es_score")

  /** argmax with fixed tie order — identical string in both dialects. */
  val LangPred =
    """CASE WHEN en_score >= zh_score AND en_score >= es_score THEN 'en'
      |     WHEN zh_score >= es_score THEN 'zh' ELSE 'es' END""".stripMargin

  /** quality inputs over `tk`/`text`/`n_chars` — Spark/DuckDB. */
  def sQualityInputs: Seq[String] = Seq(
    "CAST(size(tk) AS BIGINT) AS ntok",
    "CAST(size(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT) AS punct",
    s"CAST(size(filter(tk, x -> ${inList("x", Stopwords)})) AS BIGINT) AS stop",
    "aggregate(tk, CAST(0 AS BIGINT), (acc, x) -> acc + length(x)) AS totchars")
  def dQualityInputs: Seq[String] = Seq(
    "CAST(len(tk) AS BIGINT) AS ntok",
    "CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct",
    s"CAST(len(list_filter(tk, x -> ${inList("x", Stopwords)})) AS BIGINT) AS stop",
    "CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) AS totchars")

  /** all-integer combined score ∈ [0, 10⁴] over the quality inputs. */
  def qualityExpr(div: String): String =
    s"""( (5 * least(n_chars, 500))
       |+ ((2500 * (ntok - least(punct, ntok))) $div ntok)
       |+ (least(5000 * stop, 2500 * ntok) $div ntok)
       |+ (least(2500 * totchars, 20000 * ntok) $div (8 * ntok)) )""".stripMargin
}

object TextQueries {
  import TextScoring._

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  // dialect fragments — single sources: operators.Dedup (Spark), DuckDialect (oracle)
  private val sTok = graft.operators.Dedup.TokExpr
  private val dTok = DuckDialect.Tok
  private def sH(v: String) = graft.operators.Dedup.hashExpr(v)
  private def dH(v: String) = DuckDialect.hash(v)

  // BPE-ish pieces: letter runs, digit runs, single non-alnum non-space
  private val sBpe = "size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))"
  private val dBpe = """len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B34: BPE-style pair counting — the distributed primitive of
    // tokenizer TRAINING (each BPE iteration asks "which adjacent token
    // pair is globally most frequent?"; the driver applies the argmax
    // merge and re-runs — this entry is one such iteration over the
    // corpus). Scale shape: a narrow transform+explode (one pair row per
    // adjacent token), ONE map-side-combined shuffle keyed by pair, then
    // TakeOrdered top-20 — no global sort, no driver-side token loop.
    // (n desc, pair asc) breaks boundary ties identically in both engines.
    "bpe_pair_counts" -> ((s, dir) =>
      docs(s, dir).selectExpr("doc_id", s"$sTok AS tk")
        .where("size(tk) > 1")
        .selectExpr("explode(transform(sequence(0, size(tk) - 2), " +
          "i -> concat(element_at(tk, i + 1), ' ', element_at(tk, i + 2)))) AS pair")
        .groupBy("pair").count().withColumnRenamed("count", "n")
        .orderBy(org.apache.spark.sql.functions.col("n").desc,
          org.apache.spark.sql.functions.col("pair").asc)
        .limit(20)),

    // B34b: the BPE training LOOP
    "bpe_train" -> ((s, dir) => {
      val merges = graft.operators.Bpe.trainedMerges(docs(s, dir), dir)
      val mergeRows = s.createDataFrame(
          merges.zipWithIndex.map { case (m, i) =>
            ("merge", (i + 1).toLong, m.l, m.r, m.n)
          }.toIndexedSeq)
        .toDF("kind", "i", "l", "r", "n")
      val vocab = graft.operators.Bpe.applyMerges(docs(s, dir), merges)
        .selectExpr("freq", "explode(syms) AS sym")
        .groupBy("sym").agg(org.apache.spark.sql.functions.sum("freq").as("n"))
        .orderBy(org.apache.spark.sql.functions.col("n").desc,
          org.apache.spark.sql.functions.col("sym").asc)
        .limit(10)
        .selectExpr("'vocab' AS kind", "CAST(0 AS BIGINT) AS i",
          "sym AS l", "'' AS r", "n")
      mergeRows.unionByName(vocab)
    }),

    // B34d: BATCHED training at production iteration shape
    "bpe_train_batched" -> ((s, dir) => {
      val merges = graft.operators.Bpe.trainedBatched(docs(s, dir), dir)
      val mergeRows = s.createDataFrame(
          merges.map(m => ("merge", m.scan.toLong, m.idx.toLong, m.l, m.r, m.n))
            .toIndexedSeq)
        .toDF("kind", "scan", "i", "l", "r", "n")
      val vocab = graft.operators.Bpe
        .applyMergeRules(docs(s, dir), merges.map(m => (m.l, m.r)))
        .selectExpr("freq", "explode(syms) AS sym")
        .groupBy("sym").agg(org.apache.spark.sql.functions.sum("freq").as("n"))
        .orderBy(org.apache.spark.sql.functions.col("n").desc,
          org.apache.spark.sql.functions.col("sym").asc)
        .limit(10)
        .selectExpr("'vocab' AS kind", "CAST(0 AS BIGINT) AS scan",
          "CAST(0 AS BIGINT) AS i", "sym AS l", "'' AS r", "n")
      mergeRows.unionByName(vocab)
    }),

    // B34e: end-of-word-marked training (Sennrich §3.2)
    "bpe_train_eow" -> ((s, dir) => {
      val merges = graft.operators.Bpe.trainedMergesEow(docs(s, dir), dir)
      val mergeRows = s.createDataFrame(
          merges.zipWithIndex.map { case (m, i) =>
            ("merge", (i + 1).toLong, m.l, m.r, m.n)
          }.toIndexedSeq)
        .toDF("kind", "i", "l", "r", "n")
      val vocab = graft.operators.Bpe
        .applyMergeRules(docs(s, dir), merges.map(m => (m.l, m.r)), eow = true)
        .selectExpr("freq", "explode(syms) AS sym")
        .groupBy("sym").agg(org.apache.spark.sql.functions.sum("freq").as("n"))
        .orderBy(org.apache.spark.sql.functions.col("n").desc,
          org.apache.spark.sql.functions.col("sym").asc)
        .limit(10)
        .selectExpr("'vocab' AS kind", "CAST(0 AS BIGINT) AS i",
          "sym AS l", "'' AS r", "n")
      mergeRows.unionByName(vocab)
    }),

    // B34f: the apply path under the BATCHED-trained vocabulary
    "bpe_encode_batched" -> ((s, dir) => {
      val rules = graft.operators.Bpe.trainedBatched(docs(s, dir), dir)
        .map(m => (m.l, m.r))
      docs(s, dir).selectExpr("doc_id", s"explode($sTok) AS word")
        .join(graft.operators.Bpe.applyMergeRules(docs(s, dir), rules)
          .selectExpr("word", "CAST(size(syms) AS BIGINT) AS n_sym"), "word")
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_ws"),
          org.apache.spark.sql.functions.sum("n_sym").as("n_bpe"))
    }),

    // B34c: the tokenizer-APPLY path
    "bpe_encode" -> ((s, dir) =>
      docs(s, dir).selectExpr("doc_id", s"explode($sTok) AS word")
        .join(graft.operators.Bpe.wordSymLens(docs(s, dir), dir), "word")
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_ws"),
          org.apache.spark.sql.functions.sum("n_sym").as("n_bpe"))),

    // B7: language-ID via marker-token scoring, argmax with fixed tie order
    "text_langid" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "lang", s"$sTok AS tk")
        .selectExpr(Seq("doc_id", "lang") ++ sLangScores: _*)
        .selectExpr("doc_id", "lang", "en_score", "zh_score", "es_score",
          s"$LangPred AS pred")),

    // B8: quality scoring — length, punctuation ratio, stopword ratio,
    // mean word length, combined into a [0,1] score (scaled ×10⁴).
    // All-integer (each term ∈ [0, 2500]; integer division keeps both
    // engines bit-identical — no fp .5 boundaries).
    "text_quality" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "n_chars", "text", s"$sTok AS tk")
        .selectExpr(Seq("doc_id", "n_chars") ++ sQualityInputs: _*)
        .selectExpr("doc_id", "ntok", "punct", "stop",
          s"${qualityExpr("div")} AS quality")),

    // B9: token counting — whitespace tokens + BPE-ish regex pieces
    "text_tokens" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id",
          s"CAST(size($sTok) AS BIGINT) AS n_ws",
          s"CAST($sBpe AS BIGINT) AS n_bpe")),

    // B22: within-document repetition score
    "text_repetition" -> ((s, dir) =>
      docs(s, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          graft.functions.text.shingles(
            org.apache.spark.sql.functions.expr(sTok), 3).as("sh"))
        .filter(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("sh")) > 0)
        .selectExpr("doc_id",
          "CAST(size(sh) AS BIGINT) AS n_sh",
          "CAST(size(array_distinct(sh)) AS BIGINT) AS n_uniq")
        .selectExpr("doc_id", "n_sh", "n_uniq",
          "((n_sh - n_uniq) * 1000000) div n_sh AS rep")),

    // B26: corpus-frequency rarity scoring
    "text_rarity" -> ((s, dir) => {
      val toks = docs(s, dir)
        .selectExpr("doc_id", s"$sTok AS tk")
        .filter(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("tk")) > 0)
        .selectExpr("doc_id", "explode(tk) AS tok")
      val vocab = toks.groupBy("tok")
        .agg(org.apache.spark.sql.functions.expr("count(*) AS cnt"))
        .selectExpr("tok", "CAST(64 - length(bin(cnt)) AS BIGINT) AS rar")
      toks.join(org.apache.spark.sql.functions.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.expr("sum(rar) AS rsum"),
          org.apache.spark.sql.functions.expr("count(*) AS ntok"))
        .selectExpr("doc_id", "rsum", "ntok", "(rsum * 10000) div ntok AS rarity")
    }),

    // B37: bigram-LM surprisal score
    "text_bigram_lm" -> ((s, dir) => {
      // (r18: a scan spread was A/B-measured here and REJECTED — flat at
      // ~1.45 s: the broadcast model joins dominate, not the explode)
      val bg = docs(s, dir)
        .selectExpr("doc_id", s"$sTok AS tk")
        .filter(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("tk")) >= 2)
        .selectExpr("doc_id",
          "explode(transform(sequence(1, size(tk) - 1), " +
            "i -> struct(tk[i - 1] AS a, tk[i] AS b))) AS p")
        .selectExpr("doc_id", "p.a AS a", "p.b AS b")
      val c2 = bg.groupBy("a", "b")
        .agg(org.apache.spark.sql.functions.expr("count(*) AS c2"))
      val c1 = c2.groupBy("a")
        .agg(org.apache.spark.sql.functions.expr("CAST(sum(c2) AS BIGINT) AS ctx"))
      bg.join(org.apache.spark.sql.functions.broadcast(c2), Seq("a", "b"))
        .join(org.apache.spark.sql.functions.broadcast(c1), Seq("a"))
        .selectExpr("doc_id", "CAST(length(bin(ctx div c2)) - 1 AS BIGINT) AS bits")
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.expr("CAST(sum(bits) AS BIGINT) AS bsum"),
          org.apache.spark.sql.functions.expr("count(*) AS nbg"))
        .selectExpr("doc_id", "bsum", "nbg", "(bsum * 10000) div nbg AS surprisal")
    }),

    // B32: token-distribution drift between two corpus slices — the
    // DISTRIBUTION-shift monitor (rarity watches per-doc novelty, drift
    // watches embedding space; this watches the vocabulary itself): exact
    // total-variation distance between the 'en' and 'fr' slices' unigram
    // distributions, plus the top-15 most-divergent tokens. All integer:
    // per-token ppm shares are floor divisions of non-negative counts, TV
    // = Σ|p−q| div 2. Shape: ONE narrow tokenize+explode feeds one
    // (token)-keyed hash aggregate with conditional partial sums (the
    // shuffle carries one row per distinct token per partition, never the
    // token stream); slice totals and the TV sum are single-row broadcast
    // joins; top-15 via TakeOrdered. At 100 TB: identical — token-keyed
    // partial aggregation is the canonical scalable shape.
    "vocab_tv_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tc = docs(s, dir)
        .filter(col("lang").isin("en", "fr"))
        .selectExpr("lang", s"$sTok AS tk")
        .selectExpr("lang", "explode(tk) AS tok")
        .groupBy("tok")
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
          sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("cb"))
      val tot = tc.agg(sum("ca").as("ta"), sum("cb").as("tb"))
      val ppm = tc.crossJoin(broadcast(tot))
        .selectExpr("tok", "(ca * 1000000) div ta AS p_ppm", "(cb * 1000000) div tb AS q_ppm")
        .selectExpr("tok", "p_ppm", "q_ppm", "abs(p_ppm - q_ppm) AS d_ppm")
      val tv = ppm.agg(expr("sum(d_ppm) div 2").as("tv_ppm"))
      ppm.crossJoin(broadcast(tv))
        .orderBy(col("d_ppm").desc, col("tok").asc)
        .limit(15)
    }),

    // B10: document fingerprint
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"$sTok AS tk")
        .selectExpr("doc_id",
          s"${sH("concat_ws(' ', array_sort(array_distinct(tk)))")} AS fp")
        .groupBy("fp")
        .agg(org.apache.spark.sql.functions.expr("min(doc_id) AS first_doc"),
          org.apache.spark.sql.functions.expr("count(*) AS n")))
  )

  val oracle: Map[String, String] = Map(
    "bpe_train_batched" -> {
      val (sc, m, c) = (graft.operators.Bpe.BatchScans,
        graft.operators.Bpe.BatchM, graft.operators.Bpe.BatchC)
      val mergeSelects = (1 to sc).map(s =>
        s"""SELECT 'merge' AS kind, CAST($s AS BIGINT) AS scan, m.bi AS i,
           |  m.l, m.r, p.n FROM m$s m JOIN p$s p USING (l, r)""".stripMargin)
      s"""WITH ${DuckDialect.bpeBatchChain(sc, m, c)}
         |${mergeSelects.mkString("\nUNION ALL\n")}
         |UNION ALL
         |SELECT 'vocab' AS kind, CAST(0 AS BIGINT) AS scan,
         |  CAST(0 AS BIGINT) AS i, sym AS l, '' AS r, n
         |FROM (SELECT sym, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, unnest(syms) AS sym FROM t${sc}_$m)
         |  GROUP BY sym ORDER BY n DESC, sym ASC LIMIT 10)""".stripMargin
    },

    "bpe_encode_batched" -> {
      val (sc, m, c) = (graft.operators.Bpe.BatchScans,
        graft.operators.Bpe.BatchM, graft.operators.Bpe.BatchC)
      s"""WITH ${DuckDialect.bpeBatchChain(sc, m, c)},
         |wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sym FROM t${sc}_$m),
         |dw AS (SELECT doc_id, unnest($dTok) AS word FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws,
         |  CAST(sum(n_sym) AS BIGINT) AS n_bpe
         |FROM dw JOIN wl USING (word) GROUP BY doc_id""".stripMargin
    },

    "bpe_train_eow" -> {
      val iters = graft.operators.Bpe.DefaultIters
      val mergeSelects = (1 to iters).map(i =>
        s"SELECT 'merge' AS kind, CAST($i AS BIGINT) AS i, l, r, n FROM m$i")
      s"""WITH ${DuckDialect.bpeChain(iters, eow = true)}
         |${mergeSelects.mkString("\nUNION ALL\n")}
         |UNION ALL
         |SELECT 'vocab' AS kind, CAST(0 AS BIGINT) AS i, sym AS l, '' AS r, n
         |FROM (SELECT sym, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, unnest(syms) AS sym FROM s$iters)
         |  GROUP BY sym ORDER BY n DESC, sym ASC LIMIT 10)""".stripMargin
    },

    "bpe_train" -> {
      val iters = graft.operators.Bpe.DefaultIters
      val mergeSelects = (1 to iters).map(i =>
        s"SELECT 'merge' AS kind, CAST($i AS BIGINT) AS i, l, r, n FROM m$i")
      s"""WITH ${DuckDialect.bpeChain(iters)}
         |${mergeSelects.mkString("\nUNION ALL\n")}
         |UNION ALL
         |SELECT 'vocab' AS kind, CAST(0 AS BIGINT) AS i, sym AS l, '' AS r, n
         |FROM (SELECT sym, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, unnest(syms) AS sym FROM s$iters)
         |  GROUP BY sym ORDER BY n DESC, sym ASC LIMIT 10)""".stripMargin
    },

    "bpe_encode" -> {
      val iters = graft.operators.Bpe.DefaultIters
      s"""WITH ${DuckDialect.bpeChain(iters)},
         |wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sym FROM s$iters),
         |dw AS (SELECT doc_id, unnest($dTok) AS word FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws,
         |  CAST(sum(n_sym) AS BIGINT) AS n_bpe
         |FROM dw JOIN wl USING (word) GROUP BY doc_id""".stripMargin
    },

    "bpe_pair_counts" ->
      s"""WITH t AS (SELECT $dTok AS tk FROM documents),
         |p AS (SELECT unnest(list_transform(range(len(tk) - 1),
         |        i -> tk[i + 1] || ' ' || tk[i + 2])) AS pair
         |      FROM t WHERE len(tk) > 1)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p
         |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $dTok AS tk FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  ${dLangScores.mkString(",\n  ")}
         |  FROM t)
         |SELECT doc_id, lang, en_score, zh_score, es_score,
         |  $LangPred AS pred
         |FROM sc""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, n_chars, text, $dTok AS tk FROM documents),
         |m AS (SELECT doc_id, n_chars,
         |  ${dQualityInputs.mkString(",\n  ")}
         |  FROM t)
         |SELECT doc_id, ntok, punct, stop,
         |  ${qualityExpr("//")} AS quality
         |FROM m""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($dTok) AS BIGINT) AS n_ws,
         |  CAST($dBpe AS BIGINT) AS n_bpe
         |FROM documents""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $dTok AS tk FROM documents),
         |r AS (SELECT doc_id, ${DuckDialect.ShinglesRaw} AS sh
         |      FROM t WHERE len(tk) >= 3)
         |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh,
         |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_uniq,
         |  ((CAST(len(sh) AS BIGINT) - CAST(len(list_distinct(sh)) AS BIGINT)) * 1000000)
         |    // CAST(len(sh) AS BIGINT) AS rep
         |FROM r""".stripMargin,

    "vocab_tv_drift" ->
      s"""WITH t AS (SELECT lang, $dTok AS tk FROM documents WHERE lang IN ('en', 'fr')),
         |e AS (SELECT lang, unnest(tk) AS tok FROM t),
         |tc AS (SELECT tok,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM e GROUP BY tok),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb FROM tc),
         |ppm AS (SELECT tok, (ca * 1000000) // ta AS p_ppm, (cb * 1000000) // tb AS q_ppm
         |  FROM tc, tot),
         |d AS (SELECT tok, p_ppm, q_ppm, abs(p_ppm - q_ppm) AS d_ppm FROM ppm),
         |tv AS (SELECT CAST(sum(d_ppm) // 2 AS BIGINT) AS tv_ppm FROM d)
         |SELECT tok, p_ppm, q_ppm, d_ppm, tv_ppm FROM d, tv
         |ORDER BY d_ppm DESC, tok LIMIT 15""".stripMargin,

    "text_rarity" ->
      s"""WITH t AS (SELECT doc_id, $dTok AS tk FROM documents),
         |e AS (SELECT doc_id, unnest(tk) AS tok FROM t WHERE len(tk) > 0),
         |v AS (SELECT tok, count(*) AS cnt FROM e GROUP BY 1),
         |r AS (SELECT tok, CAST(64 - length(bin(cnt)) AS BIGINT) AS rar FROM v)
         |SELECT e.doc_id, CAST(sum(r.rar) AS BIGINT) AS rsum,
         |  CAST(count(*) AS BIGINT) AS ntok,
         |  (CAST(sum(r.rar) AS BIGINT) * 10000) // count(*) AS rarity
         |FROM e JOIN r USING (tok) GROUP BY e.doc_id""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $dTok AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
         |  FROM t, unnest(range(1, len(tk))) r(i) WHERE len(tk) >= 2),
         |c2 AS (SELECT a, b, count(*) AS c2 FROM bg GROUP BY a, b),
         |c1 AS (SELECT a, sum(c2) AS ctx FROM c2 GROUP BY a),
         |sc AS (SELECT g.doc_id,
         |    CAST(length(bin(c1.ctx // c2.c2)) - 1 AS BIGINT) AS bits
         |  FROM bg g JOIN c2 ON g.a = c2.a AND g.b = c2.b JOIN c1 ON g.a = c1.a)
         |SELECT doc_id, CAST(sum(bits) AS BIGINT) AS bsum,
         |  CAST(count(*) AS BIGINT) AS nbg,
         |  CAST((sum(bits) * 10000) // count(*) AS BIGINT) AS surprisal
         |FROM sc GROUP BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $dTok AS tk FROM documents),
         |f AS (SELECT doc_id,
         |  ${dH("array_to_string(list_sort(list_distinct(tk)), ' ')")} AS fp FROM t)
         |SELECT fp, min(doc_id) AS first_doc, count(*) AS n FROM f GROUP BY fp""".stripMargin
  )
}
