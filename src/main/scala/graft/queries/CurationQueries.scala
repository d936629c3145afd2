package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.aggs
import graft.operators.{Dedup, Pq}

/** §2.B13–B15 — corpus-curation operators a training-data pipeline runs between dedup
  * and training. */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  private val dTok = DuckDialect.Tok
  private def dH(v: String) = DuckDialect.hash(v)
  private val dShingles = DuckDialect.Shingles
  private def sH(v: String) = Dedup.hashExpr(v)
  private val sTok = Dedup.TokExpr

  /** B13: vocabulary size cutoff — the boundary tie is broken by token text
    * so both engines pick the identical top set. */
  private val VocabTopK = 20

  /** B15: minimum shared (hashed, per-doc-distinct) 3-gram shingles with the benchmark split. */
  private[queries] val MinSharedShingles = 5
  private[queries] val BenchmarkSource = "src0"

  /** B21: quality-gate threshold. */
  private[queries] val MinQuality = 5500L
  private val QuotaPerSource = 10

  /** B27: tokens per packed training sequence. */
  private val SeqLen = 64L
  private val PackBucketSpan = 32L

  /** B39: weighted-sample size. */
  private val WeightedSampleK = 100

  /** B40: stratified-sample size. */
  private val StratSampleK = 50

  /** B28: semantic-decontamination cosine threshold ×10⁴. */
  private val SemTauScaled = 3000L
  private val SemNumPlanes = 4
  private val SemDims = 64

  /** B27's distributed exclusive prefix-sum of per-doc token counts in ascending doc_id order. */
  private[graft] def packOffsets(s: SparkSession, nt: DataFrame,
                                 span: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = nt.groupBy(expr(s"doc_id div $span").as("b"))
      .agg(sum("n").as("bn"))
      .withColumn("sb", expr(s"b div $span"))
    val superSub = sub.groupBy("sb").agg(sum("bn").as("sbn"))
      .orderBy("sb").collect().map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val sbases = superSub.map { case (sb, sbn) => val r = (sb, acc); acc += sbn; r }
    val sbaseDf = s.createDataFrame(sbases.toIndexedSeq).toDF("sb", "sbase")
    val wb = Window.partitionBy("sb").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val baseDf = sub.withColumn("cumb", sum("bn").over(wb))
      .join(broadcast(sbaseDf), "sb")
      .selectExpr("b", "sbase + cumb - bn AS base")
    val w = Window.partitionBy("b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nt.withColumn("b", expr(s"doc_id div $span"))
      .withColumn("cum", sum("n").over(w))
      .join(baseDf, "b")
      .selectExpr("doc_id", "n", "base + cum - n AS off")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B13: top-K token vocabulary with counts (tokenizer-vocab extraction)
    "text_vocab" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr(s"explode($sTok) AS tok")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(VocabTopK)),

    // B14: deterministic mixture sampling
    "sample_mixture" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "source",
          "10 + (CAST(substring(source, 4) AS BIGINT) * 7) % 80 AS rate",
          s"${sH("concat('smp', CAST(doc_id AS STRING))")} % 100 AS bucket")
        .filter(col("bucket") < col("rate"))),

    // B14b: temperature-scaled mixture weights — the multilingual sampling
    // rule (exponent-smoothed language weights, α = 1/2: w_l ∝ n_l^α, the
    // XLM-R/mT5 upsampling family): per-language token counts feed an
    // integer-exact isqrt (floor of an IEEE sqrt over an exactly-
    // representable BIGINT — bit-identical in any engine), normalized to
    // parts-per-million by integer division. Languages are a bounded
    // dimension, so this is one map-side-combined aggregate + a broadcast
    // scalar at any corpus size; the emitted w_ppm column IS the sampling
    // rate `sample_mixture`-style deterministic filters consume.
    "mixture_temperature" -> ((s, dir) => {
      val n = docs(s, dir)
        .selectExpr("lang", s"CAST(size($sTok) AS BIGINT) AS ntok")
        .groupBy("lang").agg(sum("ntok").as("n_tok"))
        .selectExpr("lang", "n_tok",
          "CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS s")
      n.crossJoin(broadcast(n.agg(sum("s").as("ts"))))
        .selectExpr("lang", "n_tok", "s", "(s * 1000000) div ts AS w_ppm")
    }),

    // B16: PII-style scrub
    "pii_scrub" -> ((s, dir) =>
      Tables(s, dir, "events").selectExpr("event_id",
        "regexp_replace(props, '[0-9]+', '#') AS scrubbed",
        "CAST(size(regexp_extract_all(props, '[0-9]+', 0)) AS BIGINT) AS n_redacted")),

    // B17: deterministic per-group quota sampling
    "sample_group_topk" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("source", "doc_id",
          s"${sH("concat('qta', CAST(doc_id AS STRING))")} AS h")
        .groupBy("source")
        .agg(aggs.topK(col("h"), col("doc_id"), 10, asc = true).as("hits"))
        .selectExpr("source", "explode(hits) AS hit")
        .selectExpr("source", "hit.id AS doc_id", "hit.score AS h")),

    // B23: deterministic train/val/test split (98/1/1) by content-derived hash bucket
    "epoch_shuffle" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id",
          s"${sH("concat('ep1_', CAST(doc_id AS STRING))")} AS hv")
        .selectExpr("doc_id", "hv", "pmod(hv, 16) AS shard")
        .withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("shard")
              .orderBy(col("hv"), col("doc_id"))).cast("long"))
        .select("doc_id", "shard", "pos")),

    // B39: weighted priority sampling
    "sample_weighted" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"CAST(size($sTok) AS BIGINT) AS w",
          s"${sH("concat('wsp', CAST(doc_id AS STRING))")} AS h")
        .filter(col("w") > 0)
        .selectExpr("doc_id", "w", "h div w AS pri")
        .orderBy(col("pri").asc, col("doc_id").asc)
        .limit(WeightedSampleK)),

    // B40: proportional STRATIFIED sampling with largest-remainder quota
    // allocation (Hamilton's method — integer-exact, so both engines
    // compute the identical allocation; float proportions would round
    // differently at ties): per-language quota = ⌊K·n_l/n⌋ plus one for
    // the largest remainders until K is reached (ties to the lower lang),
    // then each stratum contributes its quota in content-hash order —
    // the "build a K-doc eval set matching corpus proportions" primitive,
    // deterministic end to end. Scale shape: the allocation runs on the
    // |langs|-row count table (broadcast); per-stratum selection is a
    // TopKHits map-side k-heap (≤K rows per partition cross the shuffle)
    // with the quota applied as a position filter after the heap — never
    // a per-stratum window sort of the corpus.
    "sample_stratified" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = d.groupBy("lang").agg(count(lit(1)).as("n_l"))
      val q = n.crossJoin(broadcast(n.agg(sum("n_l").as("n"))))
        .selectExpr("lang", "n_l", s"($StratSampleK * n_l) div n AS base",
          s"($StratSampleK * n_l) % n AS rem")
      val a = q.crossJoin(broadcast(q.agg((lit(StratSampleK) - sum("base")).as("extras"))))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rem").desc, col("lang").asc)))
        .selectExpr("lang", "base + (CASE WHEN rn <= extras THEN 1 ELSE 0 END) AS quota")
      d.selectExpr("doc_id", "lang",
          s"${sH("concat('str', CAST(doc_id AS STRING))")} AS h")
        .groupBy("lang")
        .agg(aggs.topK(col("h"), col("doc_id"), StratSampleK, asc = true).as("hits"))
        .join(broadcast(a), "lang")
        .select(col("lang"), col("quota"), posexplode(col("hits")).as(Seq("pos", "hit")))
        .filter(col("pos") < col("quota"))
        .selectExpr("lang", "hit.id AS doc_id", "quota")
    }),

    "split_assign" -> ((s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "source",
          s"${sH("concat('spl', CAST(doc_id AS STRING))")} % 100 AS bucket")
        .selectExpr("source", "doc_id",
          "CASE WHEN bucket < 98 THEN 'train' WHEN bucket < 99 THEN 'val' ELSE 'test' END AS split")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("sample_doc"))),

    // B15: benchmark decontamination
    "decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = Dedup.shingledExploded(d.filter(col("source") === BenchmarkSource))
        .selectExpr(s"${sH("g")} AS g").distinct()
      // r18: the train-side shingle+hash kernel measured as a 1.1 s
      // single-task stage — spread the filtered scan before shingling
      val train = Dedup.shingledExploded(
        Pq.spreadHeavyKernel(d.filter(col("source") =!= BenchmarkSource),
          opsPerRow = 1 << 20))
        .selectExpr("doc_id", s"${sH("g")} AS g")
      train.join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= MinSharedShingles)
    }),

    // B27: sequence packing
    "pack_sequences" -> ((s, dir) => {
      val nt = docs(s, dir)
        .selectExpr("doc_id", s"CAST(size($sTok) AS BIGINT) AS n")
        .filter(col("n") > 0)
      packOffsets(s, nt, PackBucketSpan)
        .selectExpr("doc_id", "n", "off",
          s"explode(sequence(off div $SeqLen, (off + n - 1) div $SeqLen)) AS seq_id")
        .selectExpr("seq_id", "doc_id",
          s"least((seq_id + 1) * $SeqLen, off + n) - greatest(seq_id * $SeqLen, off) AS toks")
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    }),

    // B27b: sequence packing over TRAINED-BPE token counts — what a real
    // pipeline packs on (r6 verdict missing #1: B27 packs whitespace
    // tokens; training rows are measured in tokenizer tokens). Same
    // distributed prefix-sum; the per-doc count comes from the
    // dictionary-encode join (Bpe.wordSymLens — the merge chain runs over
    // distinct words only, never the token stream). Oracle replays the
    // whole BPE training inside its CTE chain, then the same packing.
    "pack_sequences_bpe" -> ((s, dir) => {
      val nt = docs(s, dir)
        .selectExpr("doc_id", s"explode($sTok) AS word")
        .join(graft.operators.Bpe.wordSymLens(docs(s, dir), dir), "word")
        .groupBy("doc_id").agg(sum("n_sym").as("n"))
      packOffsets(s, nt, PackBucketSpan)
        .selectExpr("doc_id", "n", "off",
          s"explode(sequence(off div $SeqLen, (off + n - 1) div $SeqLen)) AS seq_id")
        .selectExpr("seq_id", "doc_id",
          s"least((seq_id + 1) * $SeqLen, off + n) - greatest(seq_id * $SeqLen, off) AS toks")
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    }),

    // B28: SEMANTIC benchmark decontamination
    "decontaminate_semantic" -> ((s, dir) => {
      val de = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .join(docs(s, dir).select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
      def bucketed(df: DataFrame) =
        graft.operators.Lsh.withBucket(df, SemNumPlanes, SemDims)
      val bench = bucketed(de.filter(col("source") === BenchmarkSource))
        .select(col("bucket"), col("embedding").as("b_vec"))
      bucketed(de.filter(col("source") =!= BenchmarkSource))
        .join(broadcast(bench), "bucket")
        .withColumn("cs", graft.functions.scaled(
          graft.functions.vectors.cosine(col("embedding"), col("b_vec")), 4))
        .filter(col("cs") >= SemTauScaled)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), max("cs").as("max_cs"))
    }),

    // B21: the composed curation pipeline
    "curation_pipeline" -> ((s, dir) => {
      import TextScoring._
      val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
      docs(s, dir)
        .selectExpr("doc_id", "source", "n_chars", "text", s"$sTok AS tk")
        .selectExpr(Seq("doc_id", "source", "n_chars", "text") ++
          sLangScores ++ sQualityInputs: _*)
        .filter(expr(s"$LangPred = 'en'"))
        .selectExpr("doc_id", "source", "text",
          s"${qualityExpr("div")} AS quality")
        .filter(col("quality") >= MinQuality)
        .withColumn("h", md5(col("text")))
        .withColumn("keeper", min("doc_id").over(w))
        .filter(col("doc_id") === col("keeper"))
        .selectExpr("source", "doc_id", "quality",
          s"${sH("concat('cur', CAST(doc_id AS STRING))")} AS hs")
        .groupBy("source")
        .agg(aggs.topK(col("hs"), col("doc_id"), QuotaPerSource, asc = true).as("hits"))
        .select(col("source"), explode(col("hits")).as("hit"))
        .selectExpr("source", "hit.id AS doc_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |  ${dH("'ep1_'||CAST(doc_id AS VARCHAR)")} AS hv FROM documents)
         |SELECT doc_id, hv % 16 AS shard,
         |  CAST(row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id)
         |    AS BIGINT) AS pos
         |FROM h""".stripMargin,

    "text_vocab" ->
      s"""WITH t AS (SELECT unnest($dTok) AS tok FROM documents)
         |SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t
         |GROUP BY tok ORDER BY n DESC, tok LIMIT $VocabTopK""".stripMargin,

    "sample_mixture" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  10 + (CAST(substr(source, 4) AS BIGINT) * 7) % 80 AS rate,
         |  ${dH("'smp'||CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents)
         |SELECT doc_id, source, rate, bucket FROM m WHERE bucket < rate""".stripMargin,

    "mixture_temperature" ->
      s"""WITH n AS (SELECT lang, CAST(sum(len($dTok)) AS BIGINT) AS n_tok
         |  FROM documents GROUP BY lang),
         |w AS (SELECT lang, n_tok,
         |  CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS s FROM n),
         |t AS (SELECT CAST(sum(s) AS BIGINT) AS ts FROM w)
         |SELECT lang, n_tok, s, (s * 1000000) // ts AS w_ppm
         |FROM w CROSS JOIN t""".stripMargin,

    "pii_scrub" ->
      """SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redacted
        |FROM events""".stripMargin,

    "sample_group_topk" ->
      s"""WITH m AS (SELECT source, doc_id,
         |  ${dH("'qta'||CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         |r AS (SELECT source, doc_id, h,
         |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn FROM m)
         |SELECT source, doc_id, h FROM r WHERE rn <= 10""".stripMargin,

    "sample_weighted" ->
      s"""WITH w AS (SELECT doc_id,
         |  CAST(len($dTok) AS BIGINT) AS w,
         |  ${dH("'wsp'||CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT doc_id, w, h // w AS pri FROM w WHERE w > 0
         |ORDER BY pri ASC, doc_id ASC LIMIT $WeightedSampleK""".stripMargin,

    "sample_stratified" ->
      s"""WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
         |t AS (SELECT CAST(sum(n_l) AS BIGINT) AS n FROM n),
         |q AS (SELECT lang, n_l, ($StratSampleK * n_l) // t.n AS base,
         |  ($StratSampleK * n_l) % t.n AS rem FROM n CROSS JOIN t),
         |x AS (SELECT CAST($StratSampleK - sum(base) AS BIGINT) AS extras FROM q),
         |a AS (SELECT lang, base + (CASE WHEN
         |    row_number() OVER (ORDER BY rem DESC, lang ASC) <= x.extras
         |    THEN 1 ELSE 0 END) AS quota
         |  FROM q CROSS JOIN x),
         |h AS (SELECT doc_id, lang,
         |  ${dH("'str'||CAST(doc_id AS VARCHAR)")} AS h FROM documents),
         |r AS (SELECT h.doc_id, h.lang, a.quota,
         |  row_number() OVER (PARTITION BY h.lang ORDER BY h.h ASC, h.doc_id ASC) AS rn
         |  FROM h JOIN a USING (lang))
         |SELECT lang, doc_id, quota FROM r WHERE rn <= quota""".stripMargin,

    "split_assign" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  ${dH("'spl'||CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents),
         |a AS (SELECT source, doc_id,
         |  CASE WHEN bucket < 98 THEN 'train' WHEN bucket < 99 THEN 'val' ELSE 'test' END AS split
         |  FROM m)
         |SELECT source, split, count(*) AS n, min(doc_id) AS sample_doc
         |FROM a GROUP BY source, split""".stripMargin,

    "curation_pipeline" -> {
      import TextScoring._
      s"""WITH t AS (SELECT doc_id, source, n_chars, text, $dTok AS tk FROM documents),
         |sc AS (SELECT doc_id, source, n_chars, text,
         |  ${(dLangScores ++ dQualityInputs).mkString(",\n  ")}
         |  FROM t),
         |q AS (SELECT doc_id, source, text,
         |  ${qualityExpr("//")} AS quality
         |  FROM sc WHERE ($LangPred) = 'en'),
         |g AS (SELECT doc_id, source, md5(text) AS h FROM q WHERE quality >= $MinQuality),
         |k AS (SELECT doc_id, source, min(doc_id) OVER (PARTITION BY h) AS keeper FROM g),
         |kept AS (SELECT source, doc_id,
         |  ${dH("'cur'||CAST(doc_id AS VARCHAR)")} AS hs
         |  FROM k WHERE doc_id = keeper),
         |r AS (SELECT source, doc_id,
         |  row_number() OVER (PARTITION BY source ORDER BY hs, doc_id) AS rn FROM kept)
         |SELECT source, doc_id FROM r WHERE rn <= $QuotaPerSource""".stripMargin
    },

    "pack_sequences" ->
      s"""WITH nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n
         |  FROM (SELECT doc_id, $dTok AS tk FROM documents) WHERE len(tk) > 0),
         |o AS (SELECT doc_id, n,
         |  CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off FROM nt),
         |x AS (SELECT doc_id, n, off,
         |  unnest(range(off // $SeqLen, (off + n - 1) // $SeqLen + 1)) AS seq_id FROM o)
         |SELECT seq_id, count(*) AS n_docs,
         |  CAST(sum(least((seq_id + 1) * $SeqLen, off + n) - greatest(seq_id * $SeqLen, off)) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM x GROUP BY seq_id""".stripMargin,

    "pack_sequences_bpe" -> {
      val iters = graft.operators.Bpe.DefaultIters
      s"""WITH ${DuckDialect.bpeChain(iters)},
         |wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sym FROM s$iters),
         |dw AS (SELECT doc_id, unnest($dTok) AS word FROM documents),
         |nt AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n
         |  FROM dw JOIN wl USING (word) GROUP BY doc_id),
         |o AS (SELECT doc_id, n,
         |  CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS off FROM nt),
         |x AS (SELECT doc_id, n, off,
         |  unnest(range(off // $SeqLen, (off + n - 1) // $SeqLen + 1)) AS seq_id FROM o)
         |SELECT seq_id, count(*) AS n_docs,
         |  CAST(sum(least((seq_id + 1) * $SeqLen, off + n) - greatest(seq_id * $SeqLen, off)) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM x GROUP BY seq_id""".stripMargin
    },

    "decontaminate_semantic" -> {
      def cs(a: String, b: String) =
        s"CAST(floor(list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) * 10000 + 0.5) AS BIGINT)"
      s"""WITH de AS (SELECT e.vec_id AS doc_id, e.embedding, d.source
         |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
         |bk AS (SELECT doc_id, embedding, source,
         |  ${DuckDialect.bucketSql("embedding", SemNumPlanes, SemDims)} AS bucket FROM de),
         |m AS (SELECT t.doc_id, ${cs("t.embedding", "b.embedding")} AS cs
         |  FROM bk t JOIN bk b ON t.bucket = b.bucket
         |  WHERE t.source <> '$BenchmarkSource' AND b.source = '$BenchmarkSource')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches, max(cs) AS max_cs
         |FROM m WHERE cs >= $SemTauScaled GROUP BY doc_id""".stripMargin
    },

    "decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, source, $dTok AS tk FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source, ${dH("g")} AS g
         |       FROM (SELECT doc_id, source, unnest($dShingles) AS g FROM tk)),
         |bench AS (SELECT DISTINCT g FROM sh WHERE source = '$BenchmarkSource')
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM sh t JOIN bench b USING (g)
         |WHERE t.source <> '$BenchmarkSource'
         |GROUP BY t.doc_id HAVING count(*) >= $MinSharedShingles""".stripMargin
  )
}
