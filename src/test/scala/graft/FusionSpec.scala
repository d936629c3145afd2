package graft

import org.apache.spark.sql.functions._
import graft.queries.FusionQueries
import graft.operators.Knn

/** §2.A18–A20 keyword BM25, RRF fusion, scalar-quantized kNN. */
class FusionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = FusionQueries.defs(name)(spark, dir)

  test("text_bm25 scores are positive and arrive best-first") {
    val rows = q("text_bm25").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.forall(_._2 > 0))
    assert(rows.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("knn_bq reranks with exact cosine scores and decent 1-bit recall") {
    val e = Tables(spark, dir, "embeddings")
    val exact = Knn.topK(
      e.filter(col("vec_id") =!= 0).select("vec_id", "embedding"),
      e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")),
      10, Knn.Cosine).select("vec_id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bq = q("knn_bq").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bq.length == 10)
    bq.foreach { case (_, _, ham) => assert(ham >= 0 && ham <= 64) }
    // every BQ hit that IS in the exact top-10 carries the exact score
    bq.filter(p => exact.contains(p._1)).foreach { case (id, s, _) => assert(exact(id) == s) }
    assert(bq.map(_._1).toSet.intersect(exact.keySet).size >= 5,
      "sign-bit Hamming shortlist should keep at least half of the exact top-10")
  }

  test("knn_matryoshka reranks with exact scores; 16-dim prefix keeps recall") {
    val e = Tables(spark, dir, "embeddings")
    val exact = Knn.topK(
      e.filter(col("vec_id") =!= 0).select("vec_id", "embedding"),
      e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")),
      10, Knn.Cosine).select("vec_id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mrl = q("knn_matryoshka").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mrl.length == 10)
    mrl.filter(p => exact.contains(p._1)).foreach { case (id, s) => assert(exact(id) == s) }
    assert(mrl.map(_._1).toSet.intersect(exact.keySet).size >= 6,
      "32-of-64-dim shortlist should keep most of the exact top-10")
  }

  test("phrase_search matches a brute-force 3-gram scan of the corpus") {
    val rows = q("phrase_search").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val phrase = rows.head._2
    assert(rows.forall(_._2 == phrase), "one global top phrase")
    // brute force: tokenize every doc, slide a 3-window
    val grams = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map { r =>
        val tk = r.getString(1).split("\\s+").filter(_.nonEmpty)
        r.getLong(0) -> tk.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toVector
      }.toMap
    // the chosen phrase is the global argmax under (count desc, phrase asc)
    val counts = grams.values.flatten.groupBy(identity).map { case (g, v) => g -> v.size }
    val best = counts.toSeq.map { case (g, n) => (-n, g) }.min._2
    assert(phrase == best, s"top phrase $phrase vs brute-force $best")
    // per-doc occurrence count and 1-based first position agree
    val expected = grams.collect { case (id, gs) if gs.contains(phrase) =>
      id -> ((gs.count(_ == phrase).toLong, gs.indexOf(phrase).toLong + 1)) }
    assert(rows.map(r => r._1 -> ((r._3, r._4))).toMap == expected)
  }

  test("hybrid_rrf fuses only members of the two top-R lists, bounded by 2/(k+1)") {
    val fused = q("hybrid_rrf").collect()
    assert(fused.nonEmpty)
    val maxRrf = 2 * (1000000 / 61)
    fused.foreach(r => assert(r.getLong(1) > 0 && r.getLong(1) <= maxRrf))
  }

  test("knn_pq rerank returns exact L2 scores and high shortlist recall") {
    val e = Tables(spark, dir, "embeddings")
    val exact = Knn.topK(
      e.filter(col("vec_id") =!= 0).select("vec_id", "embedding"),
      e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")),
      10, Knn.L2).select("vec_id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = q("knn_pq").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.length == 10)
    // every PQ hit that IS in the exact top-10 must carry the exact score
    pq.filter(p => exact.contains(p._1)).foreach { case (id, s) => assert(exact(id) == s) }
    assert(pq.map(_._1).toSet.intersect(exact.keySet).size >= 7,
      "ADC shortlist + rerank should preserve most of the exact top-10")
  }

  test("knn_pq_persisted serves from stored artifacts identically to inline encode") {
    import graft.operators.Pq
    val emb = Tables(spark, dir, "embeddings")
    val persisted = q("knn_pq_persisted").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(persisted.size == 10)
    // the persistence round-trip must not change a single row vs the
    // inline-encode path at the same constants and query id
    val inline = Pq.searchRerank(emb, qid = 9, k = 10,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(persisted == inline)
    // artifact shape: one code row per corpus vector (queries are excluded
    // at SERVE time, not build time), M wide code columns + vec_id
    val path = graft.TmpDirs.path("pq_index_" + graft.TmpDirs.dirKey(dir))
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == emb.count())
    assert(codes.columns.toSeq == ("vec_id" +: (0 until 8).map(m => s"code_$m")))
    val cb = spark.read.parquet(s"$path/codebook")
    assert(cb.count() == 8L * 64L)

    // vintage guards (the Hnsw restore convention): a caller expecting a
    // different build layout is refused loudly, never served silently
    // wrong rankings
    val e1 = intercept[IllegalArgumentException] {
      Pq.searchPersisted(spark, path, emb, qid = 9, k = 10,
        numSub = 4, subDim = 8, shortlist = 100)
    }
    assert(e1.getMessage.contains("different numSub"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.searchPersisted(spark, path, emb, qid = 9, k = 10,
        numSub = 8, subDim = 4, shortlist = 100)
    }
    assert(e2.getMessage.contains("different layout"))
  }

  test("knn_pq_append: appended index serves identically to a full rebuild") {
    import graft.operators.Pq
    val emb = Tables(spark, dir, "embeddings")
    // the entry: base build (ids < 400) + incremental append of the rest
    val appended = q("knn_pq_append").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(appended.size == 10)
    // the pin: a FULL fresh rebuild over the whole corpus must serve the
    // exact same rows — encode is per-row independent and the codebook
    // seeds (vec_id < 64) all sit inside the base half, so append with the
    // STORED codebook ≡ rebuild, row for row
    val rebuilt = graft.TmpDirs.path("pq_rebuild_spec")
    Pq.buildAndWriteIndex(emb, rebuilt, numSub = 8, subDim = 8, numCodes = 64)
    val fresh = Pq.searchPersisted(spark, rebuilt, emb, qid = 5,
      k = 10, numSub = 8, subDim = 8, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(appended == fresh)
    // artifact shape: append added |arriving| code rows, never rewrote the
    // base files — one row per corpus vector total, same wide layout
    val path = graft.TmpDirs.path("pq_append_" + graft.TmpDirs.dirKey(dir))
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == emb.count())
    assert(codes.columns.toSeq == ("vec_id" +: (0 until 8).map(m => s"code_$m")))
    // vintage guard: an append at a foreign layout is refused loudly
    // BEFORE writing codes the stored index couldn't serve
    val e1 = intercept[IllegalArgumentException] {
      Pq.appendToIndex(spark, path, emb.limit(1), numSub = 4, subDim = 8)
    }
    assert(e1.getMessage.contains("different numSub"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.appendToIndex(spark, path, emb.limit(1), numSub = 8, subDim = 4)
    }
    assert(e2.getMessage.contains("different layout"))
    // duplicate-id guard (r11 ADVICE): re-appending an already-indexed id
    // would write a second code row and double-serve it from the
    // shortlist heap — refused loudly before any write
    val e3 = intercept[IllegalArgumentException] {
      Pq.appendToIndex(spark, path, emb.filter(col("vec_id") === 5),
        numSub = 8, subDim = 8)
    }
    assert(e3.getMessage.contains("already present"))
    assert(spark.read.parquet(s"$path/codes").count() == emb.count(),
      "the refused append must not have written any code rows")
    // intra-batch duplicate guard (r12 ADVICE): a vec_id repeated WITHIN
    // the arriving batch passes the existing-ids semi-join yet would
    // still write two code rows — refused loudly before any write
    val freshRow = emb.filter(col("vec_id") === 5)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    val e4 = intercept[IllegalArgumentException] {
      Pq.appendToIndex(spark, path, freshRow.union(freshRow),
        numSub = 8, subDim = 8)
    }
    assert(e4.getMessage.contains("more than once within the arriving batch"))
    assert(spark.read.parquet(s"$path/codes").count() == emb.count(),
      "the refused intra-batch-dup append must not have written any code rows")
  }

  test("knn_pq_batch_external: non-indexed queries, no hidden self-exclusion, guards fire") {
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val out = q("knn_pq_batch_external").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.groupBy(_._1).forall(_._2.length == 10))
    // the midpoint queries are genuinely NOT corpus rows
    val corpus = e.select("embedding").collect()
      .map(_.getSeq[Float](0).toVector).toSet
    val mids = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    (0L to 3L).foreach { g =>
      val qv = mids(2 * g).zip(mids(2 * g + 1))
        .map { case (x, y) => ((x.toDouble + y.toDouble) * 0.5).toFloat }.toVector
      assert(!corpus.contains(qv), s"midpoint query $g collides with a corpus row")
    }
    // nothing secretly excludes the query: a frame whose q_vec EQUALS a
    // corpus row must get that row back at rank 1, distance 0
    val twin = e.filter(col("vec_id") === 0)
      .selectExpr("CAST(99L AS BIGINT) AS q_id", "embedding AS q_vec")
    val res = Pq.searchRerankBatchExternal(e, twin, k = 3,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 100).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(res.contains((0L, 1L, 0L)),
      s"the query's corpus twin must rank 1 at distance 0: ${res.mkString(", ")}")
    // guards: duplicate q_ids and an empty frame refuse loudly
    val dup = twin.union(twin)
    val e1 = intercept[IllegalArgumentException] {
      Pq.searchRerankBatchExternal(e, dup, 3, 8, 8, 64, 100)
    }
    assert(e1.getMessage.contains("duplicate"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.searchRerankBatchExternal(e, twin.filter(col("q_id") === -1L), 3, 8, 8, 64, 100)
    }
    assert(e2.getMessage.contains("empty"))
  }

  test("sharded external PQ: cap-and-union equals one uncapped pass, whole-frame guards fire") {
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    // a small frame with a tiny cap forces multiple shards; per-query
    // funnels are independent so the union must equal the single pass
    val a = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 16)
      .selectExpr("vec_id div 2 AS q_id", "CAST(embedding AS ARRAY<DOUBLE>) AS va")
    val b = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 16)
      .selectExpr("vec_id div 2 AS q_id", "CAST(embedding AS ARRAY<DOUBLE>) AS vb")
    val queries = a.join(b, "q_id").selectExpr("q_id",
      "zip_with(va, vb, (x, y) -> CAST((x + y) * 0.5D AS FLOAT)) AS q_vec")
    val sharded = Pq.searchRerankBatchExternal(e, queries, k = 5,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 100, cap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    val whole = Pq.searchRerankBatchExternal(e, queries, k = 5,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(sharded == whole && sharded.map(_._1).distinct.size == 8)
    // whole-frame guards fire BEFORE any pass: a duplicate SPLIT across
    // shards (cap=1 would isolate each copy) still refuses
    val twin = e.filter(col("vec_id") === 0)
      .selectExpr("CAST(99L AS BIGINT) AS q_id", "embedding AS q_vec")
    val e1 = intercept[IllegalArgumentException] {
      Pq.searchRerankBatchExternal(e, twin.union(twin), 3,
        8, 8, 64, 100, cap = 1)
    }
    assert(e1.getMessage.contains("duplicate"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.searchRerankBatchExternal(e,
        twin.filter(col("q_id") === -1L), 3, 8, 8, 64, 100, cap = 3)
    }
    assert(e2.getMessage.contains("empty"))
    val e3 = intercept[IllegalArgumentException] {
      Pq.searchRerankBatchExternal(e, twin, 3, 8, 8, 64, 100, cap = 0)
    }
    assert(e3.getMessage.contains("cap"))
  }

  test("PQ encodeFast (literal codebook) equals the join-based encode") {
    import graft.operators.Pq
    val emb = Tables(spark, dir, "embeddings")
    val cast = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val cb = Pq.seededCodebook(emb, numSub = 8, subDim = 8, numCodes = 64)
    val joined = Pq.encode(cast, cb, subDim = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val cbRows = cb.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val fast = Pq.encodeFast(cast, cbRows, numSub = 8, subDim = 8).collect()
    assert(fast.nonEmpty)
    fast.foreach { r =>
      val vid = r.getLong(0)
      (0 until 8).foreach { m =>
        assert(r.getLong(1 + m) == joined((vid, m)), s"vec $vid subspace $m")
      }
    }
  }

  test("hybrid_knn_pq returns only filter-qualified vectors") {
    val en = Tables(spark, dir, "documents")
      .filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val hits = q("hybrid_knn_pq").collect().map(_.getLong(0))
    assert(hits.nonEmpty)
    hits.foreach(id => assert(en.contains(id), s"vec $id fails the metadata filter"))
  }

  test("knn_ivfpq searches only the 2 probed clusters") {
    import graft.operators.Ivf
    val e = Tables(spark, dir, "embeddings")
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    val probed = Ivf.probe(Ivf.centroids(e), qv, 2).collect().map(_.getInt(0)).toSet
    val inProbed = e.filter(col("label").isin(probed.toSeq: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val hits = q("knn_ivfpq").collect().map(_.getLong(0))
    assert(hits.nonEmpty && hits.length <= 10)
    hits.foreach(id => assert(inProbed.contains(id), s"vec $id outside probed clusters"))
  }

  test("knn_pq_trained (trained codebook) reranks to exact scores with real recall") {
    // since r3 the entry is integer-exact (squared L2 in quantized units),
    // so the exact reference uses the same integer metric
    val e = Tables(spark, dir, "embeddings")
    val qall = graft.operators.Pq.quantized(e)
    val qv = qall.filter(col("vec_id") === 0).select("q").head.getSeq[Long](0).toArray
    val qLit = s"array(${qv.map(v => s"${v}L").mkString(", ")})"
    val exact = qall.filter(col("vec_id") =!= 0)
      .selectExpr("vec_id", graft.functions.sqDistLongSql("q", qLit) + " AS score")
      .orderBy(col("score").asc, col("vec_id").asc).limit(10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = q("knn_pq_trained").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.length == 10)
    // the rerank is exact: any shortlisted id carries its exact score
    pq.filter(p => exact.contains(p._1)).foreach { case (id, s) => assert(exact(id) == s) }
    assert(pq.map(_._1).toSet.intersect(exact.keySet).size >= 5,
      "trained-codebook shortlist should keep at least half the exact top-10")
  }

  test("multivector_maxsim matches a brute-force MaxSim over the passage bags") {
    val rows = q("multivector_maxsim").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 10)
    // brute force: re-derive every passage vector (same chunking + hash
    // stub) on the driver, score Σ_q max_p ⟨q,p⟩ for every doc, take 10
    import java.math.BigInteger
    import java.security.MessageDigest
    def h60(s: String): Long = new BigInteger(
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16).longValue()
    def pvecs(text: String): Vector[Array[Long]] = {
      val tk = text.split("\\s+").filter(_.nonEmpty)
      if (tk.isEmpty) Vector.empty
      else tk.grouped(8).map { g =>
        val p = g.mkString(" ")
        Array.tabulate(8)(i => h60(s"${p}_$i") % 2001L - 1000L)
      }.toVector
    }
    val bags = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> pvecs(r.getString(1))).toMap
    val qbag = bags(0L)
    assert(qbag.nonEmpty)
    val scored = bags.collect { case (id, bag) if id != 0L && bag.nonEmpty =>
      id -> qbag.map(qv => bag.map(p => p.zip(qv).map { case (a, b) => a * b }.sum).max).sum
    }
    val expected = scored.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(rows.toSeq == expected, s"got ${rows.toSeq}\nexp $expected")
  }

  test("knn_mmr reproduces an independent greedy MMR and really diversifies") {
    val rows = q("knn_mmr").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 5)
    assert(rows.map(_._1).toSeq == (1L to 5L))
    // independent driver replica: double cosine + the repo's floor(+0.5)
    val vecs = Tables(spark, dir, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def sc(a: Array[Double], b: Array[Double]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      math.floor(dot / (na * nb) * 10000 + 0.5).toLong
    }
    val qv = vecs(0L)
    val rel = vecs.collect { case (id, v) if id != 0L => id -> sc(v, qv) }
    val sl = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(20).map(_._1)
    val slSet = sl.toSet
    var sel = Vector.empty[Long]
    var rem = slSet
    val expect = (1 to 5).map { _ =>
      val pick = rem.toSeq.map { c =>
        val ms = if (sel.isEmpty) 0L else sel.map(s => sc(vecs(c), vecs(s))).max
        (c, 5000L * rel(c) - 5000L * ms)
      }.minBy { case (c, m) => (-m, c) }
      sel :+= pick._1
      rem -= pick._1
      pick
    }
    assert(rows.map(r => (r._2, r._3)).toSeq == expect.toSeq,
      s"got ${rows.toSeq}\nexp $expect")
    // all picks come from the shortlist; pick 1 is the relevance argmax
    assert(rows.map(_._2).forall(slSet), "picks must come from the top-R shortlist")
    assert(rows.head._2 == sl.head)
    // the diversified set differs from the plain top-5 — MMR did something
    assert(rows.map(_._2).toSeq != sl.take(5),
      "MMR picks equal the undiversified top-k — no diversification happened")
  }

  test("knn_ivfpq_residual: exact reranked scores, probed-cluster recall holds") {
    val e = Tables(spark, dir, "embeddings")
    val qz = graft.operators.Pq.quantized(e)
    val qv = qz.filter(col("vec_id") === 0).select(col("q").as("qq"))
    val got = q("knn_ivfpq_residual").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 10)
    // the rerank stage really reranked at full (quantized) precision
    got.foreach { case (id, score) =>
      val full = qz.filter(col("vec_id") === id).crossJoin(broadcast(qv))
        .selectExpr(graft.functions.sqDistLongSql("q", "qq")).head.getLong(0)
      assert(score == full, s"vec $id: reranked score $score != exact $full")
    }
    // recall measured WITHIN the probed clusters (PQ quality; the probe
    // trade itself is characterized by recall_probe_sweep): replicate the
    // integer floor-mean centroid probe, then brute-force the members
    val qe = e.selectExpr("vec_id", "CAST(label AS BIGINT) AS label",
      graft.functions.quantizeVecSql("embedding") + " AS q")
    val cent = qe.groupBy("label")
      .agg(graft.functions.aggs.vecSumLong(col("q")).as("s"), count(lit(1)).as("cnt"))
      .selectExpr("label", graft.functions.floorMeanVecSql("s", "cnt") + " AS cent")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val qvec = qz.filter(col("vec_id") === 0).select("q").head.getSeq[Long](0).toArray
    def sqd(a: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { val d = a(i) - qvec(i); acc += d * d; i += 1 }
      acc
    }
    val probed = cent.toSeq.map { case (l, c) => (l, sqd(c)) }
      .sortBy { case (l, d) => (d, l) }.take(2).map(_._1)
    val probedExact = qe.filter(col("label").isin(probed: _*) && col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .selectExpr("vec_id", graft.functions.sqDistLongSql("q", "qq") + " AS s")
      .orderBy(col("s").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val overlap = (got.map(_._1).toSet intersect probedExact).size
    assert(overlap >= 8, s"residual-PQ probed recall too low: $overlap/10")
  }

  test("knn_refine_rerank: reranked scores are the exact quantized L2, recall beats coarse") {
    val e = Tables(spark, dir, "embeddings")
    val qz = graft.operators.Pq.quantized(e)
    val qv = qz.filter(col("vec_id") === 0).select(col("q").as("qq"))
    val exact = qz.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .selectExpr("vec_id", graft.functions.sqDistLongSql("q", "qq") + " AS score")
      .orderBy(col("score").asc, col("vec_id").asc).limit(10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = q("knn_refine_rerank").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.length == 10)
    // every returned score IS the exact integer distance (the refine stage
    // really reranked at full precision, not on the coarse codes)
    got.foreach { case (id, score) =>
      val full = qz.filter(col("vec_id") === id).crossJoin(broadcast(qv))
        .selectExpr(graft.functions.sqDistLongSql("q", "qq")).head.getLong(0)
      assert(score == full, s"vec $id: reranked score $score != exact $full")
    }
    // the R=50 shortlist retains nearly all of the true top-10
    val overlap = (got.map(_._1).toSet intersect exact.keySet).size
    assert(overlap >= 8, s"refine recall too low: $overlap/10")
  }

  test("knn_sq8 preserves most of the exact-L2 top-10 (quantization recall)") {
    val e = Tables(spark, dir, "embeddings")
    val exact = Knn.topK(
      e.filter(col("vec_id") =!= 0).select("vec_id", "embedding"),
      e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")),
      10, Knn.L2).select("vec_id").collect().map(_.getLong(0)).toSet
    val sq = q("knn_sq8").collect().map(_.getLong(0)).toSet
    assert(sq.size == 10)
    assert((sq intersect exact).size >= 5, s"sq8 recall too low: ${(sq intersect exact).size}/10")
  }

  test("knn_pq_batch: EVERY per-query slice equals the single-query operator") {
    // encode is per-row independent, so encode-all-then-exclude must give
    // exactly the single-query path's results for EVERY query id (r8
    // review: a q0-only check misses wiring bugs in the per-query ADC)
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val batch = q("knn_pq_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.map(_._1).distinct.sorted.toSeq === (0L to 4L),
      "all five queries answered")
    for (qid <- 0 to 4) {
      val single = Pq.searchRerank(e, qid = qid, k = 10, numSub = 8,
        subDim = 8, numCodes = 64, shortlist = 100).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = batch.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: batch $slice vs single $single")
    }
    batch.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to 10L), s"q$qid ranks")
    }
  }

  test("hybrid_knn_pq_batch per-query slice equals the single-query hybrid_knn_pq") {
    val single = q("hybrid_knn_pq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = q("hybrid_knn_pq_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.map(_._1).distinct.sorted.toSeq === (0L to 4L))
    val q0 = batch.filter(_._1 == 0L).sortBy(_._3).map(t => (t._2, t._4)).toSeq
    assert(q0 === single, s"batch q0 $q0 vs single $single")
    // and EVERY slice equals the single-query operator with the same keep
    val en0 = Tables(spark, dir, "documents")
      .filter(col("lang").isNotNull && col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    for (qid <- 1 to 4) {
      val s1 = graft.operators.Pq.searchRerank(Tables(spark, dir, "embeddings"),
        qid = qid, k = 10, numSub = 8, subDim = 8, numCodes = 64,
        shortlist = 100, keep = Some(en0)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val sl = batch.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(sl === s1, s"q$qid: batch $sl vs single $s1")
    }
    // the filter really constrains candidates: only en-doc ids appear
    val keep = Tables(spark, dir, "documents")
      .filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batch.forall(t => keep(t._2)), "a non-en candidate slipped through")
  }

  test("knn_ivfpq_batch: EVERY per-query slice equals the single-query composition") {
    // per-q probes replay Ivf.probe's ordering and encode is per-row
    // independent, so the batch must reproduce the single-query
    // composition (probe -> keep -> searchRerank) for every query id
    import graft.operators.{Ivf, Pq}
    val e = Tables(spark, dir, "embeddings")
    val batch = q("knn_ivfpq_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.map(_._1).distinct.sorted.toSeq === (0L to 4L))
    for (qid <- 0 to 4) {
      val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("q_vec"))
      val probed = Ivf.probe(Ivf.centroids(e), qv, nProbe = 2)
      val keep = e.join(broadcast(probed), "label").select("vec_id")
      val single = Pq.searchRerank(e, qid = qid, k = 10, numSub = 8,
        subDim = 8, numCodes = 64, shortlist = 100, keep = Some(keep))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = batch.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: batch $slice vs single $single")
    }
  }

  test("knn_ivfpq_residual_batch: EVERY per-query slice equals the single-query residual path") {
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val batch = q("knn_ivfpq_residual_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.map(_._1).distinct.sorted.toSeq === (0L to 4L))
    for (qid <- 0 to 4) {
      val single = Pq.ivfpqResidual(e, qid = qid, k = 10, numSub = 8,
        subDim = 8, numCodes = 16, nProbe = 2, shortlist = 100).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = batch.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: batch $slice vs single $single")
    }
  }

  test("knn_refine_rerank_batch per-query slice equals the single-query refine path") {
    val single = q("knn_refine_rerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = q("knn_refine_rerank_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(batch.map(_._1).distinct.sorted.toSeq === (0L to 4L))
    val q0 = batch.filter(_._1 == 0L).sortBy(_._3)
      .map(t => (t._2, t._4, t._5)).toSeq
    assert(q0 === single, s"batch q0 $q0 vs single $single")
  }

  test("knn_pq_batch_wide: 256 queries in one pass; slices equal literal batch AND single") {
    // the joined-ADC relation must reproduce the literal form exactly:
    // same Spark-computed td values, same k-heap tie-breaks — so every
    // wide slice equals the literal batch (qids 0..4) and spot-checked
    // singles across the full 256-query range equal searchRerank
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val wide = q("knn_pq_batch_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(wide.map(_._1).distinct.sorted.toSeq === (0L until 256L),
      "all 256 queries answered")
    val lit = q("knn_pq_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (qid <- 0 to 4) {
      val w = wide.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      val l = lit.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      assert(w === l, s"q$qid: wide $w vs literal $l")
    }
    for (qid <- Seq(7, 63, 100, 255)) {
      val single = Pq.searchRerank(e, qid = qid, k = 10, numSub = 8,
        subDim = 8, numCodes = 64, shortlist = 100).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = wide.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: wide $slice vs single $single")
    }
  }

  test("knn_ivfpq_batch_wide slices equal the literal batch and spot singles") {
    import graft.operators.{Ivf, Pq}
    val e = Tables(spark, dir, "embeddings")
    val wide = q("knn_ivfpq_batch_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(wide.map(_._1).distinct.sorted.toSeq === (0L until 128L))
    val lit = q("knn_ivfpq_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (qid <- 0 to 4) {
      val w = wide.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      val l = lit.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      assert(w === l, s"q$qid: wide $w vs literal $l")
    }
    for (qid <- Seq(77, 127)) {
      val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("q_vec"))
      val probed = Ivf.probe(Ivf.centroids(e), qv, nProbe = 2)
      val keep = e.join(broadcast(probed), "label").select("vec_id")
      val single = Pq.searchRerank(e, qid = qid, k = 10, numSub = 8,
        subDim = 8, numCodes = 64, shortlist = 100, keep = Some(keep))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = wide.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: wide $slice vs single $single")
    }
  }

  test("knn_ivfpq_residual_batch_wide slices equal the literal batch and spot singles") {
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val wide = q("knn_ivfpq_residual_batch_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(wide.map(_._1).distinct.sorted.toSeq === (0L until 128L))
    val lit = q("knn_ivfpq_residual_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (qid <- 0 to 4) {
      val w = wide.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      val l = lit.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      assert(w === l, s"q$qid: wide $w vs literal $l")
    }
    for (qid <- Seq(77, 127)) {
      val single = Pq.ivfpqResidual(e, qid = qid, k = 10, numSub = 8,
        subDim = 8, numCodes = 16, nProbe = 2, shortlist = 100).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = wide.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: wide $slice vs single $single")
    }
  }

  test("searchRerankBatch honors a keep filter at 70 queries exactly as at 5") {
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val en = Tables(spark, dir, "documents")
      .filter(col("lang").isNotNull && col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val wide = Pq.searchRerankBatch(e, qids = (0L until 70L), k = 10,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 100,
      keep = Some(en)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(wide.map(_._1).distinct.sorted.toSeq === (0L until 70L),
      "a 70-query filtered batch — past the old literal form's 64 wall")
    val lit = q("hybrid_knn_pq_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (qid <- 0 to 4) {
      val w = wide.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      val l = lit.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      assert(w === l, s"q$qid: 70-query keep $w vs 5-query keep $l")
    }
  }

  test("hybrid_knn_pq_batch_wide: 128 filtered queries, slices ≡ literal batch and spot singles") {
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val en = Tables(spark, dir, "documents")
      .filter(col("lang").isNotNull && col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val wide = q("hybrid_knn_pq_batch_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(wide.map(_._1).distinct.sorted.toSeq === (0L until 128L),
      "every query answered — twice past the literal form's 64 wall")
    // only filter-qualified candidates may appear
    val keepIds = en.collect().map(_.getLong(0)).toSet
    assert(wide.forall(t => keepIds.contains(t._2)),
      "a non-qualified candidate leaked through the keep filter")
    val lit = q("hybrid_knn_pq_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (qid <- 0 to 4) {
      val w = wide.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      val l = lit.filter(_._1 == qid.toLong).sortBy(_._3).toSeq
      assert(w === l, s"q$qid: wide $w vs literal $l")
    }
    for (qid <- Seq(77, 127)) {
      val single = Pq.searchRerank(e, qid = qid, k = 10, numSub = 8,
        subDim = 8, numCodes = 64, shortlist = 100, keep = Some(en))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = wide.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: wide $slice vs single $single")
    }
  }

  test("searchRerankBatch(cap=4) ≡ one pass; guards fire before work") {
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val qids = (0L until 10L)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val sharded = sorted(Pq.searchRerankBatch(e, qids, k = 10,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 100, cap = 4))
    val wide = sorted(Pq.searchRerankBatch(e, qids, k = 10,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 100))
    assert(sharded === wide,
      "3 passes of ≤4 queries must union to exactly the single pass")
    // guards: cap bounds, empty file, cross-shard duplicates
    for (badCap <- Seq(0, Pq.WideBatchCap + 1)) {
      val ex = intercept[IllegalArgumentException] {
        Pq.searchRerankBatch(e, qids, 10, 8, 8, 64, 100,
          cap = badCap)
      }
      assert(ex.getMessage.contains("cap"), ex.getMessage)
    }
    assert(intercept[IllegalArgumentException] {
      Pq.searchRerankBatch(e, Seq.empty[Long], 10, 8, 8, 64, 100)
    }.getMessage.contains("empty"))
    val dup = intercept[IllegalArgumentException] {
      Pq.searchRerankBatch(e, Seq(1L, 2L, 3L, 4L, 5L, 1L), 10,
        8, 8, 64, 100, cap = 4)
    }
    assert(dup.getMessage.contains("duplicate"),
      s"cross-shard duplicates must fail the WHOLE-file check: ${dup.getMessage}")
  }

  test("sharded wide pass with a keep filter ≡ one filtered wide pass " +
    "(shared code table is keep-pruned once)") {
    // r17 optimization: the sharded driver now encodes ONCE for all
    // chunks; the keep pruning moved with it — this pins that the shared
    // table is the PRUNED one, not the full corpus
    import graft.operators.Pq
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, dir, "embeddings")
    val keep = Tables(spark, dir, "documents")
      .filter(col("lang").isNotNull && col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val qids = (0L until 6L)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(sorted(Pq.searchRerankBatch(e, qids, k = 5,
      numSub = 8, subDim = 8, numCodes = 64, shortlist = 50,
      keep = Some(keep), cap = 2)) ===
      sorted(Pq.searchRerankBatch(e, qids, k = 5, numSub = 8,
        subDim = 8, numCodes = 64, shortlist = 50, keep = Some(keep))),
      "keep-filtered sharded union must equal the single filtered pass")
  }

  test("every batch entry point: cap 1, 3 and |Q| passes union to the same rows") {
    // the one sharded joined-ADC path per algorithm: each q_id lands in
    // exactly one pass and per-query funnels are independent, so the cap
    // only changes how many passes run — never a row. cap = |Q| is the
    // single pass; cap = 1 isolates every query in its own pass.
    import graft.operators.Pq
    val e = Tables(spark, dir, "embeddings")
    val qids = (0L until 6L)
    val external = e.filter(col("vec_id") >= 100L && col("vec_id") < 106L)
      .selectExpr("vec_id - 100 AS q_id",
        "transform(embedding, x -> CAST(x * 0.5F AS FLOAT)) AS q_vec")
    val entries: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "searchRerankBatch" -> (cap => Pq.searchRerankBatch(e, qids, k = 10,
        numSub = 8, subDim = 8, numCodes = 64, shortlist = 100, cap = cap)),
      "searchRerankBatchExternal" -> (cap => Pq.searchRerankBatchExternal(e,
        external, k = 10, numSub = 8, subDim = 8, numCodes = 64,
        shortlist = 100, cap = cap)),
      "ivfpqBatch" -> (cap => Pq.ivfpqBatch(e, qids, k = 10, numSub = 8,
        subDim = 8, numCodes = 64, nProbe = 2, shortlist = 100, cap = cap)),
      "ivfpqResidualBatch" -> (cap => Pq.ivfpqResidualBatch(e, qids, k = 10,
        numSub = 8, subDim = 8, numCodes = 16, nProbe = 2, shortlist = 100,
        cap = cap)))
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    for ((name, serve) <- entries) {
      val one = sorted(serve(qids.size))
      assert(one.map(_._1).distinct === qids && one.length === 60,
        s"$name: every query answers with k rows in one pass")
      for (cap <- Seq(1, 3))
        assert(sorted(serve(cap)) === one,
          s"$name: cap=$cap passes must union to the single pass")
    }
  }

  test("cascade narrow-pack (at-scale) branch ≡ the full-pack batch") {
    // r18: past PackMaterializeMaxBytes the sharded driver stores only
    // the narrow (vec_id, lo, hi) code table and re-derives embedding/v
    // lazily — same rows as the default full-pack searchBatch, pinned
    // here because the gate corpora never take that branch
    import graft.operators.{Cascade, Dedup}
    val raw = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    val qids = (0L until 5L)
    val packed = raw.selectExpr("vec_id", "embedding",
      "CAST(embedding AS ARRAY<DOUBLE>) AS v",
      s"${Cascade.bqHalf("embedding", 0)} AS lo",
      s"${Cascade.bqHalf("embedding", 32)} AS hi")
    val codes = Dedup.materialize(packed.select("vec_id", "lo", "hi"))
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val narrow = Cascade.searchBatch(raw, qids, stage1 = 50, stage2 = 20,
      k = 10, e0 = Some(packed), codes0 = Some(codes))
      .select("q_id", "vec_id", "score")
    val full = Cascade.searchBatch(raw, qids, stage1 = 50, stage2 = 20, k = 10)
      .select("q_id", "vec_id", "score")
    assert(sorted(narrow) === sorted(full))
  }

  test("cascade full-pack gate reads the in-memory pack estimate, both sides") {
    // the budget models the materialized pack (float embedding + double
    // cast + two sign words per row), not compressed file bytes
    import graft.operators.Cascade
    assert(Cascade.PackRowBytes === 4 * 64 + 8 * 64 + 16)
    val rows = Cascade.PackMaterializeMaxBytes / Cascade.PackRowBytes
    assert(Cascade.fullPackFits(rows))
    assert(!Cascade.fullPackFits(rows + 1))
    assert(Cascade.fullPackFits(Tables(spark, dir, "embeddings").count()))
  }
}
