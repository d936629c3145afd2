package graft

import org.apache.spark.sql.functions._
import graft.operators.{Knn, MetaPredicate}

/** Boundary behavior a library user hits in practice. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
  ).toDF("vec_id", "embedding")
  private lazy val query = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("q_vec")

  test("topK with k larger than the corpus returns the whole corpus") {
    assert(Knn.topK(corpus, query, 100, Knn.Cosine).count() == 2)
  }

  test("prefilter with zero survivors returns empty, not an error") {
    val meta = Seq((1L, "de"), (2L, "de")).toDF("doc_id", "lang")
    val r = Knn.prefilterKnn(corpus, meta, col("lang") === "en", query, 5, Knn.Cosine)
    assert(r.count() == 0)
  }

  test("batchKnn with an empty query set returns empty") {
    val none = corpus.filter(col("vec_id") < 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    assert(Knn.batchKnn(corpus, none, 3, Knn.Cosine).count() == 0)
  }

  test("empty predicate list compiles to always-true") {
    assert(corpus.filter(MetaPredicate.compile(Seq.empty)).count() == 2)
  }

  test("dedup on an empty corpus yields empty results") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.exact(empty).count() == 0)
    assert(graft.operators.Dedup.minhashLsh(empty, 12, 3).count() == 0)
  }

  test("radius search with an unreachable threshold returns empty") {
    assert(Knn.radius(corpus, query, 0L, Knn.L2).count() == 0)
  }

  test("radius never truncates: every qualifying vector is returned") {
    // threshold above the max distance ⇒ the whole corpus comes back
    assert(Knn.radius(corpus, query, Long.MaxValue, Knn.L2).count() == 2)
  }

  test("PQ search with a filter matching nothing returns empty, not an error") {
    val emb = (0L until 70L).map(i =>
      (i, Array.tabulate(16)(d => (i * 16 + d).toFloat / 100))).toDF("vec_id", "embedding")
    val none = emb.filter(col("vec_id") < 0).select("vec_id")
    val r = graft.operators.Pq.searchRerank(emb, qid = 0, k = 5,
      numSub = 2, subDim = 8, numCodes = 16, shortlist = 10, keep = Some(none))
    assert(r.count() == 0)
  }

  test("PQ tolerates a codebook larger than the corpus") {
    // numCodes=64 but only 10 vectors exist → 10 codewords per subspace
    val emb = (0L until 10L).map(i =>
      (i, Array.tabulate(16)(d => (i * 16 + d).toFloat / 100))).toDF("vec_id", "embedding")
    val r = graft.operators.Pq.searchRerank(emb, qid = 0, k = 5,
      numSub = 2, subDim = 8, numCodes = 64, shortlist = 10)
    assert(r.count() == 5)
  }

  test("HLL estimate over an empty input yields no groups (not a crash)") {
    val empty = Seq.empty[(String, Long)].toDF("event_type", "event_id")
    val sketch = graft.operators.Hll.sketchAgg(
      graft.operators.Hll.bucketRho(empty,
        "concat('hll', CAST(event_id AS STRING))", Seq("event_type")),
      Seq("event_type"))
    assert(graft.operators.Hll.estimate(sketch, Seq("event_type")).count() == 0)
  }

  test("connectedComponents on an empty edge list returns empty") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(graft.operators.Dedup.connectedComponents(empty).count() == 0)
  }

  test("connectedComponents handles self-loops and duplicate edges") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("a_id", "b_id")
    val comp = graft.operators.Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L))
  }

  test("saltedJoin with an empty small side returns empty; keys absent from dim drop") {
    import graft.operators.Salting
    val big = Seq(("a", 1L), ("b", 2L)).toDF("key", "v")
    val empty = Seq.empty[(String, Long)].toDF("key", "w")
    assert(Salting.saltedJoin(big, empty, "key", salts = 4).count() == 0)
    val partial = Seq(("a", 10L)).toDF("key", "w")
    val r = Salting.saltedJoin(big, partial, "key", salts = 4)
      .select("key").as[String].collect()
    assert(r.toSeq == Seq("a"), "inner semantics: unmatched keys drop")
  }

  test("passageDups: all-null or sub-chunk corpus yields empty, not an error") {
    import graft.operators.Dedup
    val nulls = Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text")
    assert(Dedup.passageDups(nulls, 4).count() == 0)
    val distinct = Seq((1L, "one two"), (2L, "three four")).toDF("doc_id", "text")
    assert(Dedup.passageDups(distinct, 4).count() == 0, "no cross-doc chunk repeats")
  }

  test("multiProbeSearch with maxFlips 0 equals single-bucket annSearch") {
    import graft.operators.Lsh
    val single = Lsh.annSearch(corpus, query, 5, numPlanes = 2, dims = 2)
      .select("vec_id").as[Long].collect().toSet
    val zeroFlip = Lsh.multiProbeSearch(corpus, query, 5, numPlanes = 2, dims = 2,
        maxFlips = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(zeroFlip == single)
  }

  test("ZOrder zval formula: interleave round-trips known bit patterns") {
    // u = 0b1010, d = 0b0101 → zval bits: u at even, d at odd positions
    val r = spark.sql(
        s"SELECT ${graft.operators.ZOrder.zvalExpr("10", "5", 4)} AS z")
      .as[Long].head()
    // u bits (LSB first) 0,1,0,1 at even slots; d bits 1,0,1,0 at odd slots
    // z = u0·1 + d0·2 + u1·4 + d1·8 + … = 0 + 2 + 4 + 0 + 0 + 32 + 64 + 0
    assert(r == 2L + 4L + 32L + 64L)
  }

  test("PqNearestCode rejects vectors shorter than the subspace span") {
    val emb = Seq((0L, Array.tabulate(4)(_.toFloat))).toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val cb = Array(Array.fill(8)(0.0))
    val ex = intercept[Exception] {
      emb.select(graft.functions.pq.nearestCode(col("v"), cb, m = 0, subDim = 8)).collect()
    }
    assert(ex.getMessage.contains("dims") || ex.getCause != null)
  }

  test("trained codebook search still returns k when sample exceeds the corpus") {
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(16)(d => (i * 16 + d).toFloat / 100))).toDF("vec_id", "embedding")
    val cb = graft.operators.Pq.trainedCodebook(emb,
      numSub = 2, subDim = 8, numCodes = 8, iters = 1, sampleMax = 1000)
    val r = graft.operators.Pq.searchRerankCb(emb, cb, qid = 0, k = 5,
      numSub = 2, subDim = 8, shortlist = 10)
    assert(r.count() == 5)
  }

  test("batched PQ paths refuse query ids absent from the corpus") {
    // a silently-dropped query would vanish from the answer set — the
    // guard names the missing ids instead
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(16)(d => (i * 16 + d).toFloat / 100))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Pq.searchRerankBatch(emb, qids = Seq(0L, 999999L),
        k = 3, numSub = 2, subDim = 8, numCodes = 8, shortlist = 10).collect()
    }
    assert(e1.getMessage.contains("999999"), e1.getMessage)
    val embL = (0L until 40L).map(i =>
      (i, (i % 4).toInt, Array.tabulate(16)(d => (i * 16 + d).toFloat / 100)))
      .toDF("vec_id", "label", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Pq.ivfpqResidualBatch(embL, qids = Seq(999999L),
        k = 3, numSub = 2, subDim = 8, numCodes = 8, nProbe = 2,
        shortlist = 10).collect()
    }
    assert(e2.getMessage.contains("999999"), e2.getMessage)
    // the single-query forms are one-query calls of the batch serves and
    // inherit the guard
    import graft.operators.Pq
    val path = TmpDirs.wiped("edge_pq_absent")
    Pq.buildAndWriteIndex(emb, path, numSub = 2, subDim = 8, numCodes = 8)
    val singles: Seq[(String, () => Any)] = Seq(
      "searchRerank" -> (() => Pq.searchRerank(emb, qid = 999999, k = 3,
        numSub = 2, subDim = 8, numCodes = 8, shortlist = 10).collect()),
      "searchRerankCb" -> (() => Pq.searchRerankCb(emb,
        Pq.seededCodebook(emb, numSub = 2, subDim = 8, numCodes = 8), qid = 999999,
        k = 3, numSub = 2, subDim = 8, shortlist = 10).collect()),
      "ivfpqResidual" -> (() => Pq.ivfpqResidual(embL, qid = 999999, k = 3,
        numSub = 2, subDim = 8, numCodes = 8, nProbe = 2, shortlist = 10).collect()),
      "searchPersisted" -> (() => Pq.searchPersisted(spark, path, emb, qid = 999999L,
        k = 3, numSub = 2, subDim = 8, shortlist = 10).collect()))
    for ((name, serve) <- singles) {
      val e = intercept[IllegalArgumentException](serve())
      assert(e.getMessage.contains(s"$name: query ids absent from the corpus: 999999"),
        s"$name: ${e.getMessage}")
    }
  }

  test("batched PQ paths refuse duplicate query ids, naming them") {
    // duplicated qids would otherwise surface as an ambiguous-reference
    // AnalysisException on adist_<q> far from the cause (r8 ADVICE)
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(16)(d => (i * 16 + d).toFloat / 100))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Pq.searchRerankBatch(emb, qids = Seq(0L, 1L, 0L),
        k = 3, numSub = 2, subDim = 8, numCodes = 8, shortlist = 10)
    }
    assert(e.getMessage.contains("duplicate") && e.getMessage.contains("0"), e.getMessage)
  }

  test("wide-batch PQ guards: over-cap at entry, duplicates named, absent ids refused") {
    import graft.operators.Pq
    // an over-cap pass size refuses BEFORE any Spark work (emptyDataFrame
    // would throw its own error on any action)
    val e1 = intercept[IllegalArgumentException] {
      Pq.searchRerankBatch(spark.emptyDataFrame, qids = (0L until 8L),
        k = 3, numSub = 2, subDim = 8, numCodes = 8, shortlist = 10,
        cap = Pq.WideBatchCap + 1)
    }
    assert(e1.getMessage.contains("4097") && e1.getMessage.contains("shard"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Pq.ivfpqResidualBatch(spark.emptyDataFrame, qids = Seq(1L, 2L, 1L),
        k = 3, numSub = 2, subDim = 8, numCodes = 8, nProbe = 2, shortlist = 10)
    }
    assert(e2.getMessage.contains("duplicate") && e2.getMessage.contains("1"),
      e2.getMessage)
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(16)(d => (i * 16 + d).toFloat / 100))).toDF("vec_id", "embedding")
    val e3 = intercept[IllegalArgumentException] {
      Pq.searchRerankBatch(emb, qids = Seq(0L, 999999L),
        k = 3, numSub = 2, subDim = 8, numCodes = 8, shortlist = 10)
    }
    assert(e3.getMessage.contains("999999"), e3.getMessage)
  }

  test("ivfpqBatch answers a 65-query file; each slice equals the single-query run") {
    // 65 queries was the old literal form's refusal point; the one batch
    // path serves any file size, and each query's rows must still equal
    // the single-query composition (probe -> keep -> searchRerank)
    import graft.operators.{Ivf, Pq}
    import org.apache.spark.sql.functions.broadcast
    val e = (0L until 120L).map(i =>
      (i, (i % 4).toInt, Array.tabulate(16)(d => math.sin(i * 1.37 + d * 0.71).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val batch = Pq.ivfpqBatch(e, qids = (0L until 65L), k = 3, numSub = 2,
      subDim = 8, numCodes = 8, nProbe = 2, shortlist = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.map(_._1).distinct.sorted.toSeq === (0L until 65L))
    val cent = Ivf.centroids(e)
    for (qid <- 0 until 65) {
      val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("q_vec"))
      val keep = e.join(broadcast(Ivf.probe(cent, qv, nProbe = 2)), "label").select("vec_id")
      val single = Pq.searchRerank(e, qid = qid, k = 3, numSub = 2, subDim = 8,
        numCodes = 8, shortlist = 10, keep = Some(keep))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val slice = batch.filter(_._1 == qid.toLong).sortBy(_._3)
        .map(t => (t._2, t._4)).toSeq
      assert(slice === single, s"q$qid: batch $slice vs single $single")
    }
  }
}
