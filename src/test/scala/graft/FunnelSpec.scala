package graft

import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, KMeans}

/** Round-10 additions: A43 `knn_cascade` (three-stage quantizer funnel),
  * A14d `knn_ivf_hnsw` (HNSW coarse quantizer over the centroid frame),
  * B37 `text_bigram_lm` (bigram-LM surprisal score). Each entry is
  * oracle-checked at the driver; these specs re-derive the results from
  * INDEPENDENT driver-side reconstructions (plain Scala double/long
  * arithmetic, no Spark expressions), so an engine-side expression bug
  * and its oracle transliteration cannot cancel out.
  */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def embRows(): Array[(Long, Array[Float])] =
    Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)

  test("knn_cascade replays a driver-side reconstruction of the full funnel") {
    val entry = SparkEntry.queries("knn_cascade")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(entry.size == 10)

    val rows = embRows()
    val all = rows.map { case (id, v) => (id, v.map(_.toDouble)) }
    val q = all.find(_._1 == 3L).get._2
    val mn = all.iterator.map(_._2.min).min
    val mx = all.iterator.map(_._2.max).max

    def bq(v: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      var j = 0
      while (j < 32) {
        if (v(j) > 0.0) lo |= (1L << j)
        if (v(32 + j) > 0.0) hi |= (1L << j)
        j += 1
      }
      (lo, hi)
    }
    val (qlo, qhi) = bq(q)
    val s1 = all.filter(_._1 != 3L).map { case (id, v) =>
      val (lo, hi) = bq(v)
      val ham = java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi)
      (ham.toLong, id, v)
    }.sortBy { case (h, id, _) => (h, id) }.take(100)

    def sq8(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(((x - mn) * 255.0) / (mx - mn)).toLong)
    val qb = sq8(q)
    val s2 = s1.map { case (ham, id, v) =>
      val qa = sq8(v)
      var d8 = 0L; var i = 0
      while (i < qa.length) { val d = qa(i) - qb(i); d8 += d * d; i += 1 }
      (d8, id, v, ham)
    }.sortBy { case (d8, id, _, _) => (d8, id) }.take(25)

    val fin = s2.map { case (d8, id, v, ham) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); na += v(i) * v(i); nb += q(i) * q(i); i += 1 }
      val score = math.floor((dot / (math.sqrt(na) * math.sqrt(nb))) * 10000 + 0.5).toLong
      (score, id, d8, ham)
    }.sortBy { case (sc, id, _, _) => (-sc, id) }.take(10)
      .map { case (sc, id, d8, ham) => (id, sc, d8, ham) }.toSeq

    assert(entry == fin)

    // funnel containment: each stage only narrows the previous one
    val s1Ids = s1.map(_._2).toSet
    val s2Ids = s2.map(_._2).toSet
    assert(s2Ids.subsetOf(s1Ids) && entry.map(_._1).toSet.subsetOf(s2Ids))
  }

  test("knn_ivf_cascade replays a driver-side probe + funnel reconstruction") {
    val entry = SparkEntry.queries("knn_ivf_cascade")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(entry.size == 10)

    val rows = Tables(spark, dir, "embeddings").select("vec_id", "label", "embedding")
      .as[(Long, Long, Array[Float])].collect().sortBy(_._1)
    val all = rows.map { case (id, lab, v) => (id, lab, v.map(_.toDouble)) }
    val q = all.find(_._1 == 0L).get._3

    def scaledCos(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor((dot / (math.sqrt(na) * math.sqrt(nb))) * 10000 + 0.5).toLong
    }
    // per-label mean centroid, double accumulate then FLOAT cast — the
    // Ivf.centroids / centSql convention the ivfsq oracle already pins
    val probes = all.groupBy(_._2).map { case (lab, vs) =>
      val dim = vs.head._3.length
      val m = new Array[Double](dim)
      vs.foreach { case (_, _, v) => var i = 0; while (i < dim) { m(i) += v(i); i += 1 } }
      (lab, m.map(x => (x / vs.length).toFloat.toDouble))
    }.toSeq.map { case (lab, c) => (-scaledCos(c, q), lab) }
      .sorted.take(2).map(_._2).toSet

    val body = all.filter { case (id, lab, _) => id != 0L && probes(lab) }
    assert(body.size > 50, "stage-1 cut must be active at the gate scale")
    // calibration is an index-build property: full corpus, not the body
    val mn = all.iterator.map(_._3.min).min
    val mx = all.iterator.map(_._3.max).max

    def bq(v: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L; var j = 0
      while (j < 32) {
        if (v(j) > 0.0) lo |= (1L << j)
        if (v(32 + j) > 0.0) hi |= (1L << j)
        j += 1
      }
      (lo, hi)
    }
    val (qlo, qhi) = bq(q)
    val s1 = body.map { case (id, _, v) =>
      val (lo, hi) = bq(v)
      ((java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi)).toLong, id, v)
    }.sortBy { case (h, id, _) => (h, id) }.take(50)

    def sq8(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(((x - mn) * 255.0) / (mx - mn)).toLong)
    val qb = sq8(q)
    val s2 = s1.map { case (ham, id, v) =>
      val qa = sq8(v)
      var d8 = 0L; var i = 0
      while (i < qa.length) { val d = qa(i) - qb(i); d8 += d * d; i += 1 }
      (d8, id, v, ham)
    }.sortBy { case (d8, id, _, _) => (d8, id) }.take(25)

    val fin = s2.map { case (d8, id, v, ham) => (scaledCos(v, q), id, d8, ham) }
      .sortBy { case (sc, id, _, _) => (-sc, id) }.take(10)
      .map { case (sc, id, d8, ham) => (id, sc, d8, ham) }.toSeq
    assert(entry == fin)

    // every survivor came from a probed cluster, through both cuts
    val lbl = all.map(t => t._1 -> t._2).toMap
    assert(entry.forall { case (id, _, _, _) => probes(lbl(id)) })
    assert(entry.map(_._1).toSet.subsetOf(s2.map(_._2).toSet))
  }

  test("knn_ivf_hnsw probe selection matches the scaled-sqrt centroid ranking") {
    val e = Tables(spark, dir, "embeddings")
    val corpus = e.select("vec_id", "embedding").filter(col("vec_id") =!= 21)
    val (cent, qemb) = KMeans.fitInt(corpus, k = 10, iters = 3)
    val qv = graft.operators.Pq.quantized(e.filter(col("vec_id") === 21))
      .select("q").head.getSeq[Long](0).toArray

    // driver-side reference ranking under the HNSW score contract:
    // floor(sqrt(d²)·10⁴ + 0.5), ties to the lower label
    def scaledDist(c: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < c.length) { val d = c(i) - qv(i); acc += d * d; i += 1 }
      math.floor(math.sqrt(acc.toDouble) * 10000 + 0.5).toLong
    }
    val expectProbe = cent.map { case (cl, v) => (cl, scaledDist(v)) }
      .sortBy { case (cl, s) => (s, cl) }.take(3).map(_._1).toSet

    val centDf = cent.map { case (cl, v) => (cl, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding").repartition(1)
    val graphProbe = Hnsw.searchPerPartition(centDf, qv.map(_.toFloat), k = 3, ef = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(graphProbe == expectProbe)

    // and the entry equals the exact scan restricted to those clusters
    val entry = SparkEntry.queries("knn_ivf_hnsw")(spark, dir)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(entry.size == 10)
    val qLit = s"array(${qv.map(v => s"${v}L").mkString(", ")})"
    val expected = qemb.select(col("vec_id"),
        graft.functions.centroids.nearestLong(col("q"), cent)
          .getField("label").as("cluster"), col("q"))
      .filter(col("cluster").isin(expectProbe.toSeq: _*))
      .selectExpr("vec_id", graft.functions.sqDistLongSql("q", qLit) + " AS score")
      .orderBy(col("score").asc, col("vec_id").asc).limit(10)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(entry == expected)
  }

  test("knn_ivf_hnsw_batch: batched graph probe ≡ per-query ranking; full-corpus self-hits at rank 1") {
    // A14f: the one-pass batched centroid walk must equal the per-query
    // scaled-sqrt ranking for EVERY query in the file, and the pruned
    // scan over the full-corpus index must surface each indexed query's
    // self-hit first (score 0 — its own cluster ranks first in the probe)
    val e = Tables(spark, dir, "embeddings")
    val (cent, _) = KMeans.fitInt(e.select("vec_id", "embedding"), k = 10, iters = 3)
    val qvs = graft.operators.Pq.quantized(e.filter(col("vec_id") < 8))
      .select("vec_id", "q").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq.sortBy(_._1)
    def scaledDist(c: Array[Long], qv: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < c.length) { val d = c(i) - qv(i); acc += d * d; i += 1 }
      math.floor(math.sqrt(acc.toDouble) * 10000 + 0.5).toLong
    }
    val centDf = cent.map { case (cl, v) => (cl, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding").repartition(1)
    val batchedProbe = Hnsw.searchPerPartitionBatch(centDf,
        qvs.map { case (id, q) => (id, q.map(_.toFloat)) }, k = 3, ef = 0)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    qvs.foreach { case (qid, qv) =>
      val expect = cent.map { case (cl, v) => (cl, scaledDist(v, qv)) }
        .sortBy { case (cl, s) => (s, cl) }.take(3).map(_._1).toSet
      assert(batchedProbe(qid) == expect, s"probe mismatch for q$qid")
    }
    val entry = SparkEntry.queries("knn_ivf_hnsw_batch")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(entry.map(_._1).distinct.sorted == (0L until 8L))
    assert(entry.groupBy(_._1).forall(_._2.size == 10))
    entry.filter(_._3 == 1L).foreach { case (qid, vid, _, score) =>
      assert(vid == qid && score == 0L,
        s"q$qid rank-1 must be its own indexed row at score 0, got ($vid, $score)")
    }
  }

  test("knn_cascade_batch per-query slice equals the single-query funnel") {
    val batch = SparkEntry.queries("knn_cascade_batch")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(batch.map(_._1).distinct.size == 8)
    // q_id 3 is the single-query entry's query — its slice must match
    val slice = batch.filter(_._1 == 3L)
      .map { case (_, id, sc, d8, ham) => (id, sc, d8, ham) }
      .sortBy { case (id, sc, _, _) => (-sc, id) }
    val single = SparkEntry.queries("knn_cascade")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(slice == single)
    // every query returns exactly 10 rows, ranked (score desc, id asc)
    batch.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.size == 10)
    }
  }

  test("cascade sharded driver: union of cap-sized chunks equals one batch pass") {
    import graft.operators.Cascade
    val e = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    val qids = (0L to 7L)
    // cap=4 forces two shards; per-query funnels are independent, so the
    // union must equal the whole-file pass row for row
    val sharded = Cascade.searchBatchSharded(e, qids, stage1 = 100, stage2 = 25,
      k = 10, cap = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val whole = Cascade.searchBatch(e, qids, stage1 = 100, stage2 = 25, k = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(sharded == whole)
    // whole-file guards fire BEFORE any pass runs
    val eDup = intercept[IllegalArgumentException] {
      Cascade.searchBatchSharded(e, Seq(1L, 2L, 1L), 100, 25, 10, cap = 4)
    }
    assert(eDup.getMessage.contains("duplicate"))
    val eEmpty = intercept[IllegalArgumentException] {
      Cascade.searchBatchSharded(e, Seq.empty[Long], 100, 25, 10, cap = 4)
    }
    assert(eEmpty.getMessage.contains("empty"))
  }

  test("cascade refuses a query id absent from the corpus loudly") {
    // r11 ADVICE: an unindexed q_id yields no query row, so its group
    // would silently VANISH from the batch output (fewer groups, no
    // error). The presence check rides the calibration aggregation — one
    // corpus pass validates both, at every funnel entry point.
    import graft.operators.Cascade
    val e = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    val eBatch = intercept[IllegalArgumentException] {
      Cascade.searchBatch(e, Seq(0L, 999999L), 100, 25, 10)
    }
    assert(eBatch.getMessage.contains("absent"))
    val eSingle = intercept[IllegalArgumentException] {
      Cascade.searchWide(e, qid = 999999L, stage1 = 100, stage2 = 25, k = 10, dims = 64)
    }
    assert(eSingle.getMessage.contains("absent"))
    val eSharded = intercept[IllegalArgumentException] {
      Cascade.searchBatchSharded(e, Seq(0L, 1L, 999999L), 100, 25, 10, cap = 2)
    }
    assert(eSharded.getMessage.contains("absent"))
  }

  test("presence guard counts distinct ids — a corpus duplicate cannot mask an absent qid") {
    // r12 ADVICE: with a row COUNT, a duplicated present qid exactly
    // cancels an absent one (count == dq.size) and the missing query
    // group still silently vanishes; countDistinct counts matched IDS.
    import graft.operators.Cascade
    val dup = Seq((1L, Array.fill(4)(0.1) :+ 0.9),
      (1L, Array.fill(4)(0.2) :+ 0.8), (3L, Array.fill(4)(0.3) :+ 0.7))
      .toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      Cascade.calibrationAndPresence(dup, Seq(1L, 2L)) // 2 absent; id-1 dup'd
    }
    assert(e.getMessage.contains("absent"))
    // and a benign duplicate of a PRESENT qid must not fail spuriously
    // (a row count would see 2 matches for 1 requested id)
    val ok = Cascade.calibrationAndPresence(dup, Seq(1L))
      .as[(Double, Double)].head()
    assert(ok._2 > ok._1)
  }

  test("hybrid_knn_cascade returns only filter-qualified vectors and replays in plain Scala") {
    val entry = SparkEntry.queries("hybrid_knn_cascade")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(entry.size == 10)
    val keep = Tables(spark, dir, "documents")
      .filter(col("lang").isNotNull && col("lang") === "en")
      .select("doc_id").as[Long].collect().toSet
    assert(entry.forall { case (id, _, _, _) => keep.contains(id) },
      "a non-qualified vector leaked through the filtered funnel")

    // independent plain-Scala replay of the keep-pruned funnel (the
    // knn_cascade reconstruction with the body restricted to keep; the
    // query and calibration stay corpus-wide)
    val rows = embRows()
    val all = rows.map { case (id, v) => (id, v.map(_.toDouble)) }
    val q = all.find(_._1 == 6L).get._2
    val mn = all.iterator.map(_._2.min).min
    val mx = all.iterator.map(_._2.max).max
    def bq(v: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L; var j = 0
      while (j < 32) {
        if (v(j) > 0.0) lo |= (1L << j)
        if (v(32 + j) > 0.0) hi |= (1L << j)
        j += 1
      }
      (lo, hi)
    }
    val (qlo, qhi) = bq(q)
    val s1 = all.filter { case (id, _) => id != 6L && keep.contains(id) }
      .map { case (id, v) =>
        val (lo, hi) = bq(v)
        ((java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi)).toLong, id, v)
      }.sortBy { case (h, id, _) => (h, id) }.take(100)
    def sq8(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(((x - mn) * 255.0) / (mx - mn)).toLong)
    val qb = sq8(q)
    val s2 = s1.map { case (ham, id, v) =>
      val qa = sq8(v)
      var d8 = 0L; var i = 0
      while (i < qa.length) { val d = qa(i) - qb(i); d8 += d * d; i += 1 }
      (d8, id, v, ham)
    }.sortBy { case (d8, id, _, _) => (d8, id) }.take(25)
    val fin = s2.map { case (d8, id, v, ham) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); na += v(i) * v(i); nb += q(i) * q(i); i += 1 }
      (math.floor((dot / (math.sqrt(na) * math.sqrt(nb))) * 10000 + 0.5).toLong, id, d8, ham)
    }.sortBy { case (sc, id, _, _) => (-sc, id) }.take(10)
      .map { case (sc, id, d8, ham) => (id, sc, d8, ham) }.toSeq
    assert(entry == fin)
  }

  test("hybrid_knn_cascade_batch: q_id-6 slice equals the single filtered funnel, all rows qualified") {
    val batch = SparkEntry.queries("hybrid_knn_cascade_batch")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(batch.map(_._1).distinct.size == 8)
    val keep = Tables(spark, dir, "documents")
      .filter(col("lang").isNotNull && col("lang") === "en")
      .select("doc_id").as[Long].collect().toSet
    assert(batch.forall { case (_, id, _, _, _) => keep.contains(id) },
      "a non-qualified vector leaked through the filtered batch funnel")
    val slice = batch.filter(_._1 == 6L)
      .map { case (_, id, sc, d8, ham) => (id, sc, d8, ham) }
      .sortBy { case (id, sc, _, _) => (-sc, id) }
    val single = SparkEntry.queries("hybrid_knn_cascade")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(slice == single)
  }

  test("recall_cascade is monotone in the stage-1 width") {
    val rows = SparkEntry.queries("recall_cascade")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val widths = Seq(25L, 50L, 100L, 200L)
    assert(rows.map(_._1).distinct.sorted == widths)
    assert(rows.size == widths.size * 8)
    // widening the Hamming shortlist adds candidates the later stages may
    // keep; a single query CAN dip (a new arrival can evict a true hit at
    // the fixed sq8 cut), but the aggregate curve must climb — at sf0.001
    // it measures 33→51→68→77 of 80 with wide margins
    val totals = widths.map(w => rows.filter(_._1 == w).map(_._3).sum)
    assert(totals.zip(totals.tail).forall { case (a, b) => a <= b },
      s"aggregate recall not monotone: $totals")
    // at the widest setting the funnel recovers most of exact top-10
    assert(totals.last >= 56, s"recall@w=200 total ${totals.last} < 56/80")
  }

  test("knn_ivfsq replays the probe-restricted sq8 funnel") {
    val e = Tables(spark, dir, "embeddings")
    // probe set from the shared audited operator (IvfSpec pins its
    // ordering); the sq8 + rerank stages reconstruct independently below
    val probed = graft.operators.Ivf.probe(graft.operators.Ivf.centroids(e),
      e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")),
      nProbe = 2)
      .collect().map(_.getAs[Number]("label").longValue()).toSet
    assert(probed.size == 2)
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("label").longValue()).toMap

    val all = embRows().map { case (id, v) => (id, v.map(_.toDouble)) }
    val q = all.find(_._1 == 0L).get._2
    val mn = all.iterator.map(_._2.min).min
    val mx = all.iterator.map(_._2.max).max
    def sq8(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(((x - mn) * 255.0) / (mx - mn)).toLong)
    val qb = sq8(q)
    val short = all
      .filter { case (id, _) => id != 0L && probed.contains(labels(id)) }
      .map { case (id, v) =>
        val qa = sq8(v); var d8 = 0L; var i = 0
        while (i < qa.length) { val d = qa(i) - qb(i); d8 += d * d; i += 1 }
        (d8, id, v)
      }.sortBy { case (d8, id, _) => (d8, id) }.take(40)
    val fin = short.map { case (d8, id, v) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); na += v(i) * v(i); nb += q(i) * q(i); i += 1 }
      (math.floor((dot / (math.sqrt(na) * math.sqrt(nb))) * 10000 + 0.5).toLong, id, d8)
    }.sortBy { case (sc, id, _) => (-sc, id) }.take(10)
      .map { case (sc, id, d8) => (id, sc, d8) }.toSeq

    val entry = SparkEntry.queries("knn_ivfsq")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(entry == fin)
    // every survivor sits in a probed cluster
    assert(entry.forall { case (id, _, _) => probed.contains(labels(id)) })
  }

  test("text_bigram_lm replays a driver-side bigram-surprisal reference") {
    val entry = SparkEntry.queries("text_bigram_lm")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(entry.nonEmpty)

    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect()
    val bgs = docs.map { case (id, t) =>
      val tk = t.split("\\s+").filter(_.nonEmpty)
      (id, tk.zip(tk.drop(1)))
    }.filter(_._2.nonEmpty)
    val c2 = bgs.iterator.flatMap(_._2.iterator)
      .foldLeft(Map.empty[(String, String), Long]) { (m, p) =>
        m.updated(p, m.getOrElse(p, 0L) + 1L)
      }
    val c1 = c2.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val expected = bgs.map { case (id, pairs) =>
      val bits = pairs.map { case (a, b) =>
        val r = c1(a) / c2((a, b))
        (63 - java.lang.Long.numberOfLeadingZeros(r)).toLong
      }
      val bsum = bits.sum
      (id, bsum, bits.length.toLong, (bsum * 10000L) / bits.length)
    }.toSeq.sortBy(_._1)
    assert(entry == expected)

    // the two quality tails: a perfectly repetitive doc would score 0 bits
    // per bigram; sanity — every surprisal is non-negative and bounded by
    // the corpus-wide log₂ of the largest context
    val maxBits = 63 - java.lang.Long.numberOfLeadingZeros(c1.values.max)
    assert(entry.forall { case (_, _, _, s) => s >= 0 && s <= maxBits * 10000L })
  }

  test("ivf_drift_rebuild: verdict formula self-consistent, both arms fire, membership conserved") {
    // A30b: the oracle hash is the arithmetic gate; this pins the
    // composition invariants — the verdict column equals the threshold
    // formula applied to the entry's own stats, base/arriving membership
    // is conserved (400 base ids, the rest assigned to existing
    // clusters), and BOTH dispatch arms fire at the gate scale (a
    // decision entry where one branch never runs proves nothing).
    val rows = SparkEntry.queries("ivf_drift_rebuild")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nb, nn, mb, mn2, rebuild, served) =>
      val expect = if (mn2 * 10 > mb * 12 || nn * 5 >= nb + nn) 1L else 0L
      assert(rebuild == expect, s"verdict disagrees with its own stats: $rows")
      assert(served > 0)
    }
    assert(rows.map(_._2).sum == 400L, "base membership must cover vec_id < 400")
    assert(rows.map(_._3).sum ==
      Tables(spark, dir, "embeddings").filter(col("vec_id") >= 400).count())
    assert(rows.exists(_._6 == 1L) && rows.exists(_._6 == 0L),
      s"both verdict arms must fire at the gate scale: ${rows.mkString(", ")}")
  }

  test("sq8 calibration refuses a degenerate constant corpus loudly") {
    // r10 ADVICE: mx == mn would divide by zero and null every int8 code,
    // silently collapsing the quantized cut — the guard names the failure
    val const = Seq((0L, Array.fill(64)(0.25)), (1L, Array.fill(64)(0.25)))
      .toDF("vec_id", "v")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Cascade.calibrationStats(const)
    }
    assert(e.getMessage.contains("degenerate"))
    // and the guarded stats frame matches the old joined form on a real
    // corpus (the collected doubles re-enter as exact literals)
    val ev = Tables(spark, dir, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val guarded = graft.operators.Cascade.calibrationStats(ev)
      .as[(Double, Double)].head()
    val joined = ev.agg(min(expr("array_min(v)")), max(expr("array_max(v)")))
      .as[(Double, Double)].head()
    assert(guarded == joined)
  }

  test("adcDistCol validates codebook layout up front") {
    // r10 ADVICE: gapped code ids would throw a bare NoSuchElementException
    // at plan-build time; the guard names the positional-lookup expectation
    val gapped: Array[(Int, Long, Array[Double])] =
      (0 until 8).flatMap(m => Seq((m, 0L, Array.fill(8)(0.1)),
        (m, 2L, Array.fill(8)(0.2)))).toArray
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Pq.adcDistCol(gapped, numSub = 8, subDim = 8)
    }
    assert(e1.getMessage.contains("contiguous"))
    val missing: Array[(Int, Long, Array[Double])] =
      (0 until 7).map(m => (m, 0L, Array.fill(8)(0.1))).toArray
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Pq.adcDistCol(missing, numSub = 8, subDim = 8)
    }
    assert(e2.getMessage.contains("subspaces"))
  }
}
