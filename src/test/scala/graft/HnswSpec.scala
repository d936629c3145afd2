package graft

import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.operators.{Hnsw, Ivf, Knn, MetaPredicate}

/** In-partition HNSW (library + spec, the graph-ANN option for corpora
  * where IVF probing loses recall): measured recall vs the exact scan,
  * determinism under a pinned partitioning, and the degenerate cases. */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables(spark, dir, "embeddings")

  private def queryVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select("embedding")
      .head.getSeq[Float](0).toArray

  test("per-partition HNSW reaches high recall where probe-limited IVF cannot") {
    val corpus = emb.filter(col("vec_id") =!= 7).select("vec_id", "embedding")
    val q = queryVec(7)
    val exact = Knn.topK(corpus,
        emb.filter(col("vec_id") === 7).select(col("embedding").as("q_vec")),
        10, Knn.L2)
      .select("vec_id").as[Long].collect().toSet
    val approx = Hnsw.searchPerPartition(corpus.repartition(4, col("vec_id")), q, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = approx.intersect(exact).size
    // this corpus is the documented IVF recall-collapse regime
    // (probe-3-of-10 IVF reaches 2–4/10 here, IvfTrainedSpec); the graph
    // searches EVERY partition, so only local beam quality bounds recall
    assert(recall >= 8, s"hnsw recall@10 = $recall/10")
  }

  test("exact-rescored scores match the engine's scaled L2 for returned ids") {
    val corpus = emb.filter(col("vec_id") =!= 7).select("vec_id", "embedding")
    val res = Hnsw.searchPerPartition(corpus.repartition(4, col("vec_id")), queryVec(7), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Knn.topK(corpus,
        emb.filter(col("vec_id") === 7).select(col("embedding").as("q_vec")),
        500, Knn.L2)
      .select("vec_id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    res.foreach { case (id, s) => assert(expected(id) == s, s"score mismatch for $id") }
  }

  test("deterministic under a pinned partitioning") {
    val corpus = emb.select("vec_id", "embedding").repartition(4, col("vec_id"))
    val q = queryVec(0)
    val a = Hnsw.searchPerPartition(corpus, q, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Hnsw.searchPerPartition(corpus, q, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    assert(a.size == 10)
  }

  // ----- ACORN-1 filtered traversal (acorn.py:149 acorn_search) -----

  private def corpusWithPass(pred: org.apache.spark.sql.Column, exclId: Long) = {
    val d = Tables(spark, dir, "documents")
    emb.filter(col("vec_id") =!= exclId).select("vec_id", "embedding")
      .join(d.filter(pred).select(col("doc_id"), lit(true).as("pass")),
        col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"), col("embedding"),
        coalesce(col("pass"), lit(false)).as("pass"))
      .repartition(4, col("vec_id"))
  }

  test("saturated ACORN walk equals the exact pre-filtered top-k") {
    import graft.operators.MetaPredicate
    val pred = MetaPredicate("lang" -> ("exact", "zh"))
    val q = queryVec(11)
    val got = Hnsw.searchFilteredPerPartition(corpusWithPass(pred, 11), q, 10, metaSearch = 256)
      .select("vec_id", "score").as[(Long, Long)].collect().toSeq
    val exact = Knn.prefilterKnn(
        emb.filter(col("vec_id") =!= 11).select("vec_id", "embedding"),
        Tables(spark, dir, "documents"), pred,
        emb.filter(col("vec_id") === 11).select(col("embedding").as("q_vec")),
        10, Knn.L2)
      .select("vec_id", "score").as[(Long, Long)].collect().toSeq
    assert(got == exact)
  }

  test("ACORN walk routes THROUGH blocked nodes to survivors behind them") {
    // a 1-D chain: only the far end passes the filter, so every path from
    // the entry runs through filter-failing nodes. Blocking must leave
    // them traversable or the walk strands at the near end.
    val g = new Hnsw.Graph(2, 4, 16)
    (0 until 40).foreach(i => g.insert(i.toLong, Array(i.toFloat, 0f)))
    val far = (35L to 39L).toSet
    val got = g.searchFiltered(Array(0f, 0f), 5, far, metaSearch = 64).map(_._1).toSet
    assert(got == far, s"expected the far-end survivors, got $got")
  }

  test("filtered search is deterministic and only returns passing ids") {
    import graft.operators.MetaPredicate
    val pred = MetaPredicate("n_chars" -> ("<", 200))
    val q = queryVec(3)
    val passing = Tables(spark, dir, "documents").filter(pred)
      .select("doc_id").as[Long].collect().toSet
    val run = () => Hnsw.searchFilteredPerPartition(corpusWithPass(pred, 3), q, 10, metaSearch = 64)
      .select("vec_id", "score").as[(Long, Long)].collect().toSeq
    val a = run(); val b = run()
    assert(a == b)
    assert(a.nonEmpty && a.forall { case (id, _) => passing(id) })
  }

  test("two-hop (ACORN-γ) walk: recall ≥ one-hop at equal visit budgets, saturated ≡ exact") {
    // r12 verdict next #4: the reference doubles M to keep the one-hop
    // walk from blocking (acorn.py:34); the ACORN paper's principled fix
    // is predicate-subgraph traversal via two-hop expansion. At EQUAL
    // per-round visit budgets on the class-1 selective predicate the
    // bridged walk must reach at least as much of the exact answer —
    // that is the entire point of the flag.
    import graft.operators.MetaPredicate
    val pred = MetaPredicate("lang" -> ("exact", "zh"), "n_chars" -> ("<", 150))
    val q = queryVec(17)
    val corpus = corpusWithPass(pred, 17).localCheckpoint(true)
    val exact = Knn.prefilterKnn(
        emb.filter(col("vec_id") =!= 17).select("vec_id", "embedding"),
        Tables(spark, dir, "documents"), pred,
        emb.filter(col("vec_id") === 17).select(col("embedding").as("q_vec")),
        10, Knn.L2)
      .select("vec_id").as[Long].collect().toSet
    def recall(budget: Int, twoHop: Boolean): Int =
      Hnsw.searchFilteredPerPartition(corpus, q, 10, metaSearch = budget,
          twoHop = twoHop)
        .select("vec_id").as[Long].collect().toSet.intersect(exact).size
    val budgets = Seq(4, 8, 16, 32, 64)
    val curve = budgets.map(b => (b, recall(b, twoHop = false), recall(b, twoHop = true)))
    info(s"budget -> (one-hop, two-hop) recall@10: " +
      curve.map { case (b, o, t) => s"$b->($o,$t)" }.mkString(", "))
    curve.foreach { case (b, one, two) =>
      assert(two >= one, s"budget $b: two-hop recall $two < one-hop $one")
    }
    assert(curve.map(_._3).sum > curve.map(_._2).sum,
      s"two-hop must beat one-hop somewhere on the budget curve: $curve")
    // saturated (sentinel) walks are exact under BOTH flags — the bridge
    // changes budget-bound traversal order only
    val sat1 = Hnsw.searchFilteredPerPartition(corpus, q, 10, metaSearch = 0)
      .select("vec_id", "score").as[(Long, Long)].collect().toSeq
    val sat2 = Hnsw.searchFilteredPerPartition(corpus, q, 10, metaSearch = 0,
        twoHop = true)
      .select("vec_id", "score").as[(Long, Long)].collect().toSeq
    assert(sat1 == sat2)
    assert(sat1.map(_._1).toSet.subsetOf(exact) && sat1.size == math.min(10, exact.size))
  }

  test("searchFilteredPerPartitionSweep equals the per-call filtered walks cell for cell") {
    // the one-build-many-walks amortization must be invisible in the
    // results: every (budget, twoHop) cell of the sweep is bit-identical
    // to an independent searchFilteredPerPartition call (construction is
    // deterministic, so both build the same graphs)
    import graft.operators.MetaPredicate
    val pred = MetaPredicate("lang" -> ("exact", "zh"), "n_chars" -> ("<", 150))
    val q = queryVec(17)
    val corpus = corpusWithPass(pred, 17).localCheckpoint(true)
    val settings = Seq((8, false), (8, true), (32, false), (32, true), (0, true))
    val sweep = Hnsw.searchFilteredPerPartitionSweep(corpus, q, 10, settings)
      .collect().map(r => ((r.getLong(0), r.getBoolean(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    settings.foreach { case (b, th) =>
      val single = Hnsw.searchFilteredPerPartition(corpus, q, 10,
          metaSearch = b, twoHop = th)
        .select("vec_id", "score").as[(Long, Long)].collect().toSet
      assert(sweep.getOrElse((b.toLong, th), Set.empty) == single,
        s"sweep cell ($b, $th) diverged from the per-call walk")
    }
  }

  test("recall_hnsw_2hop entry: every (budget, mode) row sits at its floor") {
    // A51: the spec's budget-curve measurement as the driver gates it —
    // least(n_hit, floor) == floor ⇔ measured ≥ floor, and the gain rows
    // pin two-hop ≥ one-hop at every budget (the never-loses half of the
    // curve claim; the strict win above stays spec-level)
    val rows = SparkEntry.queries("recall_hnsw_2hop")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val expect = graft.queries.HybridQueries.TwoHopBudgets.flatMap {
      case (b, one, two, gain) => Seq(
        (b.toLong, "one") -> one, (b.toLong, "two") -> two,
        (b.toLong, "gain") -> gain)
    }.toMap
    assert(rows == expect)
  }

  test("two-hop walk routes through an all-blocked chain exactly like one-hop") {
    // the anti-stall contract is flag-independent: every path to the far
    // end runs through failing nodes, and both walks must reach it
    val g = new Hnsw.Graph(2, 4, 16)
    (0 until 40).foreach(i => g.insert(i.toLong, Array(i.toFloat, 0f)))
    val far = (35L to 39L).toSet
    val got = g.searchFiltered(Array(0f, 0f), 5, far, metaSearch = 64,
      twoHop = true).map(_._1).toSet
    assert(got == far, s"expected the far-end survivors, got $got")
  }

  test("nothing passes → empty result, walk does not stall") {
    val g = new Hnsw.Graph(2, 4, 16)
    (0 until 20).foreach(i => g.insert(i.toLong, Array(i.toFloat, 0f)))
    assert(g.searchFiltered(Array(0f, 0f), 5, _ => false, metaSearch = 64).isEmpty)
  }

  test("persisted graphs search identically to freshly built ones") {
    val corpus = emb.select("vec_id", "embedding").repartition(4, col("vec_id"))
    val q = queryVec(5)
    val path = graft.TmpDirs.path("hnsw_spec_index")
    Hnsw.buildAndWrite(corpus, path, dims = 64, numParts = 4)
    val fresh = Hnsw.searchPerPartition(corpus, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val persisted = Hnsw.searchPersisted(spark, path, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(persisted == fresh)
    assert(persisted.size == 10)
  }

  test("filtered search over the persisted index equals the fresh filtered walk") {
    import graft.operators.MetaPredicate
    val pred = MetaPredicate("lang" -> ("exact", "zh"))
    val q = queryVec(11)
    val corpus = emb.select("vec_id", "embedding").repartition(4, col("vec_id"))
    val path = graft.TmpDirs.path("hnsw_spec_filtered")
    Hnsw.buildAndWrite(corpus, path, dims = 64, numParts = 4)
    val passing = Tables(spark, dir, "documents").filter(pred)
      .select(col("doc_id").as("vec_id"))
    val persisted = Hnsw.searchFilteredPersisted(spark, path, passing, 4, q, 10,
        metaSearch = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fresh = Hnsw.searchFilteredPerPartition(
        emb.select("vec_id", "embedding")
          .join(Tables(spark, dir, "documents").filter(pred)
            .select(col("doc_id"), lit(true).as("pass")),
            col("vec_id") === col("doc_id"), "left")
          .select(col("vec_id"), col("embedding"),
            coalesce(col("pass"), lit(false)).as("pass"))
          .repartition(4, col("vec_id")),
        q, 10, metaSearch = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(persisted == fresh)
    assert(persisted.size == 10)
  }

  test("ACORN survivors grow monotonically with the visit budget") {
    // the round sequence is deterministic, so a smaller metaSearch runs a
    // strict PREFIX of a larger one's rounds — survivor sets must nest;
    // and the saturating budget must recover the exact filtered top-k
    import graft.operators.MetaPredicate
    val pred = MetaPredicate("lang" -> ("exact", "zh"))
    val q = queryVec(11)
    val corpus = corpusWithPass(pred, 11)
    // k=500 > any survivor count, so no global top-k cut interferes with
    // the nesting property (a larger budget's better survivors would
    // otherwise displace a smaller budget's from the top-10)
    val at = Seq(4, 16, 64, 512).map { b =>
      b -> Hnsw.searchFilteredPerPartition(corpus, q, 500, metaSearch = b)
        .select("vec_id").as[Long].collect().toSet
    }
    at.sliding(2).foreach { case Seq((b1, s1), (b2, s2)) =>
      assert(s1.subsetOf(s2), s"budget $b1 found ${s1 -- s2} that budget $b2 missed")
    }
    val exact = Knn.prefilterKnn(
        emb.filter(col("vec_id") =!= 11).select("vec_id", "embedding"),
        Tables(spark, dir, "documents"), pred,
        emb.filter(col("vec_id") === 11).select(col("embedding").as("q_vec")),
        10, Knn.L2)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.subsetOf(at.last._2),
      s"saturated walk missed exact hits ${exact -- at.last._2}")
  }

  test("tiny and empty partitions") {
    val corpus = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
      .repartition(8, col("vec_id")) // most partitions empty
    val res = Hnsw.searchPerPartition(corpus, queryVec(0), 10)
      .select("vec_id").as[Long].collect().toSet
    assert(res == Set(0L, 1L, 2L))
  }

  // ----- saturated-mode exactness under broken connectivity (ADVICE r5:
  // the one-sided degree prune in insert() can orphan a node; the
  // saturating contract is EXACT, so the sweep must recover it) -----

  /** Adversarial graph via the restore path: nodes 0–3 interlinked at
    * layer 0, node 4 with NO in- or out-edges — unreachable from the
    * entry point by construction, and sitting exactly at the query. */
  private def orphanGraph(): Hnsw.Graph = {
    val g = new Hnsw.Graph(2, 16, 64)
    val ring = Array(
      Array(1.0f, 0.0f), Array(0.0f, 1.0f), Array(-1.0f, 0.0f), Array(0.0f, -1.0f))
    val others = Array(Array(1, 2, 3), Array(0, 2, 3), Array(0, 1, 3), Array(0, 1, 2))
    (0 until 4).foreach(i => g.restoreNode(i.toLong, ring(i), 0, Array(others(i))))
    g.restoreNode(4L, Array(0.0f, 0.0f), 0, Array(Array.empty[Int]))
    g.restoreEntry(0, 0)
    g
  }

  test("saturated search sweeps orphaned nodes (exact despite connectivity)") {
    val q = Array(0.0f, 0.0f) // the orphan IS the nearest neighbor
    val g = orphanGraph()
    // realistic beam: the walk cannot reach the orphan — documents that
    // the sweep is what restores exactness, not the beam itself
    val beamOnly = g.search(q, 1, ef = 2).map(_._1)
    assert(beamOnly.nonEmpty && !beamOnly.contains(4L),
      s"beam unexpectedly reached the orphan: $beamOnly")
    // saturating beam (ef >= size): the sweep must surface the orphan
    val exact = g.search(q, 1, ef = 5).map(_._1)
    assert(exact == Seq(4L), s"saturated search missed the orphan: $exact")
    assert(g.search(q, 5, ef = 5).map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("saturated filtered walk sweeps passing orphans") {
    val q = Array(0.0f, 0.0f)
    val g = orphanGraph()
    // the sentinel parameterization the driver entries use: budget/beam/
    // return-cut all >= size
    val res = g.searchFiltered(q, 5, id => id != 1L, metaSearch = 15,
      largeK = 5, ef = 5).map(_._1).toSet
    assert(res == Set(0L, 2L, 3L, 4L), s"sweep missed a passing orphan: $res")
    // realistic budget: orphan stays unreachable (no sweep below saturation)
    val beam = g.searchFiltered(q, 5, id => id != 1L, metaSearch = 4,
      largeK = 2, ef = 2).map(_._1).toSet
    assert(!beam.contains(4L), s"unsaturated walk should not sweep: $beam")
  }

  test("buildAndWrite fails loudly past maxRowsPerGraph") {
    val corpus = emb.select("vec_id", "embedding")
    val err = intercept[Exception] {
      Hnsw.buildAndWrite(corpus, graft.TmpDirs.path("hnsw_guard_spec"),
        dims = 64, numParts = 2, maxRowsPerGraph = 10)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(err).exists(m => m != null && m.contains("maxRowsPerGraph")),
      s"guard message missing: ${messages(err)}")
  }

  // ---- resident serving: the registry of restored graphs, and the
  // engine's resident relation, against the per-query operators, on both
  // sides of the driver budget ----

  /** Each side of the driver budget: serving state on the driver (the
    * budget unbounded) or in Spark (budget 0). */
  private val Sides = Seq(true -> Long.MaxValue, false -> 0L)

  /** `body` once per side, each with the index at `paths` restored afresh. */
  private def onBothSides(paths: String*)(body: Boolean => Unit): Unit =
    Sides.foreach { case (driver, budget) =>
      paths.foreach(Hnsw.release)
      try DriverResident.withBudget(budget)(withClue(s"[driver=$driver] ")(body(driver)))
      finally paths.foreach(Hnsw.release)
    }

  /** (graft's `entry:phase:operator` tags, stage count) of every Spark job
    * `body` submits; Spark's own session and execution tags are left out. */
  private def jobsOf(body: => Any): Seq[(Set[String], Int)] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Set[String], Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet.filterNot(_.startsWith("spark-"))),
          e.stageInfos.size))
    }
    org.apache.spark.sql.graftbridge.CacheProbe.drainListeners(spark)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.CacheProbe.drainListeners(spark)
    } finally sc.removeSparkListener(listener)
    jobs.toArray(Array.empty[(Set[String], Int)]).toSeq
  }

  private object Serving {
    val K = 10
    val QueryId = 11L
    lazy val corpus = emb.select("vec_id", "embedding", "label")
    lazy val qv: Array[Float] =
      emb.filter(col("vec_id") === QueryId).select("embedding").head().getSeq[Float](0).toArray
    lazy val query = corpus.filter(col("vec_id") === QueryId).select(col("embedding").as("q_vec"))
    /** the query's nearest other row, which gets no metadata row */
    lazy val orphan: Long =
      rows(Knn.topK(corpus.select("vec_id", "embedding"), query, 2, Knn.Cosine))(1)._1
    lazy val meta = Tables(spark, dir, "documents").filter(col("doc_id") =!= orphan)

    val Classes: Seq[(String, Map[String, (String, Any)])] = Seq(
      "selective" -> Map("lang" -> ("exact", "zh"), "n_chars" -> ("<", 150)),
      "mid" -> Map("lang" -> ("exact", "zh")),
      "broad" -> Map("lang" -> ("substring", "e")))

    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.select("vec_id", "score").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    def passing(m: Map[String, (String, Any)]): DataFrame =
      meta.filter(MetaPredicate(m.toSeq: _*)).select(col("doc_id").as("vec_id"))

    lazy val hnswPath: String = {
      val p = TmpDirs.wiped("resident_spec_hnsw")
      Hnsw.buildAndWrite(corpus.select("vec_id", "embedding"), p, dims = 64, numParts = 4)
      p
    }
    /** appends: copies of the first 60 rows under new ids, so they land
      * near the query and in every part */
    lazy val arriving: DataFrame = corpus.filter(col("vec_id") < 60)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    def filteredWalk(path: String, m: Map[String, (String, Any)], budget: Int,
                             numParts: Int = 4): DataFrame =
      Hnsw.searchFilteredPersisted(spark, path, passing(m), numParts, qv, K, metaSearch = budget)
    /** the same walk over graphs freshly built from the same partitioning */
    def freshWalk(m: Map[String, (String, Any)], budget: Int): DataFrame =
      Hnsw.searchFilteredPerPartition(
        corpus.join(passing(m).withColumn("pass", lit(true)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("embedding"), coalesce(col("pass"), lit(false)).as("pass"))
          .repartition(4, col("vec_id")),
        qv, K, metaSearch = budget)

    /** every strategy's answer per class, each checked against its
      * reference, with the engine and the index on the `driver` side */
    def answers(driver: Boolean): Map[(String, String), Seq[(Long, Long)]] = {
      val engine = HybridSearchEngine(corpus, meta)
      val vecs = corpus.select("vec_id", "embedding")
      val cent = Ivf.centroids(corpus)
      try {
        val out = Classes.flatMap { case (cls, m) =>
          val pred = MetaPredicate(m.toSeq: _*)
          Seq(
            "pre" -> (engine.preFilterSearch(m, query, K),
              Knn.prefilterKnn(vecs, meta, pred, query, K, Knn.Cosine)),
            "pre_l2" -> (engine.preFilterSearch(m, query, K, Knn.L2),
              Knn.prefilterKnn(vecs, meta, pred, query, K, Knn.L2)),
            "post" -> (engine.postFilterSearch(m, query, K, largeK = 50),
              Knn.postfilterKnn(vecs, meta, pred, query, K, 50, Knn.Cosine)),
            "acorn" -> (engine.acornSearch(m, query, K, nProbe = 2),
              Ivf.searchProbed(cent, corpus, meta, pred, query, K, 2, Knn.Cosine,
                "vec_id", "doc_id", "embedding", "label")),
            "hnsw" -> (filteredWalk(hnswPath, m, 100), freshWalk(m, 100)),
            "hnsw_saturated" -> (filteredWalk(hnswPath, m, 0),
              Knn.prefilterKnn(vecs, meta, pred, query, K, Knn.L2))
          ).map { case (strategy, (got, want)) =>
            val g = rows(got)
            assert(g == rows(want), s"$cls $strategy: resident $g vs reference ${rows(want)}")
            (cls, strategy) -> g
          }
        }.toMap
        assert(engine.onDriver.contains(driver), "the engine's rows sit on the wrong side")
        assert(Hnsw.residentSides.get((hnswPath, 4)).contains(driver),
          "the index's graphs sit on the wrong side")
        // post-filter may come back empty on the selective class; no
        // strategy may come back empty everywhere and gate nothing
        out.groupBy(_._1._2).foreach { case (strategy, byCls) =>
          assert(byCls.values.exists(_.nonEmpty), s"$strategy answered nothing")
        }
        out
      } finally engine.close()
    }

    def withConf[T](conf: (String, String))(body: => T): T = {
      val old = spark.conf.getOption(conf._1)
      spark.conf.set(conf._1, conf._2)
      try body finally old.fold(spark.conf.unset(conf._1))(spark.conf.set(conf._1, _))
    }
  }

  test("resident answers equal the per-query operators, under any partitioning and with AQE off") {
    import Serving._
    val bySide = mutable.Map.empty[Boolean, Map[(String, String), Seq[(Long, Long)]]]
    onBothSides(hnswPath) { driver =>
      // answers() builds a new engine, so each conf plans its own shapes;
      // the index restores afresh under each conf
      val base = answers(driver)
      Seq("spark.sql.shuffle.partitions" -> "1", "spark.sql.shuffle.partitions" -> "7",
        "spark.sql.shuffle.partitions" -> "64", "spark.sql.adaptive.enabled" -> "false")
        .foreach { c =>
          Hnsw.release(hnswPath)
          assert(withConf(c)(answers(driver)) == base, s"answers changed under $c")
        }
      bySide(driver) = base
    }
    assert(bySide(true) == bySide(false), "the two sides of the budget answer differently")
  }

  test("post-filter counts a corpus row without metadata as a candidate that fails") {
    import Serving._
    onBothSides() { _ =>
      val engine = HybridSearchEngine(corpus, meta)
      try {
        assert(rows(engine.exactSearch(query, 50)).map(_._1).contains(orphan))
        val post = rows(engine.postFilterSearch(Map.empty, query, 50, largeK = 50))
        assert(!post.map(_._1).contains(orphan))
        assert(post.size == 49, "the other 49 candidates all have metadata and pass")
        assert(!rows(engine.preFilterSearch(Map.empty, query, 50)).map(_._1).contains(orphan))
      } finally engine.close()
    }
  }

  test("a point search refuses a query frame that does not hold exactly one row") {
    import Serving._
    onBothSides() { _ =>
      val engine = HybridSearchEngine(corpus, meta)
      try {
        val two = corpus.filter(col("vec_id").isin(1L, 2L)).select(col("embedding").as("q_vec"))
        val searches: Seq[DataFrame => Any] = Seq(
          engine.preFilterSearch(Map.empty, _, K),
          engine.postFilterSearch(Map.empty, _, K),
          engine.acornSearch(Map.empty, _, K),
          engine.exactSearch(_, K))
        for (q <- Seq(two, two.limit(0)); search <- searches) {
          val e = intercept[IllegalArgumentException](search(q))
          assert(e.getMessage.contains("exactly one row"), e.getMessage)
        }
      } finally engine.close()
    }
  }

  test("close releases the resident relation; a closed engine refuses searches") {
    import Serving._
    onBothSides() { driver =>
      // over a slice of the corpus, so no other engine shares its cached relation
      val engine = HybridSearchEngine(corpus.filter(col("vec_id") > 0), meta)
      assertReleases {
        val (rdds, cached) = held
        engine.preFilterSearch(Map.empty, query, K).collect()
        engine.acornSearch(Map.empty, query, K).collect()
        if (driver) assert(held == ((rdds, cached)), "a driver snapshot cached the relation")
        else assert(held._2 == cached + 1 && (held._1 -- rdds).nonEmpty, "the relation was not cached")
        assert(engine.shapes == 2)
        engine.close()
      }
      assert(engine.shapes == 0, "close kept prepared plans")
      assert(engine.onDriver.isEmpty, "close kept the serving rows")
      intercept[IllegalArgumentException](engine.preFilterSearch(Map.empty, query, K))
    }
  }

  test("engines sharing a cached relation: only the last close unpersists it") {
    import Serving._
    // two engines over the same inputs share one cache entry; closing the
    // first must leave the second serving from it (a premature unpersist
    // left the second engine's prepared plans recomputing the join from
    // lineage on every query), and the second close must free everything.
    // Below the budget each engine holds its own snapshot and caches nothing.
    val inputs = corpus.filter(col("vec_id") > 1)
    val pred = MetaPredicate(Classes(1)._2.toSeq: _*)
    val expected = rows(Knn.prefilterKnn(inputs.select("vec_id", "embedding"), meta, pred,
      query, K, Knn.Cosine))
    onBothSides() { driver =>
      assertReleases {
        val (_, cached) = held
        val shared = if (driver) 0 else 1
        val a = HybridSearchEngine(inputs, meta)
        val b = HybridSearchEngine(inputs, meta)
        assert(rows(a.preFilterSearch(Classes(1)._2, query, K)) == expected)
        assert(rows(b.preFilterSearch(Classes(1)._2, query, K)) == expected)
        assert(held._2 == cached + shared, "two engines over the same inputs hold one cache entry")
        a.close()
        assert(held._2 == cached + shared, "closing one engine uncached the other's relation")
        for (_ <- 1 to 2)
          assert(rows(b.preFilterSearch(Classes(1)._2, query, K)) == expected)
        b.close()
      }
    }
  }

  test("release unpersists an index's resident graphs") {
    import Serving._
    val p = TmpDirs.wiped("resident_spec_release")
    Hnsw.buildAndWrite(corpus.select("vec_id", "embedding"), p, dims = 64, numParts = 4)
    onBothSides(p) { driver =>
      assertReleases {
        val rdds = held._1
        rows(filteredWalk(p, Classes.head._2, 0))
        rows(Hnsw.searchPersisted(spark, p, qv, K))
        assert(Hnsw.residentSides.keySet.count(_._1 == p) == 1,
          "routed and unrouted searches share one restore")
        assert((held._1 -- rdds).size == (if (driver) 0 else 1),
          "the graphs sit in the wrong place")
        Hnsw.release(p)
        assert(!Hnsw.residentSides.keySet.exists(_._1 == p), "release kept the graphs")
      }
    }
  }

  test("a numParts other than the build's is refused, not routed to the wrong graphs") {
    import Serving._
    onBothSides(hnswPath) { _ =>
      assertReleases {
        for (n <- Seq(3, 8); search <- Seq[Int => Any](filteredWalk(hnswPath, Classes(1)._2, 0, _),
            Hnsw.searchAppended(spark, hnswPath, arriving, _, qv, K))) {
          val e = intercept[IllegalArgumentException](search(n))
          assert(e.getMessage.contains("numParts"), e.getMessage)
        }
      }
    }
  }

  test("append-after-restore equals the fresh full-corpus build exactly") {
    val full = emb.select("vec_id", "embedding").repartition(4, col("vec_id"))
    val base = emb.filter(col("vec_id") < 300).select("vec_id", "embedding")
    val arriving = emb.filter(col("vec_id") >= 300).select("vec_id", "embedding")
    val q = queryVec(5)
    val path = graft.TmpDirs.path("hnsw_spec_append")
    Hnsw.buildAndWrite(base, path, dims = 64, numParts = 4)
    val fresh = Hnsw.searchPerPartition(full, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // within every partition the arriving ids all exceed the base ids, so
    // restore + ascending append replays the full build's insertion order
    onBothSides(path) { _ =>
      val appended = Hnsw.searchAppended(spark, path, arriving, 4, q, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(appended == fresh)
    }
  }

  test("appends copy the resident graphs: a later search answers as before, and nothing restores") {
    import Serving._
    onBothSides(hnswPath) { _ =>
      var before, after = Seq.empty[(Long, Long)]
      var appended = Seq.empty[Seq[(Long, Long)]]
      val jobs = jobsOf {
        before = rows(Hnsw.searchPersisted(spark, hnswPath, qv, K, ef = 16))
        appended = Seq.fill(2)(rows(Hnsw.searchAppended(spark, hnswPath, arriving, 4, qv, K, ef = 16)))
        after = rows(Hnsw.searchPersisted(spark, hnswPath, qv, K, ef = 16))
      }
      assert(appended(0) == appended(1), "a second append saw the first one's inserts")
      assert(appended(0) != before && appended(0).exists(_._1 >= 100000L), "the arrivals were not searched")
      assert(after == before, "an append changed the resident graphs")
      val restores = jobs.flatMap(_._1).filter(_.endsWith(":build:restore")).distinct
      assert(restores == Seq("searchPersisted:build:restore"),
        s"only the first search may restore; restore tags: $restores")
    }
  }

  test("registry: an overwritten index answers from its new graphs; a deleted one is released") {
    import Serving._
    val sub = "resident_spec_overwrite"
    val everyone = Map[String, (String, Any)]("n_chars" -> ("geq", 0))
    onBothSides() { driver =>
      rows(filteredWalk(hnswPath, everyone, 0)) // the shared index is resident first
      assertReleases {
        val rdds = held._1
        val p = TmpDirs.wiped(sub)
        val vecs = corpus.select("vec_id", "embedding")
        Hnsw.buildAndWrite(vecs.filter(col("vec_id") < 250), p, dims = 64, numParts = 4)
        assert(rows(filteredWalk(p, everyone, 0)).forall(_._1 < 250))
        val newer = vecs.filter(col("vec_id") >= 250)
        Hnsw.buildAndWrite(newer, p, dims = 64, numParts = 4)
        val got = rows(filteredWalk(p, everyone, 0))
        assert(got == rows(Knn.prefilterKnn(newer, meta, MetaPredicate(everyone.toSeq: _*),
          query, K, Knn.L2)))
        assert((held._1 -- rdds).size == (if (driver) 0 else 1),
          "the stale graphs were not released")
        assert(Hnsw.residentSides.keySet.count(_._1 == p) == 1, "the stale graphs stayed registered")
        TmpDirs.wiped(sub) // deletes the index
        rows(filteredWalk(hnswPath, everyone, 0)) // any access sweeps the registry
        assert(!Hnsw.residentSides.keySet.exists(_._1 == p), "the deleted index stayed registered")
      }
    }
  }

  test("registry: concurrent first searches restore once") {
    import Serving._
    val p = TmpDirs.wiped("resident_spec_concurrent")
    Hnsw.buildAndWrite(corpus.select("vec_id", "embedding"), p, dims = 64, numParts = 4)
    def restores(jobs: Seq[(Set[String], Int)]): Int =
      jobs.count(_._1.contains("searchFilteredPersisted:build:restore"))
    onBothSides(p) { driver =>
      val once = restores(jobsOf(rows(filteredWalk(p, Classes.head._2, 0))))
      Hnsw.release(p)
      assertReleases {
        val rdds = held._1
        // the acorn_pipeline_e2e shape: one filtered walk per class, built concurrently
        var got = Seq.empty[(String, (Long, Long))]
        val jobs = jobsOf {
          got = Par.ordered(Classes) { case (cls, m) =>
            filteredWalk(p, m, 0).select(lit(cls).as("cls"), col("vec_id"), col("score"))
          }.reduce(_ union _).collect().toSeq.map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
        }
        assert(once > 0 && restores(jobs) == once, "concurrent first calls restored more than once")
        assert((held._1 -- rdds).size == (if (driver) 0 else 1))
        Classes.foreach { case (cls, m) =>
          assert(got.filter(_._1 == cls).map(_._2) == rows(freshWalk(m, 0)), cls)
        }
        Hnsw.release(p)
      }
    }
  }

  test("driver graphs and RDD graphs return identical rows from all five registry readers") {
    import Serving._
    val qs = Seq(QueryId, 57L, 203L).map(id => id -> queryVec(id))
    val m = Classes(1)._2
    def readers(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      Hnsw.searchPersisted(spark, hnswPath, qv, K, ef = 16),
      Hnsw.searchPersistedBatch(spark, hnswPath, qs, K, ef = 16),
      Hnsw.searchFilteredPersisted(spark, hnswPath, passing(m), 4, qv, K, metaSearch = 40),
      Hnsw.searchFilteredPersistedBatch(spark, hnswPath, passing(m), 4, qs, K, metaSearch = 40),
      Hnsw.searchAppended(spark, hnswPath, arriving, 4, qv, K, ef = 16)
    ).map(df => df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq
      .sortBy(_.toString))
    val bySide = mutable.Map.empty[Boolean, Seq[Seq[org.apache.spark.sql.Row]]]
    onBothSides(hnswPath) { driver =>
      bySide(driver) = readers()
      assert(Hnsw.residentSides.get((hnswPath, 4)).contains(driver))
    }
    assert(bySide(true).forall(_.nonEmpty))
    bySide(true).zip(bySide(false)).zipWithIndex.foreach { case ((d, r), i) =>
      assert(d == r, s"reader $i: driver $d vs RDD $r")
    }
  }

  test("below the budget a warmed point search runs one job: the query frame's collect") {
    import Serving._
    val m = Classes(1)._2
    Hnsw.release(hnswPath)
    try DriverResident.withBudget(Long.MaxValue) {
      val engine = HybridSearchEngine(corpus, meta)
      try {
        val searches: Seq[(String, () => DataFrame)] = Seq(
          "preFilterSearch" -> (() => engine.preFilterSearch(m, query, K)),
          "postFilterSearch" -> (() => engine.postFilterSearch(m, query, K)),
          "acornSearch" -> (() => engine.acornSearch(m, query, K)),
          "exactSearch" -> (() => engine.exactSearch(query, K)))
        searches.foreach { case (entry, search) =>
          rows(search()) // warm: the snapshot, the centroids and the shape
          val jobs = jobsOf(rows(search()))
          assert(jobs.map(_._1) == Seq(Set(s"$entry:exec:query_frame")), s"$entry ran $jobs")
        }
      } finally engine.close()
      rows(filteredWalk(hnswPath, m, 100)) // warm: the restore
      val jobs = jobsOf(rows(filteredWalk(hnswPath, m, 100)))
      assert(jobs == Seq((Set("searchFilteredPersisted:exec:passing_ids"), 1)),
        s"a warmed filtered walk ran $jobs")
      // the graphs are resident, so an append reads only its arriving rows
      val appended = jobsOf(rows(Hnsw.searchAppended(spark, hnswPath, arriving, 4, qv, K)))
      assert(appended == Seq((Set("searchAppended:exec:arriving"), 1)),
        s"a warmed append ran $appended")
    } finally Hnsw.release(hnswPath)
  }

  // ---- prepared point plans: each query shape planned and compiled once,
  // its vector, predicate values and probe set bound per query ----

  private object Prepared {
    import Serving._
    /** Three bindings of every shape: query row, string and numeric
      * constants, probe count. */
    val Bindings: Seq[(Long, String, Int, Int)] =
      Seq((11L, "e", 150, 1), (57L, "n", 400, 3), (203L, "h", 260, 2))
    def filter(b: (Long, String, Int, Int)): Map[String, (String, Any)] =
      Map("lang" -> ("substring", b._2), "n_chars" -> ("leq", b._3))
    /** driver-local query frames, so building one compiles nothing new */
    lazy val frames: Map[Long, DataFrame] = Bindings.map { b =>
      val v = emb.filter(col("vec_id") === b._1).select("embedding").head().getSeq[Float](0).toArray
      b._1 -> Seq(Tuple1(v)).toDF("q_vec")
    }.toMap

    def searches(engine: HybridSearchEngine, b: (Long, String, Int, Int)): Seq[DataFrame] = {
      val (m, q) = (filter(b), frames(b._1))
      Seq(engine.preFilterSearch(m, q, K), engine.postFilterSearch(m, q, K, largeK = 50),
        engine.acornSearch(m, q, K, nProbe = b._4), engine.acornSearchAdaptive(m, q, K),
        engine.exactSearch(q, K))
    }
    /** the same searches through the per-query operators, whose values are literals */
    lazy val references: Map[(Long, String, Int, Int), Seq[Seq[(Long, Long)]]] = {
      val vecs = corpus.select("vec_id", "embedding")
      val cent = Ivf.centroids(corpus)
      Bindings.map { b =>
        val (pred, q) = (MetaPredicate(filter(b).toSeq: _*), frames(b._1))
        b -> Seq(Knn.prefilterKnn(vecs, meta, pred, q, K, Knn.Cosine),
          Knn.postfilterKnn(vecs, meta, pred, q, K, 50, Knn.Cosine),
          Ivf.searchProbed(cent, corpus, meta, pred, q, K, b._4, Knn.Cosine,
            "vec_id", "doc_id", "embedding", "label"),
          Ivf.adaptiveHybridKnn(corpus, meta, pred, q, K),
          Knn.topK(vecs, q, K, Knn.Cosine)).map(rows)
      }.toMap
    }
  }

  test("one prepared shape returns each binding's own answer, with whole-stage codegen on and off") {
    import Serving._, Prepared._
    // every strategy's bindings differ, so a value frozen at the first
    // binding cannot pass
    Bindings.map(references).transpose.foreach(answers => assert(answers.distinct.size == answers.size))
    onBothSides() { _ =>
      Seq("true", "false").foreach { wholeStage =>
        // a shape is planned under the conf of its first use: a new engine per conf
        withConf("spark.sql.codegen.wholeStage" -> wholeStage) {
          val engine = HybridSearchEngine(corpus, meta)
          try Bindings.foreach { b =>
            assert(searches(engine, b).map(rows) == references(b), s"wholeStage=$wholeStage $b")
          } finally engine.close()
        }
      }
    }
  }

  test("after a shape's first query, later queries compile no code") {
    import Serving._, Prepared._
    import org.apache.spark.metrics.source.CodegenMetrics
    references // computed first: the operators compile their own code
    onBothSides() { _ =>
      val engine = HybridSearchEngine(corpus, meta)
      try {
        searches(engine, Bindings.head).foreach(rows)
        val shapes = engine.shapes
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        Bindings.tail.foreach(b => assert(searches(engine, b).map(rows) == references(b), b))
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
          "a query of a prepared shape compiled code")
        assert(shapes == 4 && engine.shapes == shapes, "pre, post, probe (acorn and adaptive), exact")
      } finally engine.close()
    }
  }

  test("same-shape queries run concurrently each return their own answer") {
    import Serving._, Prepared._
    onBothSides() { _ =>
      val engine = HybridSearchEngine(corpus, meta)
      try {
        val got = Par.ordered(Bindings ++ Bindings ++ Bindings, parallelism = 6)(b =>
          searches(engine, b).map(rows))
        assert(got == (Bindings ++ Bindings ++ Bindings).map(references))
      } finally engine.close()
    }
  }
}
