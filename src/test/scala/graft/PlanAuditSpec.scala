package graft

/** Physical-plan audit over the real `SparkEntry.queries` entries — the
  * scale invariants SURVEY §5 promises, asserted so a refactor cannot
  * silently regress them:
  *
  *  - metadata predicates reach the parquet scan (`PushedFilters`)
  *  - vector scans prune to the needed columns (`ReadSchema`)
  *  - single-query top-k plans as `TakeOrderedAndProject` (no full sort);
  *    a single PQ query is its batch serve's one-query call and plans as
  *    the joined batch
  *  - batch top-k partial-aggregates map-side (`partial_top_k_hits`),
  *    never a window over the scored corpus
  *  - centroid builds partial-aggregate (`partial_vec_sum`)
  *  - no cartesian/broadcast-nested-loop join in any scale-path dedup
  *    entry (the corpus×corpus shape the LSH family exists to avoid)
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Executed plans of the checkpoint jobs that building entry `name`
    * runs — the stored relations its serve plan only sees as
    * `Scan ExistingRDD`. */
  private def checkpointPlans(name: String): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit =
        if (fn == "checkpoint" || fn == "localCheckpoint") seen.add(qe.executedPlan.toString)
      def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(name)(spark, dir)
      org.apache.spark.sql.graftbridge.CacheProbe.drainListeners(spark)
    } finally spark.listenerManager.unregister(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
  }

  test("events_anomaly_mad: histogram plan — base table feeds ONE live scan") {
    // the r6 rewrite's contract: medians come from the (type, cents)
    // histogram, the deviation histogram derives from it arithmetically,
    // and the events table is never rescanned — extra live scans mean the
    // derivation regressed to rescanning the base table
    val p = plan("events_anomaly_mad")
    val scans = "Scan parquet".r.findAllIn(p).length
    val reused = "ReusedExchange".r.findAllIn(p).length
    assert(scans - reused <= 1 || scans <= 1,
      s"histogram plan rescans the base table: $scans scans, $reused reused\n${p.take(3000)}")
  }

  test("parts_triangles: small oriented edge set takes the CSR kernel, no joins") {
    // the stats-guarded fast path (r18): under the broadcast budget the
    // wedge enumeration + closure probe collapse into the
    // compressed-adjacency mapPartitions kernel — the final plan is the
    // kernel partials + one tiny aggregate, with NO join anywhere; the
    // shuffle SMJ join shape is reserved for over-budget edge sets
    val p = plan("parts_triangles")
    assert(p.contains("MapPartitions"),
      s"expected the CSR triangle kernel in the plan\n${p.take(3000)}")
    assert(!p.contains("Join"),
      s"fast path must not join — the kernel replaced both probes\n${p.take(3000)}")
  }

  test("prefilter_knn: predicate pushed to the scan, top-k via TakeOrdered") {
    val p = plan("prefilter_knn")
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("knn_exact_cosine: scan reads only (vec_id, embedding)") {
    val p = plan("knn_exact_cosine")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("knn_batch + hybrid_knn_batch: map-side k-heaps, no Window") {
    for (name <- Seq("knn_batch", "hybrid_knn_batch")) {
      val p = plan(name)
      assert(p.contains("partial_top_k_hits"), s"$name:\n${p.take(2000)}")
      assert(!p.contains("Window"), s"$name:\n${p.take(2000)}")
    }
  }

  test("knn_cascade_batch: stage-1 k-heaps map-side; windows only post-cut") {
    // the funnel's scale contract: the corpus-sized Hamming stage must be
    // a partial TopKHits aggregate (shuffle ≤ |Q|·100 rows), never a
    // window over the scored corpus; the stage-2/3 windows run over the
    // pre-cut broadcast shortlist — so every Window in the plan must sit
    // ABOVE the heap aggregate, which the scored-corpus side would not
    val p = plan("knn_cascade_batch")
    assert(p.contains("partial_top_k_hits"), p.take(3000))
    val heapAt = p.indexOf("partial_top_k_hits")
    val winAt = p.indexOf("Window")
    // executedPlan prints top-down: post-cut windows appear BEFORE the
    // deeper heap aggregate; a corpus-side window would print after it
    assert(winAt >= 0 && winAt < heapAt,
      s"window/heap order wrong (win@$winAt heap@$heapAt)\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("hybrid_knn_cascade_batch: keep join present, heap still map-side, no cartesian") {
    // the filtered batch funnel inherits knn_cascade_batch's shape AND
    // prunes the stage-1 body with the keep join — the join must exist
    // (a missing keep would silently serve unfiltered results with the
    // only-qualified spec as the last line of defense), the Hamming heap
    // must stay a partial aggregate, and nothing may degenerate to a
    // cartesian
    val p = plan("hybrid_knn_cascade_batch")
    assert(p.contains("partial_top_k_hits"), p.take(3000))
    val heapAt = p.indexOf("partial_top_k_hits")
    val winAt = p.indexOf("Window")
    assert(winAt >= 0 && winAt < heapAt,
      s"window/heap order wrong (win@$winAt heap@$heapAt)\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the keep side scans documents — present exactly in the plan
    assert(p.contains("documents"), p.take(3000))
  }

  test("knn_cascade_batch_sharded: four independent one-pass funnels unioned") {
    // the cap-and-union driver's contract: each ≤cap chunk is its own
    // complete funnel plan (its own partial heap), glued by Union — so
    // the sharded plan must carry exactly ceil(128/32) = 4 heap
    // aggregates and a Union, and still no cartesian anywhere
    val p = plan("knn_cascade_batch_sharded")
    val heaps = "partial_top_k_hits".r.findAllIn(p).size
    assert(heaps == 4, s"expected 4 per-shard heaps, found $heaps\n${p.take(3000)}")
    assert(p.contains("Union"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("hybrid_knn_cascade: the keep join is planner-decided, never a forced broadcast") {
    // r11 verdict "what's wrong" #1: the keep set is selectivity-dependent
    // (a constant fraction of the corpus under a broad predicate), so a
    // forced broadcast(keep) OOMs executors at 100 TB. The q-row and the
    // 1-row calibration stats ARE bounded model state and stay hinted;
    // the keep side (the only documents-sourced subtree) must carry no
    // broadcast hint — asserted on the hint's presence over doc_id, not
    // on SMJ/BHJ choice (the planner may still pick broadcast by size,
    // which is exactly the point)
    val df = SparkEntry.queries("hybrid_knn_cascade")(spark, dir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.nonEmpty, "the q/stats broadcasts should still be hinted")
    val overKeep = hints.filter(_.child.collectLeaves()
      .exists(_.output.exists(_.name == "doc_id")))
    assert(overKeep.isEmpty,
      s"keep side carries a forced broadcast hint:\n${overKeep.mkString("\n")}")
  }

  test("knn_pq_batch_external: map-side k-heaps, no window below the cut, no cartesian") {
    // the external-query batch (searchRerankBatchExternal) runs
    // searchRerankBatch's joined-ADC shape: the corpus×ADC scan must feed a
    // partial TopKHits aggregate (shuffle ≤ |Q|·shortlist rows), never a
    // window over scored rows
    val p = plan("knn_pq_batch_external")
    assert(p.contains("partial_top_k_hits"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("knn_cascade_2048 and the wide gates: top-k plans as TakeOrdered, kernels in the scan") {
    // the wide funnel's stage cuts are single-query orderBy+limit —
    // TakeOrderedAndProject, never a global Sort; and the packed-code /
    // sq8 kernels must appear in the plan (a regression to the HOF forms
    // would re-box 2048 elements per row)
    val p = plan("knn_cascade_2048")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Sort "), p.take(3000))
    assert(p.contains("vec_bqpack") && p.contains("vec_hamming_long") &&
      p.contains("vec_sq8") && p.contains("vec_sqdist_long"), p.take(3000))
    val p2 = plan("knn_sq8_2048")
    assert(p2.contains("vec_sq8") && p2.contains("vec_sqdist_long"), p2.take(3000))
    val p3 = plan("knn_exact_l2_2048")
    assert(p3.contains("vec_widen") && p3.contains("TakeOrderedAndProject"), p3.take(3000))
  }

  test("the r13 width gates: kernels in the scan, TakeOrdered cuts, O(1) batch shape") {
    // knn_ivfsq_2048: the sq8/sqdist kernels carry the probed scan, both
    // cuts are TakeOrdered — a regression to the HOF forms would re-box
    // 4096 elements per row
    val p = plan("knn_ivfsq_2048")
    assert(p.contains("vec_sq8") && p.contains("vec_sqdist_long"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject") && !p.contains("Window"), p.take(3000))
    // knn_ivfpq_residual_2048: the one query is the joined batch over the
    // materialized wide codes; at this width the rerank reads the stored
    // quantized frame as well. The residual encode runs in the job that
    // stores the codes, so its pin reads that job's plan: the
    // NearestCentroidLong kernel projection (codegen'd argmin), never an
    // argmin aggregate
    val p2 = assertJoinedBatch("knn_ivfpq_residual_2048", scans = 2)
    assert(p2.contains("code_15"), p2.take(3000))
    val stores = checkpointPlans("knn_ivfpq_residual_2048")
    assert(stores.exists(_.contains("nearest_centroid_long")),
      s"residual encode is not the kernel projection\n${stores.mkString("\n---\n").take(6000)}")
    assert(!stores.exists(_.contains("partial_min")),
      s"residual encode regressed to an argmin aggregate\n${stores.mkString("\n---\n").take(6000)}")
    // knn_pq_batch_wide_2048 inherits A21c's whole O(1)-in-|Q| contract
    // at width: one BNLJ of the 8-row driver-local ADC relation with the
    // one code scan, two partial k-heaps
    val p3 = assertJoinedBatch("knn_pq_batch_wide_2048")
    assert(p3.contains("BroadcastNestedLoopJoin"), p3.take(3000))
  }

  test("the r14 width gates: wide-batch IVF×PQ O(1) plan, persisted wide codes never re-encode") {
    // knn_ivfpq_batch_wide_2048: membership AND ADC resolve in broadcast
    // joins (never a SortMergeJoin on the model-state relations), the
    // shortlist and rerank are map-side k-heaps, no per-query literal
    // ADC columns, no Window anywhere
    val p = plan("knn_ivfpq_batch_wide_2048")
    assert(!p.contains("adist_"), s"per-query literal columns leaked\n${p.take(3000)}")
    assert("partial_top_k_hits".r.findAllIn(p).length === 2, p.take(3000))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p.take(3000))
    // knn_pq_persisted_2048: the serve plan scans the STORED code table
    // (code_0… columns from parquet) and never runs the encode kernel —
    // re-encoding at serve time is exactly what A21h exists to rule out;
    // the scan joins the driver-local ADC relation (no materialized scan)
    val p2 = assertJoinedBatch("knn_pq_persisted_2048", scans = 0)
    assert(p2.contains("code_0"), p2.take(3000))
    assert(!p2.contains("pq_nearest_code"),
      s"the persisted serve re-encoded the corpus\n${p2.take(3000)}")
  }

  test("hybrid_knn: centroid build partial-aggregates via vec_sum") {
    val p = plan("hybrid_knn")
    assert(p.contains("partial_vec_sum"), p.take(2000))
  }

  test("sql_knn_indexed (+_l2): the ANN rewrite really injected its probe filter") {
    for (name <- Seq("sql_knn_indexed", "sql_knn_indexed_l2")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val analyzed = df.queryExecution.analyzed.toString
      assert("label#\\d+ IN ".r.findFirstIn(analyzed).isDefined,
        s"$name: no probe filter — the entry would silently test the unrewritten path:\n$analyzed")
    }
  }

  test("bucketed_join: co-located SortMergeJoin with zero Exchange") {
    // the entry writes the bucketed tables as its side effect
    SparkEntry.queries("bucketed_join")(spark, dir).collect()
    // broadcast off so the plan must prove co-location, not hide it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = spark.table(graft.queries.CoreQueries.bucketedTable(dir, "orders_b"))
        .join(spark.table(graft.queries.CoreQueries.bucketedTable(dir, "customer_b")),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
        .select("o_orderkey", "c_mktsegment")
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange"), p.take(3000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("salted_join: with broadcast off, the salted SMJ keys on (key, salt)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = (1 to 100).map(i => (s"k${i % 5}", i.toLong)).toDF("key", "v")
      val dim = Seq(("k1", 1L), ("k2", 2L)).toDF("key", "w")
      val p = graft.operators.Salting.saltedJoin(big, dim, "key", salts = 8)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(p.contains("_salt"), "join must key on the salt:\n" + p.take(3000))
      assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("events_interval_join: the derived interval table arrives broadcast") {
    val p = plan("events_interval_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "a range join against a tiny side must be broadcast nested-loop:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("events_attribution_bucketed: the big-big range join is an EQUI join") {
    // the bucket decomposition must plan as a hash/sort-merge equi-join —
    // never the cartesian/BNLJ a raw inequality join between two big
    // sides degenerates to
    val p = plan("events_attribution_bucketed")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("bloom_prune_join: the bit-test predicate prunes before the join") {
    val p = plan("bloom_prune_join")
    // the membership test (xxhash64 over the fact key) must sit in a
    // Filter on the fact side, upstream of the join
    assert(p.contains("xxhash64"), p.take(3000))
    val filterIdx = p.indexOf("xxhash64")
    val joinIdx = math.max(p.indexOf("SortMergeJoin"), p.indexOf("BroadcastHashJoin"))
    assert(joinIdx >= 0, p.take(3000))
    assert(filterIdx > joinIdx,
      "the bloom filter must appear BELOW the join in the plan tree (printed after it):\n" +
        p.take(3000))
  }

  test("text_rarity: vocab joins broadcast; both aggregations partial-aggregate") {
    val p = plan("text_rarity")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(3000))
  }

  test("events_gap_fill: fill join is co-partitioned — no extra Exchange on the daily side") {
    val p = plan("events_gap_fill")
    // daily aggregates on (user_id, d); the left fill join reuses that key.
    // The span/sequence side re-exchanges (it aggregated on user_id alone),
    // but the BIG side — daily — must not shuffle twice: count Exchanges.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"gap-fill should need ≤ 3 hash exchanges, got $exchanges:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("events_trailing_window: one shuffle on user_id feeds a single Window") {
    val p = plan("events_trailing_window")
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 1, s"range frame should plan as ONE Window, got $windows")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("events_anomaly_mad: med/MAD stat tables join broadcast") {
    val p = plan("events_anomaly_mad")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("always-banded dedup entries contain no cartesian or nested-loop join") {
    // dedup_simhash and dedup_embedding keep a cost-dispatched all-pairs
    // branch for small corpora (their banded forms take over at scale);
    // the entries below must stay key-joined at EVERY size
    for (name <- Seq("dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n${p.take(2000)}")
    }
  }

  test("text_bm25: df/stats arrive broadcast, top-k via TakeOrdered") {
    val p = plan("text_bm25")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "postings must never merge-join the tiny stats")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("knn_pq: one-query joined ADC, one code scan, two k-heap cuts") {
    // the single query is the batch serve's one-query call: the code scan
    // crosses the broadcast one-row ADC relation, never a merge join
    val p = assertJoinedBatch("knn_pq")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("decontaminate: benchmark shingle set joins broadcast against the corpus") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("sample_group_topk: quota sample partial-aggregates map-side, no Window") {
    val p = plan("sample_group_topk")
    assert(p.contains("partial_top_k_hits"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("events_asof: pure window carry-forward — a join never appears") {
    val p = plan("events_asof")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), s"as-of must not plan a join:\n${p.take(2000)}")
  }

  test("approx_distinct_hll: both sketch stages partial-aggregate map-side") {
    val p = plan("approx_distinct_hll")
    assert(p.contains("partial_max"), p.take(2000))
  }

  test("knn_ivfpq: one-query label-keyed joined ADC over the probed codes") {
    // probe membership and ADC resolve in one broadcast join on label —
    // the corpus is never a merge-join side
    val p = assertJoinedBatch("knn_ivfpq")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("salted_agg: two chained hash aggregates, both phases partial") {
    val p = plan("salted_agg")
    // phase 1 (key, salt) and phase 2 (key) each plan as partial+final
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 4, p.take(2000))
    assert(!p.contains("Window") && !p.contains("Sort "), p.take(2000))
  }

  test("events_funnel: stage joins stay key-joined, no full-stream window") {
    val p = plan("events_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("keyword_search: single narrow scan into TakeOrdered — no shuffle at all") {
    val p = plan("keyword_search")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("dedup entries: shingling is narrow — no shuffle before the first aggregate/join") {
    // the WordShingles kernel + array_distinct replaced the old
    // posexplode+lead-window form (which shuffled the tokenized corpus)
    // and the corpus-wide distinct; neither a Window nor more Exchanges
    // than the aggregate/join stages themselves may appear
    for (name <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name reintroduced a window sort:\n${p.take(2000)}")
    }
  }

  test("curation_pipeline: gates stay narrow — only the dedup window and quota agg shuffle") {
    val p = plan("curation_pipeline")
    // 3 exchanges ceiling: dedup window (content hash), quota partial agg,
    // quota final agg. The language/quality gates must add none.
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(3000))
    assert(p.contains("partial_top_k_hits"), p.take(3000)) // quota partial-aggregates
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("recall_pq: joined-ADC PQ side, TakeOrdered exact side, broadcast join") {
    // the approximate side is the one-query joined batch, the exact side
    // a TakeOrdered cut; the intersection joins broadcast
    val p = assertJoinedBatch("recall_pq")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("dedup_normalized: keep-best is one shuffle + partition-only window, no join-back") {
    val p = plan("dedup_normalized")
    // exactly one exchange (by the normal-form hash); the window sorts on
    // the shuffle key only; no second scan joins back per-doc rows
    assert("Exchange".r.findAllIn(p).size == 1, p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("knn_bq + knn_matryoshka: shortlist and rerank both TakeOrdered, zero hash shuffle") {
    // the compressed-scan family's whole point is that the corpus never
    // shuffles: the 1-row query broadcasts, the Hamming/prefix shortlist
    // and the exact rerank are both map-side k-heaps into TakeOrdered
    for (name <- Seq("knn_bq", "knn_matryoshka")) {
      val p = plan(name)
      assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, s"$name:\n${p.take(3000)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name:\n${p.take(3000)}")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name: the compressed scan must not shuffle:\n${p.take(3000)}")
    }
  }

  test("phrase_search: top phrase arrives broadcast; corpus shingling stays narrow") {
    val p = plan("phrase_search")
    // array_contains(s, p) against the 1-row phrase side must be a
    // broadcast nested-loop — never a cartesian or a merge join — and the
    // phrase pick itself is a TakeOrdered over the df aggregate, not a
    // global sort; the per-doc occurrence/position math adds no Window
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("dedup_jaccard_prefix: candidates equi-join on the shingle hash — never quadratic") {
    // the prefix filter prunes by ORDER, not by cap, but the plan shape
    // must still be a key join end to end: a cartesian/BNLJ here would be
    // the all-pairs join the SSJoin/PPJoin algorithm exists to avoid
    val p = plan("dedup_jaccard_prefix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("parts_pagerank: final plan is ONE shallow iteration over cache + checkpoint") {
    // r18: ranks materialize per iteration, so the FINAL plan is just the
    // last iteration — the cached (edges ⋈ outdeg) table joined with the
    // checkpointed rank table (Scan ExistingRDD), never the 5-deep nested
    // chain (which re-planned every iteration's subtree inside the next)
    // and never a recompute of the lineitem self-join
    val p = plan("parts_pagerank")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 1,
      "the last iteration must reuse the cached edges:\n" + p.take(3000))
    assert(p.contains("Scan ExistingRDD"),
      "the last iteration must read the checkpointed ranks:\n" + p.take(3000))
    // (the cached edge relation's STORED build plan prints inline — its
    // broadcast joins are display text, so count only shuffle-side joins)
    assert("ShuffledHashJoin|SortMergeJoin".r.findAllIn(p).size <= 2,
      "plan depth must be one iteration, not the unrolled chain:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("parts_triangles: every join keyed — wedge fan-out bounded, no cartesian") {
    // degree orientation exists to make the wedge self-join a KEY join on
    // the shared corner; a cartesian/BNLJ anywhere means the O(m^{3/2})
    // bound is gone and a hub node re-creates the all-pairs blowup
    val p = plan("parts_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("multivector_maxsim: broadcast query bag, both aggregates partial, TakeOrdered") {
    val p = plan("multivector_maxsim")
    // the query bag arrives broadcast; per-(doc,q_pos) max and per-doc sum
    // both partial-aggregate map-side; top-10 is a TakeOrdered, and the
    // corpus passage stream never merge-joins anything
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("partial_max"), p.take(3000))
    assert(p.contains("partial_sum"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("hard_negatives: anchors broadcast, map-side k-heaps, no window") {
    val p = plan("hard_negatives")
    assert(p.contains("partial_top_k_hits"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("vocab_tv_drift: token agg partial-aggregates; totals broadcast; TakeOrdered") {
    val p = plan("vocab_tv_drift")
    assert(p.contains("partial_sum"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "slice totals and the TV scalar must arrive broadcast:\n" + p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("ivf assignment kernel (streaming_ivf_ingest map side): narrow, no join/shuffle") {
    import org.apache.spark.sql.functions.col
    // the stream side of streaming_ivf_ingest is this exact projection —
    // centroids compile into the NearestCentroid literal, so assignment
    // must plan with no join and no exchange at all (the stream's
    // stateless-narrow determinism contract rests on this)
    val emb = Tables(spark, dir, "embeddings")
    val p = graft.operators.Ivf
      .assignToNearest(emb.select(col("vec_id"), col("embedding")),
        graft.operators.Ivf.centroids(emb))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("knn_matryoshka_2048: prefix shortlist and wide rerank both TakeOrdered, zero hash shuffle") {
    // A38b: width must not change the plan class — the 256-slot prefix
    // scan and the exact 2048-d rerank stay map-side k-heaps into
    // TakeOrdered with no corpus shuffle, exactly the d=64 shape
    val p = plan("knn_matryoshka_2048")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Exchange hashpartitioning"),
      s"the wide compressed scan must not shuffle:\n${p.take(3000)}")
  }

  test("wide ivf assignment kernel (streaming_ivf_ingest_2048 map side): narrow, no join/shuffle") {
    import org.apache.spark.sql.functions.col
    // C58d rests on the same stateless-narrow contract at width: the
    // 10×2048 centroid literal compiles into NearestCentroid, so the
    // widened assignment must plan with no join and no exchange (width
    // grows the kernel literal, never the plan)
    val w = graft.queries.HybridQueries.wideEmbeddings(spark, dir)
      .join(Tables(spark, dir, "embeddings").select("vec_id", "label"), "vec_id")
    val cent = graft.operators.Ivf.centroids(w)
    val p = graft.operators.Ivf
      .assignToNearest(
        Tables(spark, dir, "embeddings").select(col("vec_id"),
          graft.functions.vectors.widen(col("embedding"), 64,
            graft.queries.HybridQueries.WideDims).as("embedding")), cent)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("knn_refine_rerank: coarse cut via TakeOrdered, refine joins broadcast") {
    // the refine contract: the coarse SQ8 scan is the ONLY full corpus
    // pass (TakeOrderedAndProject cut, no global Sort), and the exact
    // rerank reaches the corpus through a BroadcastHashJoin on the R ids —
    // a SortMergeJoin here would shuffle the whole corpus to rerank 50 rows
    val p = plan("knn_refine_rerank")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  /** The joined batch contract every PQ serve shares, single queries
    * included: no per-query projection columns (the deleted literal form's
    * adist_<q>), `scans` materialized scans — the encoded codes; none for
    * a stored code table, two where the rerank reads a stored quantized
    * frame — the ADC relation and the rerank's query vectors are
    * driver-local rows (LocalTableScan), since the ADC state is one driver
    * action, not a materialized relation — two partial k-heap cuts
    * (shortlist and rerank), and never a Window, a SortMergeJoin or a
    * CartesianProduct over scored rows. */
  private def assertJoinedBatch(name: String, scans: Int = 1): String = {
    val p = plan(name)
    assert(!p.contains("adist_"), s"$name: per-query literal columns leaked\n${p.take(3000)}")
    assert("Scan ExistingRDD".r.findAllIn(p).length === scans,
      s"$name: expected $scans materialized scan(s)\n${p.take(3000)}")
    assert(p.contains("LocalTableScan"), s"$name: ADC relation not driver-local\n${p.take(3000)}")
    assert("partial_top_k_hits".r.findAllIn(p).length === 2, s"$name\n${p.take(3000)}")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), s"$name\n${p.take(3000)}")
    p
  }

  test("knn_pq_batch: ONE code scan serves all queries — map-side k-heaps, no Window") {
    // the batch contract (r7 verdict #2), now the joined one: the code
    // table is scanned ONCE and crossed with the broadcast (q_id, tds)
    // relation; the rerank reaches full vectors via BroadcastHashJoin on
    // the candidate ids
    val p = assertJoinedBatch("knn_pq_batch")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("knn_ivfpq_batch: one union-pruned code scan, label-keyed membership, k-heaps") {
    // ONE materialized code scan (of the probed-cluster union) serves all
    // queries; membership and ADC resolve in the broadcast (q_id, label,
    // tds) join on label — never a per-row list
    val p = assertJoinedBatch("knn_ivfpq_batch")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("knn_ivfpq_residual_batch: label-keyed joined ADC, one code scan, k-heaps") {
    // one materialized union encode; the per-(query, probed cluster) ADC
    // tables ride the broadcast (q_id, label, tds) relation, whose label
    // key is the membership; rerank joins broadcast
    val p = assertJoinedBatch("knn_ivfpq_residual_batch")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("knn_refine_rerank_batch: coarse cut via map-side k-heaps, bounded final rank") {
    // one SQ8 coarse pass over the corpus (broadcast query set), per-query
    // top-R via the partial k-heap aggregate; the final rank runs over
    // ≤|Q|·R broadcast-joined rows under a WindowGroupLimit (both phases),
    // so no unbounded window ever sees corpus-sized input
    val p = plan("knn_refine_rerank_batch")
    assert(p.contains("partial_top_k_hits"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("knn_pq_batch_wide: O(1) plan in |Q| — joined ADC, one code scan, k-heaps") {
    // the wide contract (r8 verdict next #1) at 256 queries: the ADC
    // rides as ONE broadcast relation crossed with ONE code scan
    // (BroadcastNestedLoopJoin of the |Q|-row relation)
    val p = assertJoinedBatch("knn_pq_batch_wide")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("hybrid_knn_pq_batch_wide: keep-pruned scan keeps the wide O(1) shape") {
    // the filtered form inherits the whole contract: the keep join
    // happens INSIDE the materialized encode, so the serving plan is still
    // one code scan crossed with the |Q|-row broadcast relation
    val p = assertJoinedBatch("hybrid_knn_pq_batch_wide")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("knn_ivfpq_batch_wide: label-keyed broadcast membership+ADC join, k-heaps") {
    // membership AND ADC resolve in one BroadcastHashJoin on label
    val p = assertJoinedBatch("knn_ivfpq_batch_wide")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("knn_ivfpq_residual_batch_wide: broadcast (q,label,tds) join, k-heaps, no SMJ") {
    val p = assertJoinedBatch("knn_ivfpq_residual_batch_wide")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("knn_ivfpq_residual: one-query label-keyed joined ADC, k-heaps") {
    // the one query's per-probed-cluster ADC tables ride the broadcast
    // (q_id, label, tds) relation; the residual transform's centroid join
    // and the rerank join broadcast
    val p = assertJoinedBatch("knn_ivfpq_residual")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("dedup_span_coverage: key-partitioned shuffles only, no broadcast of the gram table") {
    // both shuffles key on the gram hash / doc id; the gram-df side grows
    // with the corpus, so it must NOT plan as a broadcast (driver OOM at
    // scale) and there must be no nested-loop anywhere
    val p = plan("dedup_span_coverage")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dedup_semdedup: pair join keys on the cluster id, never cartesian") {
    val p = plan("dedup_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("mixture_temperature: one aggregate over the scan + broadcast scalar") {
    val p = plan("mixture_temperature")
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("knn_ivf_cascade: broadcast probe membership, three TakeOrdered cuts, no SMJ") {
    val p = plan("knn_ivf_cascade")
    // the probed-body join and every broadcast side stay broadcast; all
    // three funnel cuts are TakeOrdered (never a global sort); no
    // shuffle join anywhere in the funnel
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 3, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("knn_pq_persisted: the serve plan never re-encodes") {
    // the lifecycle contract: the timed body reads the STORED code table —
    // the encode kernel must not appear anywhere in the serve plan, the
    // shortlist is a k-heap cut over the parquet code scan joined to the
    // driver-local ADC relation, and the rerank join arrives broadcast
    val p = assertJoinedBatch("knn_pq_persisted", scans = 0)
    assert(!p.contains("pq_nearest_code"),
      s"serve plan re-encodes the corpus\n${p.take(3000)}")
    assert(p.contains("code_0") && p.contains("BroadcastExchange"), p.take(3000))
  }

  test("sample_stratified: heap-based selection — quota join broadcast, k-heaps partial") {
    val p = plan("sample_stratified")
    // per-stratum members come from the map-side k-heap; the only Window
    // in the plan ranks the |langs|-row allocation table, never the corpus
    // (its input is the aggregated count frame, no parquet scan below it)
    assert(p.contains("partial_top_k_hits"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("hll_rollup_merge: coarse levels never rescan the corpus") {
    // the mergeability contract: the fine sketch and the distinct table
    // are checkpointed once at build; every level (fine, source, global)
    // then aggregates those materialized relations — a parquet scan in
    // the final plan means a level regressed to rescanning documents
    val p = plan("hll_rollup_merge")
    assert(!p.contains("Scan parquet"),
      s"a rollup level rescans the corpus\n${p.take(3000)}")
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
  }

  test("spreadHeavyKernel reads a cached body's partition count: a spread one is kept as is") {
    val n = spark.sparkContext.defaultParallelism
    assert(n > 1)
    assertReleases {
      val spread = spark.range(0, 1000, 1, n).toDF("id").cache()
      val narrow = spark.range(0, 1000, 1, 1).toDF("id").cache()
      try {
        Seq(spread, narrow).foreach(_.count()) // builds the cached buffers
        assert(graft.operators.Pq.spreadHeavyKernel(spread, 1L << 20) eq spread,
          "a cached body of defaultParallelism partitions was repartitioned")
        assert(!(graft.operators.Pq.spreadHeavyKernel(narrow, 1L << 20) eq narrow),
          "a one-partition cached body was not spread")
      } finally Seq(spread, narrow).foreach(_.unpersist(blocking = true))
    }
  }
}
