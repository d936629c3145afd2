package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Iterative graph analytics over edge DataFrames (SURVEY §2 C57).
  *
  * Complements the connected-components family in [[Dedup]]: those iterate
  * to a data-dependent fixpoint (and so need per-round convergence
  * actions); PageRank here runs a FIXED iteration count, so the whole
  * computation is one lazy plan — ZERO driver actions inside the loop, no
  * checkpoint round-trips, and the scheduler sees all five rounds at once.
  * That is the right trade for rank-style scores, which are consumed as
  * relative weights and converge geometrically (d^k): fixed k=5 bounds the
  * error at d^5 ≈ 0.44 of the remaining mass, plenty for ranking ties on
  * integer-scaled output, and keeps the operator deterministic enough to
  * hash-verify against an unrolled SQL oracle.
  */
object Graph {

  /** Integer-exact PageRank: ranks ×10⁶, damping 85/100, floor division
    * everywhere (all operands non-negative ⇒ Spark `div` ≡ DuckDB `//`).
    *
    * `edges` must be DISTINCT (src, dst) pairs; the node set is the
    * distinct src side (for the symmetric co-occurrence graphs this is
    * every endpoint; a directed caller must union endpoints first).
    * Simplified model without dangling-mass redistribution — symmetric
    * graphs have no dangling nodes, so nothing leaks there.
    *
    * `symmetric = true` declares that every node also appears as a `dst`
    * (true for any symmetric edge set, and for any directed graph whose
    * dst side covers its src side). Under that contract each node
    * receives ≥1 contribution every round, so the per-iteration
    * `nodes LEFT JOIN contrib` completion is the identity — skipping it
    * removes one join + one |nodes|-row shuffle per iteration (5 stages
    * at k=5). Results are bit-identical where the contract holds; the
    * default keeps the general left-join path.
    *
    * Scale shape at 100 TB: the edge table (with out-degrees) is hash
    * partitioned by src ONCE and cached — each iteration re-shuffles only
    * the rank table (|nodes| rows, ≪ |edges|) to meet it, then one
    * partial-agg shuffle keyed by dst. Plan depth is linear in `iters`;
    * no lineage blow-up, no checkpoint needed at fixed k.
    */
  def pageRank(edges: DataFrame, iters: Int, symmetric: Boolean = false): DataFrame = {
    val e = edges.select("src", "dst")
    val out = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // partition by the join key once; every iteration's join reuses it
    val eo = e.join(out, "src").repartition(col("src")).cache()
    val nodes = e.select(col("src").as("node")).distinct().cache()
    // SHUFFLE_HASH on the rank side (r17 optimization, guide §3.1): the
    // default sort-merge join re-SORTS the cached 2-columns-per-edge
    // table every iteration, while SHJ builds the |nodes|/P-row hash per
    // partition and probes the edges unsorted. (r18: a per-iteration
    // broadcast(ranks) was A/B-measured and REJECTED — the per-iteration
    // broadcast build job costs more than the |nodes|-row shuffle it
    // saves: 5.2–5.8 s vs 4.8 s at sf0.1.)
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (it <- 1 to iters) {
      val contrib = eo.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val next =
        if (symmetric)
          contrib.select(col("node"),
            expr("CAST(150000 + (85 * s) div 100 AS BIGINT)").as("r"))
        else
          nodes.join(contrib, Seq("node"), "left")
            .select(col("node"),
              expr("CAST(150000 + (85 * coalesce(s, 0)) div 100 AS BIGINT)").as("r"))
      // Per-iteration materialization of the rank table (r18, r17 verdict
      // #5): the one-lazy-plan form nested every iteration's subtree
      // inside the next — at k=5 the final plan re-analyzed and re-planned
      // a 5-deep join chain, and Bench's layer split measured 748 tasks /
      // ~130 s summed task time for a 1.2M-edge graph (plan-depth
      // overhead, not compute). Checkpointing RANKS ONLY (|nodes| rows,
      // the tiny side) caps plan depth at one join per action; the edge
      // table stays cached, never checkpointed. Values are unchanged —
      // materialization is placement-only. The last iteration stays lazy:
      // the caller's action materializes it.
      ranks = if (it < iters) Dedup.materialize(next) else next
    }
    ranks
  }

  /** Per-node triangle counts by the degree-oriented wedge join — the
    * standard distributed algorithm (Suri & Vassilvitskii WWW'11 /
    * Schank-Wagner): orient every undirected edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges only
    * from each node's ORIENTED out-neighbors, then close them against the
    * oriented edge set. Orientation bounds every node's out-degree by
    * O(√m), so wedge fan-out is O(m^{3/2}) total instead of Σ deg² — the
    * difference between a skew-killed and a scalable self-join when a hub
    * node has millions of neighbors.
    *
    * `edges` must be the DISTINCT SYMMETRIC pair set ((a,b) ⇔ (b,a),
    * a ≠ b) — the same contract as [[pageRank]]'s co-occurrence graphs.
    * Each triangle is found exactly once (its orientation-ordered corner
    * triple) and credited to all three corners. Output: (node, n_tri),
    * one row per node appearing in ≥1 triangle — all-integer, engine-
    * exact by construction.
    *
    * Scale shape: two shuffle joins on node keys (wedge build + closure)
    * plus one explode + partial aggregate; no cartesian anywhere. The
    * (deg, id) total order travels WITH the oriented edges (deg columns
    * carried, compared tuple-wise) so no global rank assignment — and so
    * no global sort — is ever needed.
    *
    * Fast path: when the ORIENTED half-edge set is small enough to ship,
    * the wedge enumeration + closure probe collapse into ONE
    * compressed-adjacency (CSR) mapPartitions kernel over a broadcast of
    * the oriented edges (r18 optimization, guide §4.2 "do the heavy
    * lifting in native code" / §8 "use what you know the optimizer does
    * not"): the join form materializes every wedge as a row and hashes it
    * against a HashedRelation — O(m^{3/2}) row objects, two probe
    * relations resident (~480 MB at 1.2M edges, r5 measurement) — while
    * the kernel walks int-indexed sorted neighbor arrays with a
    * two-pointer intersection per oriented edge: the SAME O(m^{3/2})
    * pointer steps but zero row materialization, zero hashing, and a
    * broadcast footprint of 4·(n+m) bytes (~25 MB at the 4M-edge cap vs
    * ~1.6 GB for the two relations). Each task counts into a private
    * long[n] and emits its non-zero (node, c) partials; one tiny final
    * aggregate sums them. Triangle identity is unchanged: edge (x,y) of
    * triangle x≺y≺z finds exactly z = N⁺(x) ∩ N⁺(y) (both closing edges
    * are oriented away from x and y), so every count matches the wedge
    * join bit-for-bit — pinned by GraphSpec and the driver oracle. The
    * engine decides from its own exact count of the cached set (better
    * stats than AQE's estimates); the shuffle shape above remains the
    * default the moment the edge set outgrows the broadcast budget.
    *
    * Budget honesty (ADVICE r5, re-sized r18): the kernel broadcast is
    * offsets int[n+1] + neighbors int[m] + ids long[n] (≤ ~60 MB at the
    * 4M cap), plus one long[n] count array per RUNNING task (≤ 64 MB at
    * the cap's worst case, bounded by executor cores). Pass an explicit
    * cap to pin behavior.
    *
    * The heap term is measured on the JVM that PLANS the query — the
    * driver — but the relations live on every EXECUTOR too (ADVICE r6):
    * on clusters where executors have less heap than the driver, a
    * driver-heap-proportional budget could broadcast what executors
    * cannot hold, and a small-heap CI JVM would silently flip a fixture
    * off the fast path. The default therefore CLAMPS at an absolute 4M
    * edges (~1.6 GB resident for both relations — sized for the common
    * ≥4 GiB executor, and plan-stable across driver heaps ≥ ~21 GiB);
    * deployments with fatter executors raise it explicitly per call. */
  val AbsoluteBroadcastMaxEdges = 4000000L
  def defaultBroadcastMaxEdges: Long =
    math.min(AbsoluteBroadcastMaxEdges,
      math.max(250000L, (Runtime.getRuntime.maxMemory() * 0.075 / 400).toLong))

  def triangleCounts(edges: DataFrame,
                     broadcastMaxEdges: Long = -1L): DataFrame = {
    val maxEdges =
      if (broadcastMaxEdges >= 0) broadcastMaxEdges else defaultBroadcastMaxEdges
    // Cache + count the SYMMETRIC set first (r18): the smallness decision
    // only needs |e| = 2·|oriented|, and on the kernel path the degree
    // joins, the orientation filter and the oriented-edge cache all
    // disappear — degrees and orientation are O(m) array work the kernel
    // does while building its CSR, so the cluster-side cost of the fast
    // path is exactly one distinct-edge derivation + one collect.
    val e = edges.select("src", "dst").cache()
    // the kernel indexes ids as longs, so it takes integral ids only: a
    // string or decimal id would collide or wrap there
    val integral = e.schema.forall(f => Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(f.dataType))
    val small = integral && e.count() <= 2 * maxEdges
    // the kernel collects e, so its result no longer needs the cache
    if (small) return try triangleCountsKernel(e) finally e.unpersist()
    val deg = e.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
    // orient each undirected edge once: (deg, id)-smaller endpoint first
    val o = e
      .join(deg.withColumnRenamed("n", "src").withColumnRenamed("deg", "dsrc"), "src")
      .join(deg.withColumnRenamed("n", "dst").withColumnRenamed("deg", "ddst"), "dst")
      .filter(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"),
        col("ddst").as("degb"))
      // o feeds THREE scans (both wedge sides + the closure probe):
      // materialize the oriented half-edges once — the upstream edge
      // build (fact self-join + distinct) is the expensive part and must
      // not run three times
      .cache()
    // o holds all the triangles need: materialize it, then release e (o
    // stays cached for the result's three scans of it)
    o.count()
    e.unpersist()
    // wedges from the orientation-least corner; b1 ≺ b2 in the SAME
    // (deg, id) order so the closing edge (b1 → b2) is oriented if present
    val wedges = o.as("x").join(o.as("y"), col("x.a") === col("y.a") &&
        (col("x.degb") < col("y.degb") ||
          (col("x.degb") === col("y.degb") && col("x.b") < col("y.b"))))
      .select(col("x.a").as("a"), col("x.b").as("b1"), col("y.b").as("b2"))
    val tris = wedges.as("w").join(o.as("z"),
        col("w.b1") === col("z.a") && col("w.b2") === col("z.b"))
      .select(col("w.a").as("a"), col("w.b1").as("b1"), col("w.b2").as("b2"))
    tris
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** CSR triangle kernel over a broadcast of the cached SYMMETRIC edge
    * set `e` (src, dst) — see [[triangleCounts]] for the algorithm and
    * budget argument. Degree computation and (deg, id) orientation happen
    * HERE as O(m) array passes (the join path's two degree joins + filter,
    * driver-side): each undirected edge appears in both directions and
    * exactly one passes the orientation, so the CSR holds the identical
    * oriented half-edge set. The collect is broadcast-building (the same
    * driver budget the pre-r18 probe-side `broadcast(o)` paid through
    * BroadcastExchange, minus the HashedRelation overhead); everything is
    * re-derived from the parquet inputs on every invocation. */
  private def triangleCountsKernel(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val nodeType = e.schema("src").dataType
    // an edge with a null end closes no triangle (the join path drops it)
    val rows = e.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long"), col("dst").cast("long")).collect()
    val mSym = rows.length
    val srcIds = new Array[Long](mSym); val dstIds = new Array[Long](mSym)
    var i = 0
    while (i < mSym) { srcIds(i) = rows(i).getLong(0); dstIds(i) = rows(i).getLong(1); i += 1 }
    // dense index over every endpoint: sorted ids + binary search
    val ids = (srcIds ++ dstIds).distinct.sorted
    val n = ids.length
    @inline def idx(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    // undirected degree = symmetric out-count per node
    val deg = new Array[Int](n)
    val su = new Array[Int](mSym); val sv = new Array[Int](mSym)
    i = 0
    while (i < mSym) {
      val u = idx(srcIds(i)); su(i) = u; sv(i) = idx(dstIds(i)); deg(u) += 1
      i += 1
    }
    // oriented u → v iff (deg, id) of u precedes v (dense index order is
    // id order, so the tie-break matches the SQL form's src < dst)
    @inline def oriented(u: Int, v: Int): Boolean =
      deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
    // CSR over the ORIENTED half-edges: out-neighbor int indices, sorted
    // within each node's slice so the per-edge intersection is a
    // two-pointer merge
    val off = new Array[Int](n + 1)
    i = 0; while (i < mSym) { if (oriented(su(i), sv(i))) off(su(i) + 1) += 1; i += 1 }
    i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
    val m = off(n)
    val nbr = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < mSym) {
      if (oriented(su(i), sv(i))) { nbr(fill(su(i))) = sv(i); fill(su(i)) += 1 }
      i += 1
    }
    i = 0; while (i < n) { java.util.Arrays.sort(nbr, off(i), off(i + 1)); i += 1 }
    // work-balanced node chunks: the per-edge intersection walks
    // |N⁺(u)| + |N⁺(v)| pointer steps, so chunk on that prefix sum — the
    // straggler guard the join form got from AQE (guide §2.5/§2.6)
    val work = new Array[Long](n + 1)
    i = 0
    while (i < n) {
      var w = 0L; var j = off(i); val du = (off(i + 1) - off(i)).toLong
      while (j < off(i + 1)) { val v = nbr(j); w += du + (off(v + 1) - off(v)); j += 1 }
      work(i + 1) = work(i) + w; i += 1
    }
    val chunks = math.max(1, math.min(math.max(n, 1),
      spark.sparkContext.defaultParallelism * 2))
    val bounds = new Array[Int](chunks + 1)
    var p = 0; var ci = 1
    while (ci < chunks) {
      if (work(n) > 0) {
        val target = work(n) / chunks * ci
        while (p < n && work(p) < target) p += 1
      } else p = math.min(n, (n.toLong * ci / chunks).toInt)
      bounds(ci) = p; ci += 1
    }
    bounds(chunks) = n
    val bc = spark.sparkContext.broadcast((off, nbr, ids, bounds))
    val partials = spark.range(0, chunks.toLong, 1L, chunks).mapPartitions { it =>
      val (off, nbr, ids, bounds) = bc.value
      val cnt = new Array[Long](ids.length)
      var any = false
      it.foreach { ciL =>
        val c = ciL.toInt
        var u = bounds(c)
        while (u < bounds(c + 1)) {
          var j = off(u); val uEnd = off(u + 1)
          while (j < uEnd) {
            val v = nbr(j)
            // common out-neighbors of u and v = this edge's triangles
            var p1 = off(u); var p2 = off(v); val e2 = off(v + 1)
            while (p1 < uEnd && p2 < e2) {
              val x = nbr(p1); val y = nbr(p2)
              if (x < y) p1 += 1
              else if (x > y) p2 += 1
              else { cnt(u) += 1; cnt(v) += 1; cnt(x) += 1; any = true; p1 += 1; p2 += 1 }
            }
            j += 1
          }
          u += 1
        }
      }
      if (!any) Iterator.empty
      else ids.indices.iterator.filter(cnt(_) > 0L).map(i => (ids(i), cnt(i)))
    }
    partials.toDF("node", "c")
      .groupBy("node").agg(sum("c").as("n_tri"))
      .select(col("node").cast(nodeType).as("node"), col("n_tri"))
  }
}
