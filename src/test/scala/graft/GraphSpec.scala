package graft

import graft.operators.Graph
import graft.queries.AnalyticsQueries

/** §2.C57 fixed-iteration integer PageRank. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  test("a cycle is an exact fixpoint: every rank stays 10^6") {
    // ring: each node has outdeg 1, so contrib = 10^6 and
    // r' = 150000 + 85*10^6/100 = 10^6 exactly — for ANY iteration count
    val ring = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    for (k <- Seq(1, 5)) {
      val r = ranks(ring, k)
      assert(r == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    }
  }

  test("a star hub outranks its leaves, leaves tie") {
    // symmetric star 0–{1,2,3,4}: hub receives 4 full contributions,
    // leaves receive 1/4 of the hub's
    val star = (1L to 4L).flatMap(l => Seq(0L -> l, l -> 0L))
    val r = ranks(star, 5)
    val leaves = (1L to 4L).map(r)
    assert(leaves.distinct.size == 1, "symmetric leaves must tie")
    assert(r(0L) > leaves.head, "hub must outrank leaves")
    // one iteration by hand: hub gets 4·(10^6 div 1)·85/100 + 150000
    assert(ranks(star, 1)(0L) == 150000L + 85L * 4000000L / 100L)
    assert(ranks(star, 1)(1L) == 150000L + 85L * (1000000L / 4) / 100L)
  }

  test("symmetric fast path ≡ general left-join path on a symmetric graph") {
    // symmetric contract: every node appears as a dst, so skipping the
    // per-iteration nodes-completion join must be bit-identical
    val g = Seq(0L -> 1L, 1L -> 0L, 1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L,
      0L -> 3L, 3L -> 0L)
    val gen = Graph.pageRank(g.toDF("src", "dst"), 5)
      .as[(Long, Long)].collect().toMap
    val sym = Graph.pageRank(g.toDF("src", "dst"), 5, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(sym == gen)
  }

  private def sym(pairs: (Long, Long)*): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("triangles: K4 gives every node C(3,2)=3; a 4-ring gives none") {
    val k4 = sym(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 1L -> 3L, 2L -> 3L)
    assert(tri(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val ring4 = sym(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L)
    assert(tri(ring4).isEmpty, "a chordless cycle has no triangles")
  }

  test("triangles: pendant node stays out, shared-edge triangles both count") {
    // two triangles sharing edge (1,2), plus pendant 5 hanging off node 1
    val g = sym(1L -> 2L, 1L -> 3L, 2L -> 3L, 1L -> 4L, 2L -> 4L, 1L -> 5L)
    assert(tri(g) == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangleCounts releases the edge set it caches") {
    val k4 = sym(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 1L -> 3L, 2L -> 3L)
    assertReleases(assert(tri(k4).size == 4))
  }

  test("triangles: string ids take the join path, null ends close nothing") {
    // "1" and "01" cast to the same long: the kernel would merge them
    val strs = Seq("x" -> "y", "y" -> "z", "x" -> "z", "1" -> "2", "2" -> "01", "01" -> "3")
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.toDF("src", "dst")
    val viaDefault = Graph.triangleCounts(strs).as[(String, Long)].collect().toMap
    assert(viaDefault == Map("x" -> 1L, "y" -> 1L, "z" -> 1L))
    assert(viaDefault == Graph.triangleCounts(strs, broadcastMaxEdges = 0L)
      .as[(String, Long)].collect().toMap)
    val k4 = sym(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 1L -> 3L, 2L -> 3L)
      .map { case (a, b) => (Option(a), Option(b)) } ++ Seq((Some(0L), None), (None, Some(1L)))
    val withNulls = k4.toDF("src", "dst")
    val kernel = Graph.triangleCounts(withNulls).as[(Long, Long)].collect().toMap
    assert(kernel == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    assert(kernel == Graph.triangleCounts(withNulls, broadcastMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap)
  }

  test("triangleCounts matches a brute-force enumeration on the sf0.001 graph") {
    val dir = "/root/testdata/sf0.001"
    val got = AnalyticsQueries.defs("parts_triangles")(spark, dir)
      .as[(Long, Long)].collect()
    // brute force: adjacency sets, count closed corner triples per node
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
    val adj = li.groupBy(_._1).values
      .flatMap(g => g.map(_._2).distinct.combinations(2).map(_.sorted))
      .flatMap { case Array(a, b) => Seq(a -> b, b -> a) }
      .toSeq.distinct
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      (a, nbrs) <- adj
      Seq(b, c) <- nbrs.filter(_ > a).toSeq.sorted.combinations(2)
      if adj(b).contains(c)
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    val expect = counts.toSeq.sortBy { case (n, k) => (-k, n) }.take(15)
    assert(got.toSeq.sortBy { case (n, k) => (-k, n) } == expect)
    assert(got.nonEmpty)
  }

  test("triangle CSR kernel ≡ wedge-join path on the sf0.001 graph") {
    // broadcastMaxEdges = 0 forces the at-scale join shape; the default
    // takes the r18 compressed-adjacency kernel — both must agree exactly
    val dir = "/root/testdata/sf0.001"
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_partkey")
    val e = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" =!= $"b.l_partkey")
      .select($"a.l_partkey".as("src"), $"b.l_partkey".as("dst")).distinct()
    val kernel = Graph.triangleCounts(e).as[(Long, Long)].collect().toMap
    val joins = Graph.triangleCounts(e, broadcastMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(kernel == joins)
    assert(kernel.nonEmpty)
  }

  test("parts_pagerank is deterministic and covers every co-purchased part") {
    val dir = "/root/testdata/sf0.001"
    val a = AnalyticsQueries.defs("parts_pagerank")(spark, dir)
      .as[(Long, Long)].collect().toMap
    val b = AnalyticsQueries.defs("parts_pagerank")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "re-run must be bit-identical")
    assert(a.nonEmpty)
    assert(a.values.forall(_ >= 150000L), "rank lower bound is the reset mass")
    val parts = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
      .groupBy(_._1).values.filter(_.map(_._2).distinct.size >= 2)
      .flatMap(_.map(_._2)).toSet
    assert(a.keySet == parts, "node set = parts sharing an order with another part")
  }
}
