package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.scaled
import graft.operators.{Ivf, KMeans, Knn, MetaPredicate}

/** High-level facade mirroring the reference's `HNSWSearch` workflow
  * (/root/reference/acorn.py:20) on Spark:
  *
  * {{{
  * val engine = HybridSearchEngine(corpusDf, metadataDf)   // ~ init_index + add_items
  * engine.preFilterSearch(meta, query, k)                  // ~ pre-filter.py
  * engine.postFilterSearch(meta, query, k, largeK)         // ~ post_filter_search
  * engine.acornSearch(meta, query, k, nProbe)              // ~ acorn_search
  * engine.close()                                          // release resident state
  * }}}
  *
  * `meta` uses the reference's query language: `Map(attr -> (op, value))`
  * with ops `exact, <, >, leq, geq, substring`.
  *
  * Serving is resident, as the reference serves from its in-memory index.
  * The first search caches one serving relation, every corpus row (id,
  * vector, cluster) once, left-joined to its metadata row, and the first
  * probing search collects the C×d centroid table to the driver. A point
  * search collects its one-row query frame and scores the cached relation
  * with the vector as a literal: no join and no broadcast per query.
  * Metadata holds at most one row per id (the reference keys it by id).
  * Point searches return (idCol, vecCol, score), best first.
  */
final class HybridSearchEngine private (corpus: DataFrame, metadata: DataFrame,
                                        idCol: String, vecCol: String, clusterCol: String,
                                        metaIdCol: String) extends AutoCloseable {
  import HybridSearchEngine._

  private var served: DataFrame = _
  private var cents: Seq[(Long, Array[Float])] = _
  private var closed = false

  private def checkOpen(): Unit =
    require(!closed, "HybridSearchEngine is closed — build a new engine to search again")

  /** The serving relation. Corpus columns go under private names, so a
    * predicate resolves against the metadata columns only. */
  private def resident: DataFrame = synchronized {
    checkOpen()
    if (served == null)
      served = corpus.select(col(idCol).as(Id), col(vecCol).as(Vec), col(clusterCol).as(Cluster))
        .join(metadata, col(Id) === metadata(metaIdCol), "left")
        .cache()
    served
  }

  /** The centroid table: driver-side model state (C×d floats). */
  private def centroids: Seq[(Long, Array[Float])] = synchronized {
    checkOpen()
    if (cents == null) {
      val t = corpus.schema(clusterCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"HybridSearchEngine: cluster column '$clusterCol' is ${t.simpleString}; " +
          "probing needs integral cluster ids")
      cents = KMeans.collectCentroids(Ivf.centroids(corpus, idCol, vecCol, clusterCol))
    }
    cents
  }

  /** Unpersist the serving relation and drop the centroid table. A closed
    * engine refuses further searches. */
  def close(): Unit = synchronized {
    closed = true
    if (served != null) served.unpersist()
    served = null
    cents = null
  }

  /** Rows whose metadata row exists and satisfies `meta` — exactly the rows
    * an inner join with the filtered metadata keeps. */
  private def keep(meta: Map[String, (String, Any)]): Column = {
    val pred = if (meta.isEmpty) lit(true) else MetaPredicate(meta.toSeq: _*)
    coalesce(col(metaIdCol).isNotNull && pred, lit(false))
  }

  /** The query frame's vector; a point search takes exactly one. */
  private def queryVector(query: DataFrame): Array[Float] = {
    val t = query.schema(QVec).dataType
    require(t match { case ArrayType(FloatType, _) => true; case _ => false },
      s"HybridSearchEngine: $QVec is ${t.simpleString}, expected array<float>")
    val rows = query.select(col(QVec)).collect()
    require(rows.length == 1,
      s"HybridSearchEngine: a point search takes a query frame of exactly one row, " +
        s"got ${rows.length} — use acornSearchBatch for many queries")
    require(!rows(0).isNullAt(0), s"HybridSearchEngine: the query's $QVec is null")
    rows(0).getSeq[Float](0).toArray
  }

  /** `rows` scored against `q`, best first with ties to the lower id
    * (the Knn.topK order). */
  private def ranked(rows: DataFrame, q: Array[Float], metric: Knn.Metric,
                     extra: Column*): DataFrame =
    rows.select(Seq(col(Id).as(idCol), col(Vec).as(vecCol),
        scaled(metric.score(col(Vec), typedLit(q)), Knn.ScoreDigits).as("score")) ++ extra: _*)
      .orderBy(metric.order(col("score")), col(idCol).asc)

  /** `rows` (id, vec, score) as a frame of driver-local rows */
  private def local(rows: Seq[Row], like: DataFrame): DataFrame =
    like.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(like.schema.take(3)))

  /** Metadata filter first, exact kNN on survivors — perfect accuracy. */
  def preFilterSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                      metric: Knn.Metric = Knn.Cosine): DataFrame =
    ranked(resident.filter(keep(meta)), queryVector(query), metric).limit(k)

  /** Vector top-largeK, then metadata filter, then top-k. A corpus row
    * without metadata is a candidate that fails the filter. */
  def postFilterSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                       largeK: Int = 50, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val top = ranked(resident, queryVector(query), metric, keep(meta).as("pass")).limit(largeK)
    local(top.collect().toSeq.filter(_.getBoolean(3)).take(k)
      .map(r => Row(r.get(0), r.get(1), r.get(2))), top)
  }

  /** ACORN-style hybrid: probe the nearest clusters, ranked over the
    * driver-side centroids, with the filter applied in the same scan. */
  def acornSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                  nProbe: Int = 2, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val q = queryVector(query)
    probed(Ivf.probeOrder(centroids, q, metric).take(nProbe), meta, q, k, metric)
  }

  private def probed(labels: Seq[Long], meta: Map[String, (String, Any)], q: Array[Float],
                     k: Int, metric: Knn.Metric): DataFrame =
    ranked(resident.filter(col(Cluster).isin(labels: _*) && keep(meta)), q, metric).limit(k)

  /** Exact brute-force kNN (no filter) — the evaluation ground truth. */
  def exactSearch(query: DataFrame, k: Int, metric: Knn.Metric = Knn.Cosine): DataFrame =
    ranked(resident, queryVector(query), metric).limit(k)

  /** The reference's adaptive loop: widen the probe count until ≥ k
    * filter-passing survivors (acorn.py:162), doubling from one probe. */
  def acornSearchAdaptive(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                          metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val q = queryVector(query)
    val order = Ivf.probeOrder(centroids, q, metric)
    var nProbe = 1
    var res = probed(order.take(nProbe), meta, q, k, metric)
    var rows = res.collect()
    while (nProbe < order.size && rows.length < k) {
      nProbe = math.min(nProbe * 2, order.size)
      res = probed(order.take(nProbe), meta, q, k, metric)
      rows = res.collect()
    }
    local(rows.toSeq, res)
  }

  /** Batch hybrid search: many queries in one plan, per-query probes and
    * per-query top-k via map-side k-heaps. `queries`: [q_id, q_vec]. */
  def acornSearchBatch(meta: Map[String, (String, Any)], queries: DataFrame, k: Int,
                       nProbe: Int = 2, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val cent = corpus.sparkSession.createDataFrame(centroids).toDF(clusterCol, "cent")
    Ivf.hybridBatchKnn(corpus, metadata,
      if (meta.isEmpty) lit(true) else MetaPredicate(meta.toSeq: _*), queries, k, nProbe,
      metric, idCol, metaIdCol, vecCol, clusterCol, precomputedCent = Some(cent))
  }
}

object HybridSearchEngine {
  private val Id = "__graft_id"
  private val Vec = "__graft_vec"
  private val Cluster = "__graft_cluster"
  private val QVec = "q_vec"

  def apply(corpus: DataFrame, metadata: DataFrame,
            idCol: String = "vec_id", vecCol: String = "embedding",
            clusterCol: String = "label", metaIdCol: String = "doc_id"): HybridSearchEngine =
    new HybridSearchEngine(corpus, metadata, idCol, vecCol, clusterCol, metaIdCol)
}
