package graft

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{BoundParam, ParamHolder, scaled}
import graft.operators.{Ivf, KMeans, Knn, MetaOp, MetaPredicate}

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
  * probing search collects the C×d centroid table to the driver. Metadata
  * holds at most one row per id (the reference keys it by id).
  *
  * Point searches run through prepared plans. A query shape — strategy,
  * metric, k (largeK for the post-filter) and the predicate's sorted
  * (attribute, op, value type) list — is analysed, optimised, planned and
  * compiled once, on its first query and under the session conf in force
  * then; later queries of the shape bind the query vector, the predicate
  * values and the probe set as parameters and re-run that plan, so they
  * neither plan nor compile. One lock per shape serialises its queries
  * from bind to collect; different shapes run concurrently. Point searches
  * run when called and return driver-local frames of (idCol, vecCol,
  * score), best first. `close()` drops the prepared plans.
  */
final class HybridSearchEngine private (corpus: DataFrame, metadata: DataFrame,
                                        idCol: String, vecCol: String, clusterCol: String,
                                        metaIdCol: String) extends AutoCloseable {
  import HybridSearchEngine._

  private var served: DataFrame = _
  private var cents: Seq[(Long, Array[Float])] = _
  private val plans = mutable.HashMap.empty[Shape, Prepared]
  private var closed = false

  private def checkOpen(): Unit =
    require(!closed, "HybridSearchEngine is closed — build a new engine to search again")

  /** The serving relation. Corpus columns go under private names, so a
    * predicate resolves against the metadata columns only. */
  private def resident: DataFrame = synchronized {
    checkOpen()
    if (served == null)
      served = acquire(
        corpus.select(col(idCol).as(Id), col(vecCol).as(Vec), col(clusterCol).as(Cluster))
          .join(metadata, col(Id) === metadata(metaIdCol), "left"))
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

  /** The number of prepared query shapes. */
  private[graft] def shapes: Int = synchronized(plans.size)

  /** Release the serving relation (the last live engine sharing it
    * unpersists it) and drop the centroid table and the prepared plans. A
    * closed engine refuses further searches. */
  def close(): Unit = synchronized {
    closed = true
    plans.clear()
    if (served != null) release(served)
    served = null
    cents = null
  }

  /** Rows whose metadata row exists and satisfies every constraint —
    * exactly the rows an inner join with the filtered metadata keeps. */
  private def keep(constraints: Seq[Column]): Column =
    coalesce(col(metaIdCol).isNotNull && constraints.reduceOption(_ && _).getOrElse(lit(true)),
      lit(false))

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

  /** One planned and compiled query shape over the resident relation. */
  private final class Prepared(val plan: DataFrame, vec: ParamHolder, values: Seq[ParamHolder],
                               probes: Option[ParamHolder]) {
    /** Bind one query's values and run the plan. The lock spans bind
      * through collect: the tasks carry the values bound when they are
      * serialised, so they must be this query's own. */
    def run(q: Array[Float], preds: Seq[MetaPredicate], probeSet: Seq[Long]): Array[Row] =
      synchronized {
        vec.bind(q)
        values.zip(preds).foreach { case (h, p) => h.bind(p.value) }
        probes.foreach(_.bind(probeSet.toArray))
        plan.collect()
      }
  }

  /** `preds` as the shape key's constraint list: sorted by attribute. */
  private def parse(meta: Map[String, (String, Any)]): Seq[MetaPredicate] =
    meta.toSeq.sortBy(_._1).map { case (attr, (op, v)) => MetaPredicate(attr, MetaOp.parse(op), v) }

  /** The prepared plan of a shape, planned on its first use: `preds`' values
    * are parameters, as are the query vector and (for `Probe`) the probe
    * set, an `array<bigint>` tested with `array_contains`. */
  private def prepared(kind: Kind, metric: Knn.Metric, limit: Int,
                       preds: Seq[MetaPredicate]): Prepared = synchronized {
    val rel = resident
    plans.getOrElseUpdate(Shape(kind, metric, limit, preds.map(p => (p.attr, p.op, p.valueType))), {
      val (vec, q) = BoundParam(ArrayType(FloatType, containsNull = false))
      val values = preds.map(p => BoundParam(p.valueType))
      val pass = keep(preds.zip(values).map { case (p, (_, v)) => p.toColumn(v) })
      val (probes, probeSet) = BoundParam(ArrayType(LongType, containsNull = false))
      val rows = kind match {
        case Exact | Post => rel
        case Pre => rel.filter(pass)
        case Probe => rel.filter(array_contains(probeSet, col(Cluster)) && pass)
      }
      val scored = rows.select(Seq(col(Id).as(idCol), col(Vec).as(vecCol),
          scaled(metric.score(col(Vec), q), Knn.ScoreDigits).as("score")) ++
          (if (kind == Post) Seq(pass.as("pass")) else Nil): _*)
        .orderBy(metric.order(col("score")), col(idCol).asc)
        .limit(limit)
      new Prepared(scored, vec, values.map(_._1), Some(probes).filter(_ => kind == Probe))
    })
  }

  /** `rows` (id, vec, score) of `p` as a frame of driver-local rows */
  private def local(rows: Seq[Row], p: Prepared): DataFrame =
    corpus.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(p.plan.schema.take(3)))

  /** Metadata filter first, exact kNN on survivors — perfect accuracy. */
  def preFilterSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                      metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val preds = parse(meta)
    val p = prepared(Pre, metric, k, preds)
    local(p.run(queryVector(query), preds, Nil), p)
  }

  /** Vector top-largeK, then metadata filter, then top-k. A corpus row
    * without metadata is a candidate that fails the filter. */
  def postFilterSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                       largeK: Int = 50, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val preds = parse(meta)
    val p = prepared(Post, metric, largeK, preds)
    local(p.run(queryVector(query), preds, Nil).toSeq.filter(_.getBoolean(3)).take(k)
      .map(r => Row(r.get(0), r.get(1), r.get(2))), p)
  }

  /** ACORN-style hybrid: probe the nearest clusters, ranked over the
    * driver-side centroids, with the filter applied in the same scan. */
  def acornSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                  nProbe: Int = 2, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val q = queryVector(query)
    val preds = parse(meta)
    val p = prepared(Probe, metric, k, preds)
    local(p.run(q, preds, Ivf.probeOrder(centroids, q, metric).take(nProbe)), p)
  }

  /** Exact brute-force kNN (no filter) — the evaluation ground truth. */
  def exactSearch(query: DataFrame, k: Int, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val p = prepared(Exact, metric, k, Nil)
    local(p.run(queryVector(query), Nil, Nil), p)
  }

  /** The reference's adaptive loop: widen the probe count until ≥ k
    * filter-passing survivors (acorn.py:162), doubling from one probe. */
  def acornSearchAdaptive(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                          metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val q = queryVector(query)
    val preds = parse(meta)
    val plan = prepared(Probe, metric, k, preds)
    val order = Ivf.probeOrder(centroids, q, metric)
    var nProbe = 1
    var rows = plan.run(q, preds, order.take(nProbe))
    while (nProbe < order.size && rows.length < k) {
      nProbe = math.min(nProbe * 2, order.size)
      rows = plan.run(q, preds, order.take(nProbe))
    }
    local(rows.toSeq, plan)
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

  /** What a prepared plan scans and ranks: every row (`Exact`), the
    * filter's survivors (`Pre`), every row with the filter as a column
    * (`Post`), or the survivors in the probed clusters (`Probe`). */
  private sealed trait Kind
  private case object Exact extends Kind
  private case object Pre extends Kind
  private case object Post extends Kind
  private case object Probe extends Kind

  /** A query shape: one prepared plan serves every query of it. `limit` is
    * k, or largeK for `Post`; `preds` holds each constraint's attribute, op
    * and value type, sorted by attribute. */
  private case class Shape(kind: Kind, metric: Knn.Metric, limit: Int,
                           preds: Seq[(String, MetaOp, DataType)])

  /** Live engines per cached serving relation, keyed by its canonical
    * plan. Engines over the same inputs share one `CacheManager` entry
    * through `.cache()`, so only the last of them to close unpersists it:
    * an earlier unpersist would leave the others' prepared plans to rebuild
    * the buffers outside the `CacheManager`, where nothing frees them. */
  private val residentUsers = mutable.HashMap.empty[LogicalPlan, Int]

  private def acquire(rel: DataFrame): DataFrame = residentUsers.synchronized {
    val key = rel.queryExecution.analyzed.canonicalized
    residentUsers(key) = residentUsers.getOrElse(key, 0) + 1
    rel.cache()
  }

  private def release(rel: DataFrame): Unit = residentUsers.synchronized {
    val key = rel.queryExecution.analyzed.canonicalized
    residentUsers.getOrElse(key, 1) match {
      case 1 => residentUsers.remove(key); rel.unpersist()
      case n => residentUsers(key) = n - 1
    }
  }

  def apply(corpus: DataFrame, metadata: DataFrame,
            idCol: String = "vec_id", vecCol: String = "embedding",
            clusterCol: String = "label", metaIdCol: String = "doc_id"): HybridSearchEngine =
    new HybridSearchEngine(corpus, metadata, idCol, vecCol, clusterCol, metaIdCol)
}
