package graft

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedMutableProjection, InterpretedOrdering, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
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
  * The first search builds one serving relation, every corpus row (id,
  * vector, cluster) once, left-joined to its metadata row, and the first
  * probing search collects the C×d centroid table to the driver. Metadata
  * holds at most one row per id (the reference keys it by id).
  *
  * Where the relation lives follows the driver-memory budget
  * (`DriverResident.budget`, an eighth of the driver's max heap, against
  * the rows' in-memory `UnsafeRow` bytes). Below it, the relation is
  * collected once into a driver snapshot grouped by cluster; above it, it
  * is cached in Spark, the only form that serves a corpus too large for the
  * driver.
  *
  * Point searches run through prepared shapes. A query shape — strategy,
  * metric, k (largeK for the post-filter) and the predicate's sorted
  * (attribute, op, value type) list — gets its plan on its first query,
  * under the session conf in force then; later queries of the shape bind
  * the query vector, the predicate values and the probe set as parameters.
  * Below the budget the plan's filter, projection and order are bound to
  * the snapshot's rows and evaluated on the driver (a probing search reads
  * only the probed clusters), so a search runs one job, the collect of its
  * query frame, and none when that frame is driver-local. Above it the
  * plan is compiled once and re-run by Spark, so queries neither plan nor
  * compile. One lock per shape serialises its queries from bind to
  * collect; different shapes run concurrently. Point searches run when
  * called and return driver-local frames of (idCol, vecCol, score), best
  * first. `close()` drops the snapshot or the cached relation, and the
  * prepared shapes.
  */
final class HybridSearchEngine private (corpus: DataFrame, metadata: DataFrame,
                                        idCol: String, vecCol: String, clusterCol: String,
                                        metaIdCol: String) extends AutoCloseable {
  import HybridSearchEngine._

  private var rel: DataFrame = _
  private var snapshot: Option[Snapshot] = None
  private var cents: Seq[(Long, Array[Float])] = _
  private val plans = mutable.HashMap.empty[Shape, Prepared]
  private var closed = false

  private def checkOpen(): Unit =
    require(!closed, "HybridSearchEngine is closed — build a new engine to search again")

  /** The serving relation. Corpus columns go under private names, so a
    * predicate resolves against the metadata columns only. On first use it
    * goes to its side of the budget: collected into the driver snapshot, or
    * cached in Spark. */
  private def resident(entry: String): DataFrame = synchronized {
    checkOpen()
    if (rel == null) {
      val r = corpus.select(col(idCol).as(Id), col(vecCol).as(Vec), col(clusterCol).as(Cluster))
        .join(metadata, col(Id) === metadata(metaIdCol), "left")
      snapshot = DriverResident.tagged(r.sparkSession.sparkContext, s"$entry:build:snapshot")(
        Snapshot.within(r, DriverResident.budget))
      rel = if (snapshot.isEmpty) acquire(r) else r
    }
    rel
  }

  /** The centroid table: driver-side model state (C×d floats). */
  private def centroids(entry: String): Seq[(Long, Array[Float])] = synchronized {
    checkOpen()
    if (cents == null) {
      val t = corpus.schema(clusterCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"HybridSearchEngine: cluster column '$clusterCol' is ${t.simpleString}; " +
          "probing needs integral cluster ids")
      cents = DriverResident.tagged(corpus.sparkSession.sparkContext, s"$entry:build:centroids")(
        KMeans.collectCentroids(Ivf.centroids(corpus, idCol, vecCol, clusterCol)))
    }
    cents
  }

  /** The number of prepared query shapes. */
  private[graft] def shapes: Int = synchronized(plans.size)

  /** Whether the serving rows sit in the driver snapshot (None before the
    * first search). */
  private[graft] def onDriver: Option[Boolean] = synchronized(Option(rel).map(_ => snapshot.isDefined))

  /** Drop the snapshot, or release the cached serving relation (the last
    * live engine sharing it unpersists it), and drop the centroid table and
    * the prepared plans. A closed engine refuses further searches. */
  def close(): Unit = synchronized {
    closed = true
    plans.clear()
    if (rel != null && snapshot.isEmpty) release(rel)
    rel = null
    snapshot = None
    cents = null
  }

  /** Rows whose metadata row exists and satisfies every constraint —
    * exactly the rows an inner join with the filtered metadata keeps. */
  private def keep(constraints: Seq[Column]): Column =
    coalesce(col(metaIdCol).isNotNull && constraints.reduceOption(_ && _).getOrElse(lit(true)),
      lit(false))

  /** The query frame's vector; a point search takes exactly one. Collecting
    * the frame is the one job a point search runs below the budget (none
    * when the frame is driver-local). */
  private def queryVector(query: DataFrame, entry: String): Array[Float] = {
    val t = query.schema(QVec).dataType
    require(t match { case ArrayType(FloatType, _) => true; case _ => false },
      s"HybridSearchEngine: $QVec is ${t.simpleString}, expected array<float>")
    val rows = DriverResident.tagged(query.sparkSession.sparkContext, s"$entry:exec:query_frame")(
      query.select(col(QVec)).collect())
    require(rows.length == 1,
      s"HybridSearchEngine: a point search takes a query frame of exactly one row, " +
        s"got ${rows.length} — use acornSearchBatch for many queries")
    require(!rows(0).isNullAt(0), s"HybridSearchEngine: the query's $QVec is null")
    rows(0).getSeq[Float](0).toArray
  }

  /** One planned query shape over the resident relation. Above the budget
    * the plan is compiled and run by Spark; below it, `driver` evaluates the
    * same expressions over the snapshot. */
  private final class Prepared(val plan: DataFrame, vec: ParamHolder, values: Seq[ParamHolder],
                               probes: Option[ParamHolder], driver: Option[(Snapshot, DriverPlan)]) {
    /** Bind one query's values and run the plan. The lock spans bind
      * through collect: the tasks carry the values bound when they are
      * serialised, and the driver evaluators read them, so they must be
      * this query's own. */
    def run(q: Array[Float], preds: Seq[MetaPredicate], probeSet: Seq[Long],
            entry: String): Array[Row] =
      synchronized {
        vec.bind(q)
        values.zip(preds).foreach { case (h, p) => h.bind(p.value) }
        probes.foreach(_.bind(probeSet.toArray))
        driver match {
          case Some((snap, d)) => d.top(if (probes.isDefined) snap.probed(probeSet) else snap.all)
          case None => DriverResident.tagged(plan.sparkSession.sparkContext,
            s"$entry:exec:prepared_plan")(plan.collect())
        }
      }
  }

  /** `preds` as the shape key's constraint list: sorted by attribute. */
  private def parse(meta: Map[String, (String, Any)]): Seq[MetaPredicate] =
    meta.toSeq.sortBy(_._1).map { case (attr, (op, v)) => MetaPredicate(attr, MetaOp.parse(op), v) }

  /** The prepared plan of a shape, planned on its first use: `preds`' values
    * are parameters, as are the query vector and (for `Probe`) the probe
    * set, an `array<bigint>` tested with `array_contains`. */
  private def prepared(kind: Kind, metric: Knn.Metric, limit: Int,
                       preds: Seq[MetaPredicate], entry: String): Prepared = synchronized {
    val rel = resident(entry)
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
      new Prepared(scored, vec, values.map(_._1), Some(probes).filter(_ => kind == Probe),
        snapshot.map(s => (s, new DriverPlan(scored, limit))))
    })
  }

  /** `rows` (id, vec, score) of `p` as a frame of driver-local rows */
  private def local(rows: Seq[Row], p: Prepared): DataFrame =
    corpus.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(p.plan.schema.take(3)))

  /** Metadata filter first, exact kNN on survivors — perfect accuracy. */
  def preFilterSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                      metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val entry = "preFilterSearch"
    val preds = parse(meta)
    val p = prepared(Pre, metric, k, preds, entry)
    local(p.run(queryVector(query, entry), preds, Nil, entry), p)
  }

  /** Vector top-largeK, then metadata filter, then top-k. A corpus row
    * without metadata is a candidate that fails the filter. */
  def postFilterSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                       largeK: Int = 50, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val entry = "postFilterSearch"
    val preds = parse(meta)
    val p = prepared(Post, metric, largeK, preds, entry)
    local(p.run(queryVector(query, entry), preds, Nil, entry).toSeq
      .filter(_.getBoolean(3)).take(k).map(r => Row(r.get(0), r.get(1), r.get(2))), p)
  }

  /** ACORN-style hybrid: probe the nearest clusters, ranked over the
    * driver-side centroids, with the filter applied in the same scan. Below
    * the budget only the probed clusters' rows are read. */
  def acornSearch(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                  nProbe: Int = 2, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val entry = "acornSearch"
    val q = queryVector(query, entry)
    val preds = parse(meta)
    val p = prepared(Probe, metric, k, preds, entry)
    local(p.run(q, preds, Ivf.probeOrder(centroids(entry), q, metric).take(nProbe), entry), p)
  }

  /** Exact brute-force kNN (no filter) — the evaluation ground truth. */
  def exactSearch(query: DataFrame, k: Int, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val entry = "exactSearch"
    val p = prepared(Exact, metric, k, Nil, entry)
    local(p.run(queryVector(query, entry), Nil, Nil, entry), p)
  }

  /** The reference's adaptive loop: widen the probe count until ≥ k
    * filter-passing survivors (acorn.py:162), doubling from one probe. */
  def acornSearchAdaptive(meta: Map[String, (String, Any)], query: DataFrame, k: Int,
                          metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val entry = "acornSearchAdaptive"
    val q = queryVector(query, entry)
    val preds = parse(meta)
    val plan = prepared(Probe, metric, k, preds, entry)
    val order = Ivf.probeOrder(centroids(entry), q, metric)
    var nProbe = 1
    var rows = plan.run(q, preds, order.take(nProbe), entry)
    while (nProbe < order.size && rows.length < k) {
      nProbe = math.min(nProbe * 2, order.size)
      rows = plan.run(q, preds, order.take(nProbe), entry)
    }
    local(rows.toSeq, plan)
  }

  /** Batch hybrid search: many queries in one plan, per-query probes and
    * per-query top-k via map-side k-heaps. `queries`: [q_id, q_vec]. */
  def acornSearchBatch(meta: Map[String, (String, Any)], queries: DataFrame, k: Int,
                       nProbe: Int = 2, metric: Knn.Metric = Knn.Cosine): DataFrame = {
    val cent = corpus.sparkSession.createDataFrame(centroids("acornSearchBatch")).toDF(clusterCol, "cent")
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

  /** The serving relation's rows on the driver, grouped by cluster: the rows
    * of cluster `ids(i)` are `rows(off(i) until off(i + 1))`; rows without an
    * integral cluster id follow the last group. */
  private final class Snapshot(rows: Array[InternalRow], ids: Array[Long], off: Array[Int]) {
    def all: Iterator[InternalRow] = rows.iterator

    /** The rows of the probed clusters, each cluster once. */
    def probed(probes: Seq[Long]): Iterator[InternalRow] =
      probes.distinct.iterator.flatMap { c =>
        val i = java.util.Arrays.binarySearch(ids, c)
        if (i < 0) Iterator.empty else Iterator.range(off(i), off(i + 1)).map(rows)
      }
  }

  private object Snapshot {
    /** `rel`'s rows on the driver when their in-memory size, the sum of their
      * `UnsafeRow` sizes, is at most `budget`: one job sizes them, a second
      * collects them. None above the budget, having collected nothing. */
    def within(rel: DataFrame, budget: Long): Option[Snapshot] = {
      val qe = rel.queryExecution
      val schema = rel.schema
      val bytes = qe.toRdd.mapPartitions { it =>
        val unsafe = UnsafeProjection.create(schema)
        it.map(r => unsafe(r).getSizeInBytes.toLong)
      }.fold(0L)(_ + _)
      if (bytes > budget) None
      else {
        val rows = qe.executedPlan.executeCollect()
        val ord = schema.fieldIndex(Cluster)
        val dt = schema(Cluster).dataType
        val cluster: InternalRow => Option[Long] = dt match {
          case ByteType | ShortType | IntegerType | LongType =>
            r => if (r.isNullAt(ord)) None else Some(r.get(ord, dt).asInstanceOf[Number].longValue)
          case _ => _ => None
        }
        val (keyed, rest) = rows.map(r => (cluster(r), r)).partition(_._1.isDefined)
        val sorted = keyed.sortBy(_._1.get)
        val starts = sorted.indices.filter(i => i == 0 || sorted(i)._1 != sorted(i - 1)._1).toArray
        val ids = starts.map(sorted(_)._1.get)
        val off = starts :+ sorted.length
        Some(new Snapshot(sorted.map(_._2) ++ rest.map(_._2), ids, off))
      }
    }
  }

  /** A prepared plan's filter, projection and order, bound to the snapshot's
    * rows: the expressions the Spark plan runs, evaluated on the driver, and
    * its top-`limit` kept in a heap in the plan's order. The evaluators are
    * interpreted, so every row reads the shape's current bindings (generated
    * code reads a `BoundParam` once, when its class is instantiated). */
  private final class DriverPlan(plan: DataFrame, limit: Int) {
    // the shape of `prepared`'s plan: limit(orderBy(select(filter?(relation))))
    private val (cond, project, ordering, toRow) = plan.queryExecution.analyzed match {
      case GlobalLimit(_, LocalLimit(_, sort: Sort)) => sort.child match {
        case Project(list, child) =>
          val (c, in) = child match {
            case Filter(c, in) => (Some(c), in)
            case in => (None, in)
          }
          val out = list.map(_.toAttribute)
          (c.map(e => Predicate.createInterpreted(BindReferences.bindReference(e, in.output))),
            new InterpretedMutableProjection(BindReferences.bindReferences(list, in.output)),
            new InterpretedOrdering(BindReferences.bindReferences(sort.order, out)),
            CatalystTypeConverters.createToScalaConverter(DataTypeUtils.fromAttributes(out)))
      }
    }

    /** The best `limit` of `rows` that pass the filter, best first. */
    def top(rows: Iterator[InternalRow]): Array[Row] = {
      // the worst kept row at the head
      val heap = mutable.PriorityQueue.empty[InternalRow](ordering)
      rows.foreach { r =>
        if (cond.forall(_.eval(r))) {
          val p = project(r)
          if (heap.size < limit) heap.enqueue(p.copy())
          else if (limit > 0 && ordering.compare(p, heap.head) < 0) {
            heap.dequeue()
            heap.enqueue(p.copy())
          }
        }
      }
      heap.dequeueAll.reverseIterator.map((r: InternalRow) => toRow(r).asInstanceOf[Row]).toArray
    }
  }

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
