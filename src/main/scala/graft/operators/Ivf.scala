package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.functions.{scaled, vectors}

/** IVF-style clustered index — the Spark-first re-expression of the
  * reference's ACORN-1 hybrid traversal (/root/reference/acorn.py:149
  * `acorn_search`).
  *
  * The reference walks an HNSW graph, blocking filter-failing nodes and
  * widening `max_visits` until enough survivors accumulate. A graph walk is
  * inherently sequential; the scalable Spark equivalent is coarse
  * quantization: partition the corpus by nearest centroid, probe only the
  * `nProbe` clusters nearest the query, and push the metadata predicate
  * INTO the pruned scan (filter evaluated before the distance kernel).
  *
  * At 100 TB the corpus is written partitioned by cluster id
  * (`write.partitionBy("label")`), so probing reads nProbe/C of the data
  * via partition pruning; centroids (C rows) always broadcast.
  */
object Ivf {

  /** Per-cluster mean vectors, computed distributively via the `VecSum`
    * declarative aggregate: map-side partials are one d-vector per (cluster,
    * partition), so the single `groupBy(label)` shuffle carries C×P small
    * arrays — never the posexplode'd n×d rows, and never a driver collect.
    * Result is cast to array<float> (the corpus element type). */
  def centroids(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
                clusterCol: String = "label"): DataFrame =
    emb
      .groupBy(clusterCol)
      // count(vecCol), not count(*): VecSum skips NULL vectors, so the
      // divisor must too (matches the DuckDB avg-per-dim oracle)
      .agg(graft.functions.aggs.vecSum(col(vecCol)).as("vsum"), count(col(vecCol)).as("n"))
      .select(col(clusterCol),
        transform(col("vsum"), v => v / col("n")).cast("array<float>").as("cent"))

  /** The `nProbe` cluster ids nearest the query under `metric`
    * (deterministic tie-break on cluster id). Probing with the SEARCH
    * metric keeps centroid ranking aligned with result ranking — an
    * L2-assigned index probed by cosine (or vice versa) silently costs
    * recall. Centroid set is tiny → broadcast. */
  def probe(cent: DataFrame, query: DataFrame, nProbe: Int,
            clusterCol: String = "label", qVecCol: String = "q_vec",
            metric: Knn.Metric = Knn.Cosine): DataFrame =
    cent.crossJoin(broadcast(query))
      .withColumn("cscore", scaled(metric.score(col("cent"), col(qVecCol)), Knn.ScoreDigits))
      .orderBy(metric.order(col("cscore")), col(clusterCol).asc)
      .limit(nProbe)
      .select(clusterCol)

  /** [[probe]]'s ranking over driver-side centroids, every cluster best
    * first: the same scaled metric evaluated on the driver (no job), nulls
    * placed as Spark sorts them, ties to the lower cluster id. */
  private[graft] def probeOrder(cent: Seq[(Long, Array[Float])], q: Array[Float],
                                metric: Knn.Metric): Seq[Long] = {
    def literal(v: Array[Float]) =
      Bridge.column(Literal.create(v, ArrayType(FloatType, containsNull = false)))
    cent.map { case (label, c) =>
      val s = Option(Bridge.expression(metric.score(literal(c), literal(q))).eval())
        .map(v => math.floor(v.asInstanceOf[Double] * math.pow(10, Knn.ScoreDigits) + 0.5).toLong)
      // Spark sorts nulls first ascending and last descending
      val key = if (metric.ascending) (s.fold(0)(_ => 1), s.getOrElse(0L))
                else (s.fold(1)(_ => 0), -s.getOrElse(0L))
      (key, label)
    }.sorted.map(_._2)
  }

  /** Per-query probes for a BROADCAST query set — [[probe]]'s ordering
    * (metric order, then lower cluster id) replayed per q_id over the
    * C×|Q| scored centroid frame (tiny: centroids are model state), via a
    * window rank. Returns (q_id, clusterCol) pairs — the label-keyed
    * membership form the batched compressed searches join on. */
  def probeBatch(cent: DataFrame, queries: DataFrame, nProbe: Int,
                 clusterCol: String = "label", qVecCol: String = "q_vec",
                 metric: Knn.Metric = Knn.Cosine,
                 qIdCol: String = "q_id"): DataFrame = {
    // the k-heap carries ids as long — a non-numeric clusterCol would
    // cast to null and every probe pair would silently vanish (r9
    // ADVICE); refuse loudly instead
    require(cent.schema(clusterCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"probeBatch: clusterCol '$clusterCol' is " +
        s"${cent.schema(clusterCol).dataType.simpleString} — the per-query " +
        "k-heap cut carries cluster ids as BIGINT, so a non-numeric label " +
        "column would cast to null and silently drop every probe pair; " +
        "use a numeric cluster label (or map labels to ids first)")
    // per-query cut via the k-heap aggregate, not a window: the frame is
    // C×|Q| model state either way, but the heap partial-aggregates
    // map-side and keeps every batch consumer's plan Window-free (the
    // PlanAuditSpec invariant). TopKHits ties to the lower id — exactly
    // [[probe]]'s (metric order, cluster id asc) contract, spec-pinned.
    cent.crossJoin(broadcast(queries))
      .withColumn("cscore", scaled(metric.score(col("cent"), col(qVecCol)), Knn.ScoreDigits))
      .groupBy(qIdCol)
      .agg(graft.functions.aggs.topK(col("cscore"), col(clusterCol), nProbe,
        asc = metric.ascending).as("hits"))
      .select(col(qIdCol), explode(col("hits.id")).as(clusterCol))
  }

  /** The reference's ACORN loop widens traversal until enough
    * filter-passing survivors accumulate (/root/reference/acorn.py:162,
    * `while visits <= meta_search`). Batch analogue: double the probed
    * cluster count until ≥ k results pass the metadata filter or every
    * cluster is probed. The driver-side loop is bounded by log2(C)
    * iterations; centroids stay cached across widenings. */
  def adaptiveHybridKnn(emb: DataFrame, meta: DataFrame, pred: Column, query: DataFrame,
                        k: Int, metric: Knn.Metric = Knn.Cosine,
                        idCol: String = "vec_id", metaIdCol: String = "doc_id",
                        vecCol: String = "embedding", clusterCol: String = "label"): DataFrame = {
    val cent = centroids(emb, idCol, vecCol, clusterCol).cache()
    try {
      val totalClusters = cent.count().toInt
      // each widening materializes via eager localCheckpoint, so the loop's
      // count() and the caller's first action reuse the same job — the most
      // expensive (final) probe level runs exactly once
      def searchAt(nProbe: Int): DataFrame =
        searchProbed(cent, emb, meta, pred, query, k, nProbe, metric,
          idCol, metaIdCol, vecCol, clusterCol).transform(Dedup.materialize)

      var nProbe = 1
      var res = searchAt(nProbe)
      while (nProbe < totalClusters && res.count() < k) {
        nProbe = math.min(nProbe * 2, totalClusters)
        res = searchAt(nProbe)
      }
      res
    } finally cent.unpersist()
  }

  /** Incremental assignment to an EXISTING centroid table (the FAISS add()
    * analogue, A30's ingest path): (idCol, label, d) per arriving vector,
    * via the `NearestCentroid` codegen kernel — the centroid frame (k·d
    * model state) collects once and the assignment is a narrow projection,
    * zero shuffle. Distance is the quantized L2 `floor(l2·10⁴ + 0.5)` with
    * lowest-label ties — identical arithmetic to the DuckDB oracle's
    * scaled list_distance argmin. */
  def assignToNearest(emb: DataFrame, cent: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      clusterCol: String = "label"): DataFrame = {
    val table = KMeans.collectCentroids(cent.select(col(clusterCol), col("cent")))
    emb.select(col(idCol),
      graft.functions.centroids.nearest(col(vecCol), table).as("m"))
      .select(col(idCol), col("m.label").as(clusterCol), col("m.d").as("d"))
  }

  /** Build the centroid table AND register it for the opt-in
    * `AnnProbeRewrite` Catalyst rule: after this (plus
    * `spark.graft.ann.rewrite.enabled=true` on an extensions session),
    * plain `ORDER BY vec_cosine(...) LIMIT k` SQL over any relation
    * exposing `clusterCol` is probed instead of scanned. */
  def buildAndRegisterIndex(emb: DataFrame, nProbe: Int = 2,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            clusterCol: String = "label"): graft.plans.AnnIndexRegistry.IvfIndex = {
    val cents = centroids(emb, idCol, vecCol, clusterCol)
      .collect()
      .map { r =>
        val cid = r.get(0) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => other.toString.toInt
        }
        (cid, r.getSeq[Float](1).toArray)
      }
      .toSeq
    val index = graft.plans.AnnIndexRegistry.IvfIndex(clusterCol, cents, nProbe)
    // scoped to the building session — an index never leaks into queries of
    // unrelated sessions that happen to share the cluster column name
    graft.plans.AnnIndexRegistry.register(index, emb.sparkSession)
    index
  }

  /** The clustered-layout EXPORT CONTRACT version (the Hnsw/Pq
    * SchemaVersion convention): the partitioned parquet IS the on-disk
    * index another engine or a later session consumes, and its one
    * structural convention — WHICH column the directories partition by —
    * is invisible in the row schema once partition values are folded
    * back in. The sidecar records it: `_graft_meta` (underscore-prefixed,
    * so corpus readers listing `path` ignore it) holds one
    * (schema_version, cluster_col) row written immediately after the
    * layout — the two writes are separate parquet commits, NOT one atomic
    * unit (ADVICE r16), so the contract is direction-safe instead: a
    * layout whose sidecar is missing or unreadable is REFUSED by
    * [[readProbed]], never served on a guessed convention. A crash
    * between the two commits therefore yields a loud rebuild message,
    * not a wrong pruning. Any layout-convention change MUST bump this constant
    * (PqExportContractSpec pins it) and readers refuse a mismatched
    * vintage or a foreign partition column loudly instead of pruning on
    * the wrong key. */
  val SchemaVersion = 1

  /** Materialize the corpus partitioned by cluster id — the 100 TB index
    * layout. Probing then PRUNES PARTITIONS at the file source (visible as
    * `PartitionFilters` in the scan), reading only nProbe/C of the data. */
  def writeClustered(emb: DataFrame, path: String, clusterCol: String = "label"): Unit = {
    emb.write.mode("overwrite").partitionBy(clusterCol).parquet(path)
    // after the main write: overwrite mode truncates `path` first
    val s = emb.sparkSession
    import s.implicits._
    Seq((SchemaVersion, clusterCol)).toDF("schema_version", "cluster_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_graft_meta")
  }

  /** Probe a clustered layout: the `isin(probedClusters)` filter on the
    * partition column prunes directories before any IO. The sidecar meta
    * is validated first — serving a layout partitioned on a DIFFERENT
    * column would silently prune nothing (the filter falls back to a
    * row-level scan predicate) or prune wrongly. */
  def readProbed(spark: org.apache.spark.sql.SparkSession, path: String,
                 probedClusters: Seq[Int], clusterCol: String = "label"): DataFrame = {
    // a pre-contract layout has no sidecar at all and would otherwise
    // surface as a raw path-does-not-exist AnalysisException (ADVICE
    // r16) — rethrow with the contract's rebuild instruction instead
    val metaDf =
      try spark.read.parquet(s"$path/_graft_meta")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"ivf clustered read: layout at $path carries no readable " +
              "_graft_meta sidecar — it predates the export contract (or " +
              "the sidecar write was lost mid-rebuild); rebuild with " +
              "writeClustered", e)
      }
    // pin the exact column set and read fields BY NAME (ADVICE r16: the
    // positional getInt(0)/getString(1) form would misread — or throw an
    // opaque ClassCastException on — a foreign or column-reordered meta
    // file instead of refusing with the contract message)
    require(metaDf.columns.sameElements(Array("schema_version", "cluster_col")),
      s"ivf clustered read: _graft_meta at $path has columns " +
        s"${metaDf.columns.mkString(",")}, the schema_version-$SchemaVersion " +
        "contract writes schema_version,cluster_col — rebuild with " +
        "writeClustered")
    require(metaDf.schema("schema_version").dataType ==
        org.apache.spark.sql.types.IntegerType &&
      metaDf.schema("cluster_col").dataType ==
        org.apache.spark.sql.types.StringType,
      s"ivf clustered read: _graft_meta at $path has types " +
        s"${metaDf.schema.map(_.dataType.simpleString).mkString(",")}, the " +
        "contract writes (int, string) — a foreign sidecar cannot be " +
        "trusted for pruning; rebuild with writeClustered")
    val meta = metaDf.select(col("schema_version"), col("cluster_col")).collect()
    require(meta.length == 1,
      s"ivf clustered read: layout at $path carries ${meta.length} meta rows, " +
        "expected exactly one — rebuild with writeClustered")
    require(meta.head.getInt(0) == SchemaVersion,
      s"ivf clustered layout at $path has schema_version ${meta.head.getInt(0)}, " +
        s"this engine reads $SchemaVersion — rebuild the index or use a " +
        "matching engine version")
    require(meta.head.getString(1) == clusterCol,
      s"ivf clustered layout at $path is partitioned by '${meta.head.getString(1)}', " +
        s"caller probes '$clusterCol' — partition pruning would miss or " +
        "mis-prune; rebuild or probe the recorded column")
    spark.read.parquet(path).filter(col(clusterCol).isin(probedClusters: _*))
  }

  /** ACORN-style hybrid search: metadata-aware pruned probe.
    * `pred` is evaluated inside the pruned scan — rows failing the filter
    * never reach the distance kernel (the reference's "blocked set"). */
  /** The reference's central design point as ONE operator: pick the
    * search strategy FROM the predicate's selectivity (README query
    * classes; acorn.py trades exactly this off). Selective predicates
    * (< `selPreMax` ‰ of the corpus) pre-filter — exact scan over the few
    * survivors; mid-selectivity probes the IVF clusters with the filter
    * pushed into the pruned scan; broad predicates post-filter a
    * large-k unfiltered top-k (cheapest when almost everything passes).
    * The two counts are index-statistics reads (count-star over the
    * metadata scan — at scale served from parquet row-group stats), the
    * same count-then-dispatch shape as `Dedup.simhashPairsAuto`. The
    * chosen strategy is emitted as a column so an oracle can verify the
    * DISPATCH, not just the rows. */
  def autoKnn(emb: DataFrame, meta: DataFrame, pred: Column, query: DataFrame,
              k: Int, nProbe: Int = 2, largeK: Int = 50,
              metric: Knn.Metric = Knn.Cosine,
              selPreMax: Long = 100L, selHybridMax: Long = 300L,
              idCol: String = "vec_id", metaIdCol: String = "doc_id",
              vecCol: String = "embedding", clusterCol: String = "label"): DataFrame = {
    val sel = meta.filter(pred).count() * 1000L / meta.count()
    val (strategy, res) =
      if (sel < selPreMax)
        ("prefilter", Knn.prefilterKnn(emb, meta, pred, query, k, metric,
          idCol, metaIdCol, vecCol))
      else if (sel < selHybridMax)
        ("hybrid", hybridKnn(emb, meta, pred, query, k, nProbe, metric,
          idCol, metaIdCol, vecCol, clusterCol))
      else
        ("postfilter", Knn.postfilterKnn(emb, meta, pred, query, k, largeK, metric,
          idCol, metaIdCol, vecCol))
    res.select(lit(strategy).as("strategy"), col(idCol), col("score"))
  }

  def hybridKnn(emb: DataFrame, meta: DataFrame, pred: Column, query: DataFrame,
                k: Int, nProbe: Int, metric: Knn.Metric = Knn.Cosine,
                idCol: String = "vec_id", metaIdCol: String = "doc_id",
                vecCol: String = "embedding", clusterCol: String = "label"): DataFrame =
    searchProbed(centroids(emb, idCol, vecCol, clusterCol),
      emb, meta, pred, query, k, nProbe, metric, idCol, metaIdCol, vecCol, clusterCol)

  /** Batch hybrid search — the reference's main loop (acorn.py:283 runs
    * queries one at a time) as ONE distributed plan: queries broadcast,
    * per-query probes via the TopKHits aggregate over the C×|Q| centroid
    * scores, the corpus joined only against its probed (query, cluster)
    * pairs with the metadata predicate applied before the distance kernel,
    * and per-query top-k again via map-side k-heaps. No stage shuffles
    * more than |Q|·k rows per partition. Returns [q_id, id, rank, score]. */
  def hybridBatchKnn(emb: DataFrame, meta: DataFrame, pred: Column, queries: DataFrame,
                     k: Int, nProbe: Int, metric: Knn.Metric = Knn.Cosine,
                     idCol: String = "vec_id", metaIdCol: String = "doc_id",
                     vecCol: String = "embedding", clusterCol: String = "label",
                     qIdCol: String = "q_id", qVecCol: String = "q_vec",
                     excludeSelf: Boolean = true,
                     precomputedCent: Option[DataFrame] = None): DataFrame = {
    val cent = precomputedCent.getOrElse(centroids(emb, idCol, vecCol, clusterCol))
    // probe via the shared metric-honoring [[probeBatch]] (r8 deferred
    // item c: an inline copy here hardcoded cosine ordering, so an
    // L2-metric batch probed with the wrong ranking; the probe-ordering
    // contract — metric order, then lower cluster id — is single-sourced
    // now, and IvfLshSpec pins probe-order identity)
    val probes = probeBatch(cent, queries, nProbe, clusterCol, qVecCol,
      metric, qIdCol)
    // probes is |Q|·nProbe rows — always the broadcast side, so the 100 TB
    // corpus is never the build side regardless of size estimates
    var pruned = emb.select(col(idCol), col(vecCol), col(clusterCol))
      .join(broadcast(probes), clusterCol)
      .join(meta.filter(pred), col(idCol) === col(metaIdCol))
      .join(broadcast(queries), qIdCol)
    if (excludeSelf) pruned = pruned.filter(col(idCol) =!= col(qIdCol))
    pruned
      .withColumn("score", scaled(metric.score(col(vecCol), col(qVecCol)), Knn.ScoreDigits))
      .groupBy(col(qIdCol))
      .agg(graft.functions.aggs.topK(col("score"), col(idCol), k, metric.ascending).as("hits"))
      .select(col(qIdCol), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col(qIdCol), col("hit.id").as(idCol),
        (col("pos") + 1).cast("long").as("rank"), col("hit.score").as("score"))
  }

  /** Shared probe + pruned-scan + top-k body (used by hybridKnn and the
    * adaptive variant so they cannot drift). */
  private[graft] def searchProbed(cent: DataFrame, emb: DataFrame, meta: DataFrame, pred: Column,
                           query: DataFrame, k: Int, nProbe: Int, metric: Knn.Metric,
                           idCol: String, metaIdCol: String, vecCol: String,
                           clusterCol: String): DataFrame = {
    val probed = probe(cent, query, nProbe, clusterCol, metric = metric)
    val pruned = emb
      .join(broadcast(probed), clusterCol)
      .join(meta.filter(pred), col(idCol) === col(metaIdCol))
      .select(col(idCol), col(vecCol))
    Knn.topK(pruned, query, k, metric, idCol, vecCol)
  }
}
