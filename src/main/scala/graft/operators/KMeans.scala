package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.vectors

/** Distributed Lloyd's k-means over an embedding column — the index-build
  * path when no pre-clustering (label) exists (reference: the HNSW build in
  * /root/reference/acorn.py:35 `init_index`; here the "index" is the
  * centroid table + cluster assignment used by graft.operators.Ivf).
  *
  * Scale shape per iteration: assignment is the codegen'd `NearestCentroid`
  * kernel — centroids ride as a k·d reference object, so the E-step is a
  * NARROW projection (zero shuffle, no crossJoin row explosion, no argmin
  * aggregate); the only shuffle is the (cluster)-keyed `VecSum` M-step with
  * map-side partials. The r2 form (crossJoin to n·k rows + groupBy(id)
  * argmin + join back to the vectors) shuffled the corpus TWICE per Lloyd's
  * iteration — at 100 TB that is iters × corpus-shuffles spent on a
  * row-local computation. Centroids (k·d floats) are driver-side model
  * state, like MLlib — the DATA never collects.
  *
  * Deterministic: seeds are the k lowest-id vectors; assignment distance is
  * quantized (`floor(l2·10⁴ + 0.5)`, the engine-wide scaled() convention)
  * with ties toward the lower cluster id.
  */
object KMeans {

  /** (cluster: Int, cent: array<float>) — the fitted centroid table. */
  def fit(spark: SparkSession, emb: DataFrame, k: Int, iters: Int,
          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    var cent = emb.orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol)).as[Array[Float]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }

    for (_ <- 0 until iters) {
      val table = cent.map { case (c, v) => (c.toLong, v) }.toSeq
      // E-step: kernel projection keeps (cluster, vector) in one row — no
      // assignment join. M-step: VecSum partial-aggregates one d-vector per
      // (cluster, partition); the shuffle carries k·P small arrays.
      val next = emb
        .select(graft.functions.centroids.nearest(col(vecCol), table)
          .getField("label").cast("int").as("cluster"), col(vecCol))
        .groupBy("cluster")
        .agg(graft.functions.aggs.vecSum(col(vecCol)).as("vsum"), count(col(vecCol)).as("n"))
        .select(col("cluster"),
          transform(col("vsum"), v => v / col("n")).cast("array<float>").as("cent"))
        .as[(Int, Array[Float])].collect()
      // empty clusters keep their previous centroid
      val updated = next.toMap
      cent = cent.map { case (c, v) => (c, updated.getOrElse(c, v)) }
    }
    spark.createDataFrame(cent.toIndexedSeq).toDF("cluster", "cent")
  }

  /** Nearest-centroid assignment: (idCol, cluster). The centroid table is
    * k·d model state — collected once (like MLlib) and compiled into the
    * `NearestCentroid` kernel, so the assignment plan is one narrow
    * projection with NO Exchange (asserted in PlanAuditSpec). */
  def assign(emb: DataFrame, centroids: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val table = collectCentroids(centroids)
    emb.select(col(idCol),
      graft.functions.centroids.nearest(col(vecCol), table)
        .getField("label").cast("int").as("cluster"))
  }

  /** INTEGER-EXACT Lloyd's over quantized components — the engine-portable
    * index build: components quantize to `floor(x·10⁴ + 0.5)` longs, the
    * E-step is the `NearestCentroidLong` kernel (exact integer squared L2,
    * lowest-cluster ties), and the M-step centroid is the element-wise
    * integer floor-mean (`VecSumLong` + the pmod floor-division identity,
    * negative-safe). Every step is bit-identical in any engine, so an
    * index built this way is REPRODUCIBLE — across reruns, partitionings,
    * and engines — and the entries built on it carry full DuckDB oracles
    * (the float `fit` stays as the library form whose fp accumulation the
    * oracle cannot replicate; 10⁻⁴ component resolution on unit-scale
    * embeddings costs no meaningful recall).
    *
    * Returns (centroids 0..k-1 as quantized longs, quantized corpus
    * (idCol, q: array<bigint>)). Same scale shape as `fit`: narrow kernel
    * E-step, one VecSumLong shuffle per iteration, k·d driver state. */
  def fitInt(emb: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id", vecCol: String = "embedding")
      : (Seq[(Long, Array[Long])], DataFrame) = {
    // kernel, not the transform HOF: the E-step scans this projection
    // corpus-wide — the boxed-lambda form was the GC trigger the r11
    // kmeansdiag probe named at d=2048
    val qemb = emb.select(col(idCol),
      graft.functions.vectors.quantize(expr(vecCol)).as("q"))
    var cent: Seq[(Long, Array[Long])] = qemb.orderBy(col(idCol).asc).limit(k)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq
    for (_ <- 0 until iters) {
      val next = qemb
        .select(graft.functions.centroids.nearestLong(col("q"), cent)
          .getField("label").as("cluster"), col("q"))
        .groupBy("cluster")
        .agg(graft.functions.aggs.vecSumLong(col("q")).as("sv"), count(lit(1)).as("cnt"))
        .select(col("cluster"),
          expr(graft.functions.floorMeanVecSql("sv", "cnt")).as("cent"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      // empty clusters keep their previous centroid
      cent = cent.map { case (c, v) => (c, next.getOrElse(c, v)) }
    }
    (cent, qemb)
  }

  /** (label, vector) rows of a small centroid frame, label widened to long. */
  private[graft] def collectCentroids(centroids: DataFrame): Seq[(Long, Array[Float])] =
    centroids.collect().toSeq.map { r =>
      val label = r.get(0) match {
        case i: Int => i.toLong
        case l: Long => l
        case other => other.toString.toLong
      }
      (label, r.getSeq[Float](1).toArray)
    }
}
