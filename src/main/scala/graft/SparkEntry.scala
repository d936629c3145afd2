package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Knn, MetaPredicate}
import graft.queries._

/** Entry contract — see SURVEY.md §7. */
object SparkEntry {

  /** Flagship: hybrid search (metadata pre-filter + exact cosine kNN) on
    * /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
    val docs = Tables(spark, dir, "documents")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    Knn.prefilterKnn(
      emb.filter(col("vec_id") =!= 0), docs,
      MetaPredicate("lang" -> ("exact", "en")),
      q, 5, Knn.Cosine)
      .select("vec_id", "score")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.defs ++ SearchQueries.defs ++ DedupQueries.defs ++ TextQueries.defs ++
      HybridQueries.defs ++ PipelineQueries.defs ++ CurationQueries.defs ++ FusionQueries.defs ++
      AnalyticsQueries.defs ++ StreamingQueries.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ SearchQueries.oracle ++ DedupQueries.oracle ++ TextQueries.oracle ++
      HybridQueries.oracle ++ PipelineQueries.oracle ++ CurationQueries.oracle ++ FusionQueries.oracle ++
      AnalyticsQueries.oracle ++ StreamingQueries.oracle
}
