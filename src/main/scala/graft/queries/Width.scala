package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Tables, TmpDirs}

/** The embedding width a search family runs at (SURVEY A45): the 64-d gate frame or the
  * derived 2048-d frame at the reference's width. A twinned family is one definition over
  * its `Width`; it emits the d=64 entry and its `_2048` twin. */
private[queries] final class Width private (val dims: Int, val suffix: String,
                                            val numSub: Int, val subDim: Int) {
  private[queries] def wide: Boolean = dims > 64
  private[queries] def pick[T](base: => T, wide: => T): T = if (this.wide) wide else base
  private[queries] def name(base: String): String = base + suffix

  /** (vec_id, embedding, …): the embeddings table, or the derived-wide (vec_id, embedding). */
  private[queries] def frame(s: SparkSession, dir: String): DataFrame =
    pick(Tables(s, dir, "embeddings"), HybridQueries.wideEmbeddings(s, dir))

  /** `frame` with the corpus's cluster column. */
  private[queries] def labeled(s: SparkSession, dir: String): DataFrame =
    if (!wide) Tables(s, dir, "embeddings")
    else frame(s, dir).join(Tables(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
      .select("vec_id", "embedding", "label")

  /** A 64-d embedding column at this width. */
  private[queries] def widen(c: Column): Column =
    pick(c, graft.functions.vectors.widen(c, 64, dims))

  /** Sign-code words per row (32 bits each). */
  private[queries] def groups: Int = dims / 32

  /** The DuckDB relation exposing (vec_id, label, embedding) at this width. */
  private[queries] def tbl: String = pick("embeddings", "wide")

  /** CTEs defining [[tbl]], each followed by ",\n" ("" at d=64). */
  private[queries] def cte: String = pick("",
    s"wide AS MATERIALIZED (SELECT vec_id, label, ${HybridQueries.wideDuck} AS embedding " +
      "FROM embeddings),\n")

  /** A `WITH` clause holding only [[cte]] ("" at d=64). */
  private[queries] def withTbl: String = pick("", "WITH " + cte.stripSuffix(",\n") + "\n")

  private val persistedFor = scala.collection.mutable.Map.empty[(String, String), String]

  /** Build-once persisted index per (JVM, kind, sfDir): racing callers serialize on the
    * build so none observes a half-written index. */
  private[queries] def persisted(kind: String, dir: String)(build: String => Unit): String =
    synchronized {
      persistedFor.getOrElseUpdate((kind, dir), {
        val path = TmpDirs.path(kind + pick("", "_wide") + "_" + TmpDirs.dirKey(dir))
        build(path)
        path
      })
    }
}

private[queries] object Width {
  type Run = (SparkSession, String) => DataFrame

  private[queries] val Base = new Width(64, "", numSub = 8, subDim = 8)
  private[queries] val Wide = new Width(2048, "_2048", numSub = 16, subDim = 128)
  private[queries] val both: Seq[Width] = Seq(Base, Wide)

  /** One emitted entry: its name, body and DuckDB oracle. */
  final case class Entry(name: String, run: Run, oracle: String)

  /** A family at both widths, named `base` and `base_2048`. */
  private[queries] def twin(base: String)(run: Width => Run, oracle: Width => String): Seq[Entry] =
    named(_.name(base))(run, oracle)

  /** A family at both widths whose entry names are not `base` + suffix. */
  private[queries] def named(name: Width => String)(run: Width => Run,
                                                    oracle: Width => String): Seq[Entry] =
    both.map(w => Entry(name(w), run(w), oracle(w)))

  private[queries] def defsOf(es: Seq[Seq[Entry]]): Map[String, Run] =
    es.flatten.map(e => e.name -> e.run).toMap

  private[queries] def oraclesOf(es: Seq[Seq[Entry]]): Map[String, String] =
    es.flatten.map(e => e.name -> e.oracle).toMap
}
