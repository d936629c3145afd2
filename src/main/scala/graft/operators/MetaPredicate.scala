package graft.operators

import scala.util.Try
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The reference's metadata query language, compiled to Catalyst `Column`s.
  *
  * Reference semantics (/root/reference/pre-filter.py:102 `metadata_matches`):
  * a query is `{attr: [op, value]}` with ops `exact, <, >, leq, geq,
  * substring`; ALL constraints must hold; a row where the attribute is
  * absent (NULL here) is rejected.
  *
  * Compiling to `Column` (instead of evaluating per-row in driver code like
  * the reference) means Catalyst pushes these predicates into the parquet
  * scan (`PushedFilters`) — at 100 TB the filter happens at the reader, not
  * after materialization.
  */
sealed trait MetaOp
object MetaOp {
  case object Exact     extends MetaOp
  case object Lt        extends MetaOp
  case object Gt        extends MetaOp
  case object Leq       extends MetaOp
  case object Geq       extends MetaOp
  case object Substring extends MetaOp

  def parse(s: String): MetaOp = s match {
    case "exact" => Exact
    case "<"     => Lt
    case ">"     => Gt
    case "leq"   => Leq
    case "geq"   => Geq
    case "substring" => Substring
    case other => throw new IllegalArgumentException(s"unknown metadata op: $other")
  }
}

final case class MetaPredicate(attr: String, op: MetaOp, value: Any) {
  /** The value's Catalyst type. A null value would make every row fail
    * silently (a comparison with NULL is never true), and an array, map or
    * struct is no scalar of the query language: both are refused. */
  val valueType: DataType = {
    if (value == null) throw new IllegalArgumentException(
      s"MetaPredicate: the value for '$attr' is null")
    Try(Literal(value).dataType).toOption.filter {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }.getOrElse(
      throw new IllegalArgumentException(
        s"MetaPredicate: the value for '$attr' is not a scalar: $value (${value.getClass.getName})"))
  }

  /** One constraint → Column. NULL attr ⇒ false (reference rejects missing attrs). */
  def toColumn: Column = toColumn(lit(value))

  /** The constraint against a caller-supplied value column of `valueType`,
    * e.g. a bound parameter of a prepared plan. */
  def toColumn(v: Column): Column = {
    val c = col(attr)
    val cond = op match {
      case MetaOp.Exact     => c === v
      case MetaOp.Lt        => c < v
      case MetaOp.Gt        => c > v
      case MetaOp.Leq       => c <= v
      case MetaOp.Geq       => c >= v
      case MetaOp.Substring => c.contains(v)
    }
    c.isNotNull && cond
  }
}

object MetaPredicate {
  /** `{attr: [op, value], ...}` — conjunction of all constraints. */
  def apply(preds: (String, (String, Any))*): Column = compile(preds.map {
    case (attr, (op, value)) => MetaPredicate(attr, MetaOp.parse(op), value)
  })

  def compile(preds: Seq[MetaPredicate]): Column =
    preds.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))
}
