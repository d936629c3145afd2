package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow bridge into `private[sql]` Column <-> Expression conversion.
  * Spark 4's `Column` no longer exposes `.expr` publicly; this is the
  * supported-internal path (`org.apache.spark.sql.classic.ExpressionUtils`)
  * used to mount custom Catalyst expressions as user-facing `Column`s.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable identity of a session (the classic `sessionUUID`) — used to
    * scope ANN index registrations per session. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Block until every listener event posted so far has reached the
    * listeners: the bus is asynchronous, so counts read right after an
    * action can miss its last stage and task events. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a function builder on a live session (the non-extensions
    * path; `graft.GraftExtensions` is the spark.sql.extensions path). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Derive a sibling session (same SparkContext/shared state) whose
    * analyzer/optimizer carry the given extensions — lets a live
    * application opt into graft's planner rules without a restart.
    * (`create()` never reuses the default session, unlike getOrCreate.) */
  def newSessionWithExtensions(spark: org.apache.spark.sql.SparkSession,
                               configure: org.apache.spark.sql.SparkSessionExtensions => Unit): org.apache.spark.sql.SparkSession = {
    val fresh = org.apache.spark.sql.classic.SparkSession.builder()
      .withExtensions(configure)
      .create()
    // carry the source session's runtime SQL confs over (static/immutable
    // confs throw on set — skip them)
    spark.conf.getAll.foreach { case (k, v) =>
      try fresh.conf.set(k, v) catch { case _: Exception => () }
    }
    fresh
  }
}
