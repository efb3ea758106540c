package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf

/** Thin bridge into `private[sql]` Spark internals that the graft engine
  * needs and the public API does not expose:
  *
  *   - arity-overloaded function registration (the reference registers the
  *     1-arg and 2-arg `ner` under one name via DuckDB's `ScalarFunctionSet`,
  *     reference `src/ner_extension.cpp:197-204`; Spark's public
  *     `spark.udf.register` binds a single signature per name, so we register
  *     a builder on the session `FunctionRegistry` instead);
  *   - Column <-> Expression conversion (Spark 4 made `Column` node-based);
  *   - executor-side read of session conf values (`SQLConf.get` works on
  *     executors via task-propagated local properties).
  */
object GraftSqlShim {

  /** Register `name` with an arity-dispatching expression builder as a
    * session temp function (same scope DuckDB extension functions get).
    */
  def registerBuilder(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Current value of a session conf key, or None when unset. Works on the
    * driver and inside executor tasks.
    */
  def confString(key: String): Option[String] =
    Option(SQLConf.get.getConfString(key, null))
}
