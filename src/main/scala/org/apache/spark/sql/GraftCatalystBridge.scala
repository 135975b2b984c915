package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Column ⇄ catalyst Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils), so graft's
  * native expressions ([[graft.functions.LshBucketsExpression]]) can be
  * used as ordinary `Column`s. Spark 4 hid the direct `Column(expr)`
  * constructor behind the Connect/Classic split; this is the standard
  * in-package shim for libraries that ship custom codegen expressions.
  */
object GraftCatalystBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function on a live session (sessionState is
    * `private[sql]`). Config-based injection (`spark.sql.extensions` →
    * [[graft.GraftExtensions]]) is the production path; this covers
    * sessions created before the library was on the classpath and tests.
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** A session's own SQL conf (`sessionState` is `private[sql]`): the
    * settings its parquet schema inference reads, which `SQLConf.get`
    * returns only while that session is the thread's active one.
    */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.sessionState.conf
}
