package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin bridge into Spark's `private[sql]` Column↔Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils, Spark 4.x ColumnNode
  * API), so graft can plug native Catalyst expressions into the public
  * DataFrame API. Public-source-only: everything referenced here ships in
  * the Apache Spark 4.1.2 jars.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable per-session identity (`private[sql] sessionUUID`) — a
    * collision-free registry key for session-scoped engine state (the MV
    * registry), where an identity hash could collide across sessions. */
  def sessionUUID(spark: SparkSession): Option[String] = spark match {
    case c: org.apache.spark.sql.classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }

  /** The session's Hadoop conf with its session confs merged in — what
    * Spark's own file scans read with. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** Register a native expression under a SQL-callable name (engine API
    * surface: `spark.sql("SELECT dot_product_d(a, b) ...")`). Idempotent:
    * Engine.init runs on every Tables read, and re-registering an existing
    * name logs a replacement WARN per call — thousands of lines across a
    * bench run. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))) {
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
