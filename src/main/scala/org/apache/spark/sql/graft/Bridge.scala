package org.apache.spark.sql.graft

import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

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

  /** The schema of `path` when it is one regular parquet file, taken from
    * its footer on the driver. This is the code path of Spark's own
    * single-file inference (Spark-written row metadata first, else the
    * session's parquet converter settings), without the Spark job that
    * `spark.read.parquet`'s inference launches. None for anything else (a
    * directory, a glob, a missing path): those keep Spark's inference and
    * its errors. */
  def parquetFileSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = hadoopConf(spark)
    val p = new Path(path)
    Try(p.getFileSystem(conf).getFileStatus(p)).toOption.filter(_.isFile).map { st =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

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
