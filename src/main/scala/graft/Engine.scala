package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** Per-session engine initialization (idempotent): installs the graft
  * optimizer rules, planner strategy and SQL-callable native functions
  * ([[GraftExtensions]]' lists, in their order) on an EXISTING
  * session — required because the driver builds the SparkSession itself
  * (Verify.scala), so build-time SparkSessionExtensions are not an option.
  *
  * It also makes [[graft.sources.NioLocalFs]] the `file` scheme's
  * FileContext filesystem. Without the native `libhadoop`, Hadoop's local
  * filesystem forks `chmod` and `readlink` for every file that Structured
  * Streaming's checkpoint file manager and the HDFS-backed state stores
  * write: offset log, commit log, state deltas and their checksums, on
  * every trigger. One 10 s run of the perfbench `stream_ingest` workload
  * (seed 1, 4 cores) forked 9,798 processes, 7,784 `readlink` and 2,004
  * `chmod`; with this filesystem it forked 9, none of them either. The
  * setting is a session conf, which `SessionState.newHadoopConf()`
  * copies into the Hadoop conf those managers use, and Hadoop builds a
  * new FileContext filesystem per use, so every streaming query started
  * after `init` picks it up. Files written through the cached Hadoop
  * `FileSystem` API (parquet, [[graft.sources.ManifestTable]]) are not
  * affected.
  */
object Engine {
  /** synchronized: Bench warms queries concurrently, and the
    * check-then-append on extraOptimizations would otherwise race and
    * register a rule twice. */
  def init(spark: SparkSession): Unit = synchronized {
    // INT96 timestamps (Spark's parquet default) carry NO min/max
    // statistics, so every timestamp column would be unprunable and
    // retention-by-time would rewrite the lake. TIMESTAMP_MICROS is the
    // production-format encoding: INT64 physical, footer stats present,
    // [[graft.sources.ManifestTable]] harvests them like any long.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("fs.AbstractFileSystem.file.impl", classOf[graft.sources.NioLocalFs].getName)
    GraftExtensions.rules.foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ r
    }
    GraftExtensions.strategies.foreach { st =>
      if (!spark.experimental.extraStrategies.contains(st))
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ st
    }
    GraftExtensions.functions.foreach { case (name, _, build) =>
      Bridge.registerFunction(spark, name, build)
    }
  }
}
