package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Central fixture readers for the driver-generated parquet tables
  * (`/root/repo/TESTDATA.md`, schemas in `/root/repo/FIXTURES.md`).
  *
  * Scale notes (100 TB design): each reader is a plain columnar parquet scan,
  * so Catalyst's data-source pushdown (filters + column pruning) applies
  * unchanged; on a real lake these would be partitioned by date
  * (orders/lineitem/events) so partition pruning kicks in. Nothing here is
  * collected to the driver.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose consumers are CPU-bound per input row (shingle explosion,
    * 64-dim dot products) — for these the one-task single-row-group scan
    * (see `apply`) serializes real compute and a repartition pays for
    * itself. The relational tables stay unsplit: their queries hit a
    * key-partitioned exchange almost immediately anyway, and benching
    * showed the extra repartition shuffle costs ~0.5 s per light query. */
  private val wide = Set("documents", "embeddings")

  /** Read one fixture table.
    *
    * Opening a table runs no Spark job: the schema comes from the one
    * file's parquet footer, read on the driver
    * (`Bridge.parquetFileSchema`), and the read goes through
    * `spark.read.schema(s).parquet(path)`. Spark's own schema inference,
    * one Spark job per open, still runs for a path that is not one
    * regular file (a directory or a missing path), so those keep its
    * schema and its errors.
    *
    * `events.ts` history: the original fixtures wrote parquet
    * `TIMESTAMP(NANOS,false)` (read as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`); the 2026-08-13 regeneration
    * writes `TIMESTAMP(MICROS,false)`, which Spark reads natively as
    * TIMESTAMP_NTZ. Every consumer (and every oracle comment about the
    * `ts DIV 1000` µs-truncation rule) was written against the int64-ns
    * contract, so we reconstruct it here at the single load point:
    * `ts` = int64 epoch NANOseconds (µs-aligned now), `t` = the µs
    * TimestampType. The NTZ→Timestamp cast is wall-value-preserving
    * because every session pins spark.sql.session.timeZone=UTC.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    Engine.init(spark)
    val path = s"$dir/$name.parquet"
    val read = Bridge.parquetFileSchema(spark, path)
      .fold(spark.read)(spark.read.schema(_)).parquet(path)
    val raw =
      if (name == "events") {
        read
          .withColumn("t", col("ts").cast(TimestampType))
          .withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      } else read
    // Each fixture table is ONE parquet file with ONE row group, so the
    // scan is a single task and every narrow transform after it
    // (tokenize/explode, hashing, dot products, decimal arithmetic) runs
    // single-threaded until the first exchange — measured 3.5 s for the
    // shingle explode that takes 0.3 s once spread. An explicit
    // numPartitions repartition (REPARTITION_BY_NUM — AQE never coalesces
    // it back) costs one tiny shuffle (< 15 MB) and restores full-core
    // parallelism. On a real lake this is moot: 100 TB tables arrive as
    // thousands of splittable files and the scan parallelizes itself.
    if (wide(name)) raw.repartition(spark.sparkContext.defaultParallelism) else raw
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** Shared helpers enforcing the determinism discipline (SURVEY.md §2.0):
  * decimal-cast before aggregation (exact, order-independent), pin output
  * scales on both engine and oracle side, and emit decimals as strings so
  * the hash compare never sees engine-specific decimal widths.
  */
object Dsl {
  import org.apache.spark.sql.Column

  /** Cast to an exact decimal before any SUM/AVG — double sums are
    * order-dependent and would flake the hash compare. */
  def dec(c: Column, p: Int = 18, s: Int = 2): Column = c.cast(DecimalType(p, s))

  /** Pin scale, then render as string (matches oracle-side
    * `CAST(CAST(x AS DECIMAL(38,s)) AS VARCHAR)`). */
  def decStr(c: Column, s: Int = 2): Column =
    c.cast(DecimalType(38, s)).cast(StringType)
}
