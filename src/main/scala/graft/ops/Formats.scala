package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Source/sink format surface (SURVEY.md §2.A "sinks" / "CSV-JSON source"
  * rows, previously design-only): each query is a full write→read
  * round-trip through a non-parquet format — the engine writes the fixture
  * table out in the target format, reads it back with an explicit schema,
  * and aggregates the re-read copy. The DuckDB oracle aggregates the
  * parquet original, so a hash match proves the round-trip is LOSSLESS
  * (types, values, row count) — the actual claim a source/sink needs.
  *
  * Type discipline: doubles are cast to DECIMAL before the write (decimal
  * text renders exactly; raw double→text→double round-trips are a
  * format-dependent gamble), timestamps to DATE where the query only
  * needs day precision, and every read supplies the schema explicitly —
  * schema inference on a 100 TB lake is both slow (extra pass) and
  * drift-prone. (q_source_evolve is the deliberate exception: resolving
  * two on-disk schema generations via mergeSchema IS its capability.)
  *
  * Scale notes: writes are distributed (one file per partition, no driver
  * collect); reads are splittable scans (CSV/JSON split by line, ORC by
  * stripe), so the round-trip parallelizes on both sides. The tiny
  * coalesce(4) keeps fixture output tidy and is NOT part of the design —
  * at scale the natural partitioning stands.
  */
object Formats {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_csv" -> qSourceCsv,
    "q_source_json" -> qSourceJson,
    "q_source_orc" -> qSourceOrc,
    "q_source_avro" -> qSourceAvro,
    "q_source_partitioned" -> qSourcePartitioned,
    "q_source_binary" -> qSourceBinary,
    "q_source_evolve" -> qSourceEvolve,
    "q_source_jdbc" -> qSourceJdbc,
    "q_source_xml" -> qSourceXml,
    "q_source_text" -> qSourceText,
    "q_bucket_join" -> qBucketJoin,
    "q_layout_compact" -> qLayoutCompact,
    "q_backfill_partition" -> qBackfillPartition
  )

  val oracle: Map[String, String] = Map(
    "q_source_csv" ->
      """SELECT o_orderstatus, count(*) AS cnt,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total,
                MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
                strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS min_day,
                strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS max_day
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_source_json" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total,
                MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_source_orc" ->
      """SELECT p_brand, count(*) AS cnt,
                CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total,
                CAST(SUM(p_size) AS BIGINT) AS sum_size
         FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q_source_avro" ->
      """SELECT l_returnflag, count(*) AS cnt,
                CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
                MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_source_xml" ->
      """SELECT p_type, count(*) AS cnt,
                CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total,
                CAST(SUM(p_size) AS BIGINT) AS sum_size,
                MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
         FROM part GROUP BY p_type ORDER BY p_type""",
    "q_source_text" ->
      """SELECT event_type, count(*) AS cnt,
                CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
                MIN(event_id) AS min_id, MAX(event_id) AS max_id,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_bucket_join" ->
      """SELECT o_orderstatus, count(*) AS cnt,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_qty,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_price,
                COUNT(DISTINCT o_custkey) AS n_cust
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_source_partitioned" ->
      """SELECT source, count(*) AS cnt,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         FROM documents WHERE lang IN ('en', 'de')
         GROUP BY source ORDER BY source""",
    "q_source_binary" ->
      """SELECT doc_id % 4 AS bucket, count(*) AS cnt,
                CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
                MIN(md5(text)) AS h_min, MAX(md5(text)) AS h_max
         FROM documents WHERE doc_id < 1000 GROUP BY 1 ORDER BY bucket""",
    "q_source_evolve" ->
      """WITH u AS (
           SELECT o_orderkey, o_orderstatus,
                  CAST(o_totalprice AS DECIMAL(12,2)) AS price,
                  CAST(NULL AS VARCHAR) AS pri
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderkey, o_orderstatus,
                  CAST(o_totalprice AS DECIMAL(12,2)), o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT o_orderstatus, count(*) AS cnt,
                CAST(SUM(CASE WHEN pri IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
                CAST(SUM(CASE WHEN pri IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
                CAST(CAST(SUM(price) AS DECIMAL(38,2)) AS VARCHAR) AS total
         FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_source_jdbc" ->
      """SELECT s_nationkey, count(*) AS cnt,
                CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total,
                MIN(s_suppkey) AS min_key, MAX(s_suppkey) AS max_key
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q_layout_compact" ->
      """SELECT l_returnflag, count(*) AS cnt,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_qty,
                MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_backfill_partition" ->
      """WITH base AS (SELECT event_type,
                             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                             CAST(ts AS DATE) AS day
                      FROM events),
         f AS (SELECT (SELECT MIN(day) FROM base) + 2 AS fixday)
         SELECT event_type, count(*) AS n_events,
                CAST(SUM(CASE WHEN day = f.fixday THEN cents * 2 ELSE cents END)
                     AS BIGINT) AS sum_cents
         FROM base, f GROUP BY 1 ORDER BY 1"""
  )

  /** Deterministic per-(sf, table) scratch dir in the per-JVM namespace
    * ([[graft.Scratch]] — concurrent JVMs must not wipe each other);
    * mode("overwrite") makes re-runs idempotent. */
  private def roundtripDir(d: String, name: String): String = {
    val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
    // "sf" prefix: the sf-dir mangling starts with "_", and an
    // underscore-leading leaf is HIDDEN to Spark's file index (the
    // hazard the MV store documented) — reads worked only via the
    // explicit-schema path, with "All paths were ignored" warns
    s"${graft.Scratch.dir("graft_roundtrip")}/sf${sf}_$name"
  }

  /** Avro container-file round-trip through [[graft.sources.AvroSource]]
    * — the engine's own DSv2 Avro bridge (no spark-avro connector ships
    * in the runtime; the source is built on the Avro core jar directly).
    * Exact cents travel as Avro `long` (the decimal-as-BIGINT transport
    * discipline — Avro's own decimal logical type is bytes-backed and
    * engine-version-sensitive, integers are not). Write is distributed
    * (one container file per task, staged-invisible until task commit);
    * read splits per file. The oracle aggregates the parquet original,
    * so the hash match proves the Avro round-trip loses nothing. */
  private def qSourceAvro(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "lineitem_avro")
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_returnflag"),
        (graft.Dsl.dec(col("l_quantity"), 12, 2) * 100).cast(LongType).as("qty_cents"))
      .coalesce(4)
      .write.format("graft.sources.AvroSource").mode("overwrite")
      .option("path", out).save()
    s.read.format("graft.sources.AvroSource").option("path", out).load()
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("qty_cents")).cast(LongType).as("cents"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy("l_returnflag")
  }

  /** Hive-partitioned parquet layout: documents written
    * `partitionBy("lang")` (one directory per language), read back with a
    * partition-column filter. The filter never touches file contents —
    * it prunes whole directories at planning time (`PartitionFilters` in
    * the scan, pinned by the PlanSuite test), which is THE dominant
    * I/O lever on a 100 TB lake: a 2-of-5-partition predicate skips 60%
    * of the bytes before a single task launches. The oracle filters the
    * flat parquet original, so the hash match also proves the
    * partitioned layout loses no rows (lang itself is projected away —
    * it lives in directory names, not the data files). */
  private def qSourcePartitioned(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "documents_bylang")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
      // shuffle by the partition column before a partitionBy write: without
      // it every input task opens a writer per lang → tasks×langs tiny
      // files (measured 160 here). One file per directory is also the
      // 100 TB discipline — small files are the lake's death by paper cuts.
      .repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    s.read.parquet(out)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("n_chars")).cast(LongType).as("chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source")
  }

  /** binaryFile source — the multimodal/raw-object ingest path: a crawler
    * or media pipeline lands one FILE per object on the lake, and the
    * engine's first job reads those raw bytes into a table. The write
    * side here is a distributed foreachPartition landing each document's
    * UTF-8 bytes as its own `doc_<id>.txt` (the object-store layout);
    * the read side is `spark.read.format("binaryFile")` with a
    * pathGlobFilter, which yields (path, modificationTime, length,
    * content) rows — splittable across files, one task per file batch
    * (`maxPartitionBytes` sizes the batches at scale). The doc_id is
    * recovered from the filename, and the aggregate carries count, byte
    * totals, and per-bucket min/max MD5 of the CONTENT — the oracle
    * computes the same digests from the parquet text, so the hash match
    * proves the bytes survived the file round-trip intact (the actual
    * claim an ingest path needs to prove). */
  private def qSourceBinary(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "documents_bin")
    val dir = new java.io.File(out)
    if (dir.exists()) dir.listFiles().foreach(_.delete()) else dir.mkdirs()
    Tables.documents(s, d)
      // bounded slice: the capability under test is the file-per-object
      // round-trip (one task per file batch, bytes intact), which 1000
      // files demonstrate as well as 5000 — at sf0.1 the unbounded write
      // was 3 s of pure filesystem syscalls in a 77 s bench
      .filter(col("doc_id") < 1000)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, f"doc_${r.getLong(0)}%06d.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(out)
      .select(
        regexp_extract(element_at(split(col("path"), "/"), -1), "doc_(\\d+)", 1)
          .cast(LongType).as("doc_id"),
        col("length"),
        md5(col("content")).as("h"))
      .groupBy((col("doc_id") % 4).as("bucket"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("length")).cast(LongType).as("total_bytes"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        min(col("h")).as("h_min"),
        max(col("h")).as("h_max"))
      .orderBy("bucket")
  }

  /** JDBC source/sink round-trip — the genre's dim-table ingest (MySQL/
    * ClickHouse-shaped serving stores; embedded Derby stands in, the one
    * RDBMS on Spark's classpath). The write is Spark's distributed JDBC
    * sink (one connection per partition, batched inserts); the read back
    * is a PARTITIONED JDBC scan — partitionColumn/numPartitions split the
    * key range into 4 stride predicates so 4 tasks read concurrently,
    * which is the actual scale lever for JDBC ingest (a single-connection
    * read serializes the whole table through one task). Bounds are fixed
    * constants: they shape the stride only — out-of-range rows still land
    * in the edge partitions, so correctness never depends on them. The
    * oracle aggregates the parquet original; a hash match proves the
    * round-trip loses neither rows nor decimal precision. */
  private def qSourceJdbc(s: SparkSession, d: String): DataFrame = {
    val db = "graftjdbc_" + d.replaceAll("[^A-Za-z0-9]", "_")
    val url = s"jdbc:derby:memory:$db;create=true"
    val props = new java.util.Properties()
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        col("s_acctbal").cast(DecimalType(12, 2)).as("acctbal"))
      .write.mode("overwrite")
      .jdbc(url, "supplier_rt", props)
    s.read.jdbc(url, "supplier_rt", "s_suppkey", 0L, 1000000L, 4, props)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("acctbal")).cast(DecimalType(38, 2)).cast(StringType).as("total"),
        min(col("s_suppkey")).as("min_key"),
        max(col("s_suppkey")).as("max_key"))
      .orderBy("s_nationkey")
  }

  /** SCHEMA EVOLUTION on a parquet lake: generation 1 lands without the
    * priority column, generation 2 (a later producer release) adds it.
    * `mergeSchema` unions the footers at read time — old files surface
    * the new column as NULL, no rewrite of 50 PB of history required.
    * This is the lake reality every long-lived pipeline hits; the
    * mergeSchema read is the Spark-native answer to it (schema merging is
    * a planning-time footer union, NOT a data pass — per-file cost is one
    * footer read, same as any scan). The aggregate counts rows per
    * generation via the evolved column's NULL-ness and sums the price
    * across both, and the oracle rebuilds the same two-generation union
    * from the parquet original — a hash match proves the evolved read
    * loses neither rows nor the new column's values. The explicit
    * .schema(...) discipline used by every other source query is
    * deliberately ABSENT here: resolving generations is the capability
    * under test. */
  private def qSourceEvolve(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "orders_evolve")
    val o = Tables.orders(s, d)
    val price = col("o_totalprice").cast(DecimalType(12, 2)).as("price")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), price)
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$out/v1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), price,
        col("o_orderpriority").as("pri"))
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$out/v2")
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(when(col("pri").isNull, 1L).otherwise(0L)).cast(LongType).as("n_v1"),
        sum(when(col("pri").isNotNull, 1L).otherwise(0L)).cast(LongType).as("n_v2"),
        sum(col("price")).cast(DecimalType(38, 2)).cast(StringType).as("total"))
      .orderBy("o_orderstatus")
  }

  /** Small-files compaction — the OPTIMIZE/compact lake-maintenance step
    * that complements q_layout_zorder's clustering. A streaming ingest
    * lands many small files (simulated here by a 64-way fragmented
    * write); the maintenance job reads them back and rewrites as few
    * RANGE-CLUSTERED files (`repartitionByRange` on the sort key), so
    * downstream key-range scans prune whole files via parquet min/max
    * footer stats. At 100 TB this is the difference between a scan
    * planning over millions of 2 MB files (driver listing + footer reads
    * dominate) and thousands of ~512 MB ones. The declared output
    * aggregates the COMPACTED copy while the oracle aggregates the
    * original parquet, so the hash match proves compaction is lossless;
    * the file-count collapse (64 → 4) and the disjoint per-file key
    * ranges are pinned in FormatsSuite via input_file_name(). */
  private def qLayoutCompact(s: SparkSession, d: String): DataFrame = {
    val frag = roundtripDir(d, "lineitem_frag")
    val compacted = roundtripDir(d, "lineitem_compact")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(DecimalType(12, 2)).as("qty"), col("l_returnflag"))
      .repartition(64)
      .write.mode("overwrite").parquet(frag)
    s.read.parquet(frag)
      .repartitionByRange(4, col("l_orderkey"))
      .write.mode("overwrite").parquet(compacted)
    s.read.parquet(compacted)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("qty")).cast(DecimalType(38, 2)).cast(StringType).as("total_qty"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy("l_returnflag")
  }

  /** CSV sink + source: orders → headered CSV → explicit-schema read. */
  private def qSourceCsv(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "orders_csv")
    Tables.orders(s, d)
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("price"),
        to_date(col("o_orderdate")).as("od"))
      .coalesce(4)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("price", DecimalType(12, 2)),
      StructField("od", DateType)))
    s.read.schema(schema).option("header", "true").csv(out)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("price")).cast(DecimalType(38, 2)).cast(StringType).as("total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        date_format(min(col("od")), "yyyy-MM-dd").as("min_day"),
        date_format(max(col("od")), "yyyy-MM-dd").as("max_day"))
      .orderBy("o_orderstatus")
  }

  /** JSON-lines sink + source: customer → JSON → explicit-schema read
    * (the genre's log-ingestion format). */
  private def qSourceJson(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "customer_json")
    Tables.customer(s, d)
      .select(
        col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast(DecimalType(12, 2)).as("acct"))
      .coalesce(4)
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("acct", DecimalType(12, 2))))
    s.read.schema(schema).json(out)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("acct")).cast(DecimalType(38, 2)).cast(StringType).as("total"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
      .orderBy("c_mktsegment")
  }

  /** ORC sink + source: part → ORC → explicit-schema read (the other
    * columnar container Spark ships natively). */
  private def qSourceOrc(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "part_orc")
    Tables.part(s, d)
      .select(
        col("p_partkey"), col("p_brand"), col("p_size"),
        col("p_retailprice").cast(DecimalType(12, 2)).as("price"))
      .coalesce(4)
      .write.mode("overwrite").orc(out)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_brand", StringType),
      StructField("p_size", IntegerType),
      StructField("price", DecimalType(12, 2))))
    s.read.schema(schema).orc(out)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("price")).cast(DecimalType(38, 2)).cast(StringType).as("total"),
        sum(col("p_size")).cast(LongType).as("sum_size"))
      .orderBy("p_brand")
  }

  /** XML sink + source (Spark 4's built-in XML data source — the config/
    * B2B-feed interchange format the genre still ingests from legacy
    * ERP exports). Write side renders one `<part>` element per row under
    * a root tag; read side is rowTag-delimited element scanning with an
    * explicit schema (XML carries no types — inference on a lake-scale
    * feed would be a full extra pass AND a drift hazard, so the schema
    * is law here like every other source query). XML files split per
    * FILE, not per element — the 4-file write keeps read parallelism
    * honest at fixture scale; a production feed lands many files. */
  private def qSourceXml(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "part_xml")
    Tables.part(s, d)
      .select(
        col("p_partkey"), col("p_type"), col("p_size"),
        col("p_retailprice").cast(DecimalType(12, 2)).as("price"))
      .coalesce(4)
      .write.mode("overwrite").format("xml")
      .option("rootTag", "parts").option("rowTag", "part")
      .save(out)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("price", DecimalType(12, 2))))
    s.read.schema(schema).format("xml").option("rowTag", "part").load(out)
      .groupBy(col("p_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("price")).cast(DecimalType(38, 2)).cast(StringType).as("total"),
        sum(col("p_size")).cast(LongType).as("sum_size"),
        min(col("p_partkey")).as("min_key"),
        max(col("p_partkey")).as("max_key"))
      .orderBy("p_type")
  }

  /** Raw LOG-LINE ingest — the genre's actual ODS landing path (a
    * Flink education warehouse eats nginx/app logs before anything
    * else): events rendered as syslog-ish lines
    * `ts|level|event_id=.. user=.. type=.. cents=..`, landed via the
    * text sink, read back as unstructured lines and parsed with
    * regexp_extract — no schema, no delimiter contract, the parse IS
    * the query. Cents are written as integers so the round-trip stays
    * exact (raw-double text is a format gamble, per the module
    * discipline). Lines split per file; the aggregate hash-matching
    * the parquet oracle proves the render→parse cycle loses nothing.
    * At scale this is a splittable line scan with the regexps inside
    * whole-stage codegen — the standard DWD parse job. */
  private def qSourceText(s: SparkSession, d: String): DataFrame = {
    val out = roundtripDir(d, "events_log")
    Tables.events(s, d)
      .select(concat_ws("|",
        date_format(col("t"), "yyyy-MM-dd HH:mm:ss"),
        lit("INFO"),
        concat(lit("event_id="), col("event_id")),
        concat(lit("user="), col("user_id")),
        concat(lit("type="), col("event_type")),
        concat(lit("cents="),
          (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType))).as("value"))
      .coalesce(4)
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .select(
        regexp_extract(col("value"), "event_id=(\\d+)", 1).cast(LongType).as("event_id"),
        regexp_extract(col("value"), "user=(\\d+)", 1).cast(LongType).as("user_id"),
        regexp_extract(col("value"), "type=(\\w+)", 1).as("event_type"),
        regexp_extract(col("value"), "cents=(-?\\d+)", 1).cast(LongType).as("cents"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("cents")).cast(LongType).as("cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Bucketed tables created once per (session, sf) and shared by every
    * q_bucket_join call — bucketing's whole value proposition is paying
    * the layout shuffle ONCE and amortizing it over every downstream
    * join, so the cache IS the semantics, not an optimization shortcut
    * (same first-query-pays pattern as Dedup.interCache, noted in Bench
    * methodology). saveAsTable(overwrite) keeps re-runs idempotent even
    * when a previous JVM left the warehouse directory behind. */
  private val bucketCache =
    new graft.SessionCache[(String, String)](serializedBuilds = true)

  private def bucketedTables(s: SparkSession, d: String): (String, String) =
    bucketCache.get(s, d) {
      {
        val sf = d.replaceAll("[^A-Za-z0-9]", "_")
        s.sql("CREATE DATABASE IF NOT EXISTS graft_bucketed")
        val ot = s"graft_bucketed.orders_b_$sf"
        val lt = s"graft_bucketed.lineitem_b_$sf"
        // a fresh JVM's in-memory catalog has no entry for the table, but
        // the managed LOCATION from a previous JVM may still exist on disk
        // — saveAsTable then refuses with LOCATION_ALREADY_EXISTS. Drop
        // both the (possibly absent) catalog entry and the stale location.
        val dbLoc = java.nio.file.Paths.get(
          new java.net.URI(s.catalog.getDatabase("graft_bucketed").locationUri).getPath)
        Seq(ot, lt).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          val loc = dbLoc.resolve(t.split('.').last).toFile
          if (loc.exists()) {
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) f.listFiles().foreach(rm)
              f.delete()
            }
            rm(loc)
          }
        }
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
          .write.format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(ot)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            col("l_quantity").cast(DecimalType(12, 2)).as("qty"),
            col("l_extendedprice").cast(DecimalType(12, 2)).as("price"))
          .write.format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable(lt)
        (ot, lt)
      }
    }

  /** Co-located (bucketed) join — the storage-side half of the shuffle
    * story. Both tables were written `bucketBy(8, <join key>)`, so the
    * join consumes pre-shuffled data IN PLACE: under a sort-merge plan
    * neither side exchanges (pinned in BucketingSuite; the strategy
    * sweep's broadcast-off pass exercises exactly that shape through
    * this declared query). At 100 TB this is the difference between an
    * hourly pipeline re-shuffling the fact table on every run and
    * reading bucket-aligned files — one layout shuffle at write time
    * amortized over every subsequent join on that key (the same
    * contract Delta/Iceberg bucket transforms feed Spark's storage-
    * partitioned joins). The aggregate hash-matching the plain-parquet
    * oracle proves the bucketed layout loses no rows. */
  private def qBucketJoin(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = bucketedTables(s, d)
    s.table(lt)
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("qty")).cast(DecimalType(38, 2)).cast(StringType).as("total_qty"),
        sum(col("price")).cast(DecimalType(38, 2)).cast(StringType).as("total_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")
  }

  /** PARTITION BACKFILL via dynamic partition overwrite — the standard
    * warehouse correction loop: the events land hive-partitioned by day,
    * a corrected re-statement of ONE day (here: min day + 2, cents
    * doubled) is written with `partitionOverwriteMode=dynamic`, and
    * Spark replaces ONLY the partitions present in the incoming write —
    * every other day's files stay byte-identical on disk (pinned by
    * SourceSinkSuite's existing dynamic-overwrite test). The declared
    * census reads the
    * post-backfill table and is oracle-checked against the raw events
    * with the correction applied arithmetically — so the partition-
    * scoped replace is proven EXACT, not just plausible. At 100 TB this
    * is the difference between rewriting one day and rewriting the
    * table (the pre-manifest ancestor of ManifestTable.deleteWhere's
    * file-level pruning, still the idiom on plain hive layouts). */
  private def qBackfillPartition(s: SparkSession, d: String): DataFrame = {
    val t = graft.Scratch.fresh("graft_backfill", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        (graft.Dsl.dec(col("value")) * 100).cast(LongType).as("cents"),
        to_date(col("t")).as("day"))
    ev.write.partitionBy("day").parquet(t)
    val fix = ev
      .crossJoin(broadcast(ev.agg(date_add(min(col("day")), 2).as("fixday"))))
      .filter(col("day") === col("fixday"))
      .select(col("event_id"), col("event_type"),
        (col("cents") * 2).as("cents"), col("day"))
    val k = "spark.sql.sources.partitionOverwriteMode"
    val old = s.conf.getOption(k)
    s.conf.set(k, "dynamic")
    try fix.write.mode("overwrite").partitionBy("day").parquet(t)
    finally old match {
      case Some(v) => s.conf.set(k, v)
      case None => s.conf.unset(k)
    }
    s.read.parquet(t)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).cast(LongType).as("sum_cents"))
      .orderBy("event_type")
  }
}
