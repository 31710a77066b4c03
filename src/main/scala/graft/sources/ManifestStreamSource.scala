package graft.sources

import java.util

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[ManifestTable]] as a genuine Structured Streaming SOURCE — the
  * Delta-streaming-source shape on the miniature log format: the offset
  * is the committed manifest VERSION, a micro-batch is "every data file
  * the commits in `(startV, endV]` ADDED", and restart replays exactly
  * the unconsumed version suffix from the engine's own checkpoint. The
  * versions come from the log's one forward walk
  * ([[ManifestTable.commits]], shared with the change feed), which reads
  * each version's manifest once.
  *
  * {{{
  *   spark.readStream.format("graft.sources.ManifestStreamSource")
  *     .option("table", dir).load()
  * }}}
  *
  * Semantics (faithful to the production lake sources):
  *  - APPEND commits stream their new files' rows — insert-only, the
  *    streaming-source contract.
  *  - DELETE commits THROW by default; `option("ignoreDeletes","true")`
  *    skips them entirely (both the DV lines and any copy-on-write
  *    rewrite's survivor files — survivors are not new rows, so unlike
  *    Delta's ignoreChanges re-emission this never duplicates).
  *  - OVERWRITE / MERGE commits throw unless
  *    `option("ignoreChanges","true")`, which emits the commit's new
  *    files as inserts (the documented Delta caveat: carried rows are
  *    re-emitted, downstream must key-dedup — exactly what
  *    [[EmbeddingIndex.maintainStreaming]]'s key anti-join does).
  *  - COMPACT commits are always skipped (physical reorg, logical
  *    identity).
  * Row-level delete/update CONSUMPTION is [[ManifestTable.readChanges]]
  * + [[ChangeFeed]] — a changelog is not an append stream, so it rides
  * the batch CDF API as in the production formats.
  *
  * Each added file is read by Spark's parquet reader, the one behind
  * [[ManifestTable.read]]'s file scan, so every column type the batch
  * read supports also streams. The schema comes from the table's own
  * recorded commit schema, so no inference scan touches data. Scale: the
  * driver handles only version metadata (KB-scale manifests); every
  * file's rows decode on its executor, one task per added file — the
  * same per-file granularity the Avro landing-zone source uses, natural
  * here because file count == the producers' write parallelism. */
class ManifestStreamSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  /** The table's enforced schema, parsed back from the head commit's
    * signature — no data file is opened. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val table = ManifestStreamSource.tableOf(options)
    val sig = ManifestTable.currentSchema(table).getOrElse(
      throw new IllegalStateException(
        s"no schema-bearing commit in $table — commit once before streaming"))
    ManifestTable.sigToSchema(sig).getOrElse(throw new IllegalArgumentException(
      s"malformed schema signature '$sig' in $table"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val table = ManifestStreamSource.tableOf(opts)
    val head = ManifestTable.latestVersion(table)
    val meta = head.fold(Map.empty[String, String])(ManifestTable.snapshotMeta(table, _))
    // feature gate at stream definition: an unsupported table feature
    // must fail the query plan, not misread micro-batches later
    head.foreach(ManifestTable.requireSupported(table, _, meta))
    def flag(name: String) = Option(opts.get(name)).exists(_.equalsIgnoreCase("true"))
    new ManifestStreamTable(schema, StreamDef(table,
      fileSchema = ManifestStreamSource.fileSchema(schema, meta),
      ignoreDeletes = flag("ignoreDeletes"),
      ignoreChanges = flag("ignoreChanges"),
      maxFilesPerTrigger = ManifestStreamSource.atLeastOne(opts, "maxFilesPerTrigger")
        .map(Math.toIntExact),
      maxRowsPerTrigger = ManifestStreamSource.atLeastOne(opts, "maxRowsPerTrigger"),
      maxBytesPerTrigger = ManifestStreamSource.atLeastOne(opts, "maxBytesPerTrigger"),
      partitionValue = Option(opts.get("partitionValue"))))
  }
}

object ManifestStreamSource {

  private def tableOf(opts: CaseInsensitiveStringMap): String =
    Option(opts.get("table")).getOrElse(throw new IllegalArgumentException(
      "ManifestStreamSource requires option(\"table\", dir)"))

  /** A positive budget option — Long-typed, since row and byte budgets
    * can legitimately exceed Int range at the scales this source targets. */
  private def atLeastOne(opts: CaseInsensitiveStringMap, name: String): Option[Long] =
    Option(opts.get(name)).map { v =>
      val n = v.toLong
      require(n >= 1L, s"$name must be >= 1, got $n")
      n
    }

  /** `schema` under the PHYSICAL names the files store: renamed and
    * dropped columns keep their birth-time names under column mapping
    * (see [[ManifestTable.renameColumn]]); identity for plain tables.
    * Physical names never change, so the head's mapping stays valid for
    * every file the stream will ever read. */
  private def fileSchema(schema: StructType, meta: Map[String, String]): StructType = {
    val physOf = (for {
      logical <- meta.get("schema").flatMap(ManifestTable.sigToSchema)
      phys <- ManifestTable.physNamesOf(meta)
    } yield logical.fieldNames.zip(phys).toMap).getOrElse(Map.empty[String, String])
    StructType(schema.fields.map(f => f.copy(name = physOf.getOrElse(f.name, f.name))))
  }

  /** Each version's newly-visible data files in `(startV, endV]` under
    * the source's op semantics (driver-side, metadata only), one element
    * per version and lazily from the forward walk, so admission control
    * can stop early: an N-version backlog costs one snapshot
    * reconstruction plus N manifest reads. */
  private[sources] def addedByVersion(table: String, startV: Long, endV: Long,
      ignoreDeletes: Boolean, ignoreChanges: Boolean): Iterator[Seq[String]] =
    ManifestTable.commits(table, startV, endV)
      .map(addedForOp(table, _, ignoreDeletes, ignoreChanges))

  /** One commit's newly-visible files under the op semantics. */
  private def addedForOp(table: String, c: ManifestTable.Commit,
      ignoreDeletes: Boolean, ignoreChanges: Boolean): Seq[String] = {
    val (v, added) = (c.version, c.added)
    // physical reorg, logical identity
    if (c.reorganizes) return Seq.empty
    c.meta.getOrElse("op", "unknown") match {
      case "append" | "streaming-append" => added
      // ADD-COLUMN evolution is still an insert-only commit: its files
      // stream like any append. A stream defined BEFORE the evolution
      // keeps its fixed schema (the reader projects by field name, so
      // evolved columns are simply not read until the stream restarts
      // and re-infers the latest signature) — adopt new columns by
      // restarting; the engine checkpoint resumes at the committed
      // version either way.
      case "append-evolve" => added
      // a shallow clone's v0 is the new table's insert-only initial
      // load — UNLESS the cloned snapshot carried deletion vectors:
      // the per-file stream reader never applies DVs, so emitting the
      // files verbatim would resurrect the source's tombstoned rows
      // as inserts (batch read and the ChangeFeed apply them). Same
      // contract as a delete commit: skip with ignoreDeletes, or
      // consume the row-level truth via readChanges/ChangeFeed.
      case "clone" =>
        if (c.cur.dvLines.isEmpty) added
        else if (ignoreDeletes) Seq.empty
        else throw new IllegalStateException(
          s"commit v$v of $table is a CLONE carrying deletion vectors — " +
            "an insert-only stream would resurrect its tombstoned rows; " +
            "set ignoreDeletes=true to skip it, or consume row-level " +
            "changes via ManifestTable.readChanges/ChangeFeed")
      // metadata-only schema commits add no files; a stream keeps its
      // fixed start-time schema either way (restart to adopt a rename;
      // a dropped column simply stops being projected on restart)
      case "rename" | "drop-column" => Seq.empty
      case "delete" =>
        if (ignoreDeletes) Seq.empty
        else throw new IllegalStateException(
          s"commit v$v of $table is a DELETE — an insert-only stream cannot " +
            "represent it; set ignoreDeletes=true to skip, or consume " +
            "row-level changes via ManifestTable.readChanges/ChangeFeed")
      case other =>
        if (ignoreChanges) added
        else throw new IllegalStateException(
          s"commit v$v of $table is '$other' (rewrites data) — set " +
            "ignoreChanges=true to emit its files as inserts (carried rows " +
            "re-emit; downstream must dedup by key), or consume " +
            "ManifestTable.readChanges")
    }
  }
}

/** A stream's fixed definition: the files' physical read schema, the op
  * semantics, the admission budgets and the partition scope. */
private case class StreamDef(table: String, fileSchema: StructType,
    ignoreDeletes: Boolean, ignoreChanges: Boolean,
    maxFilesPerTrigger: Option[Int],
    maxRowsPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long],
    partitionValue: Option[String])

private class ManifestStreamTable(schema: StructType, d: StreamDef)
  extends Table with SupportsRead {
  override def name(): String = s"manifest_stream(${d.table})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ManifestMicroBatchStream(d)
      }
    }
}

private case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private case class ManifestFilePartition(path: String, length: Long) extends InputPartition

private class ManifestMicroBatchStream(d: StreamDef)
  extends MicroBatchStream with SupportsTriggerAvailableNow {
  import d._

  // Trigger.AvailableNow contract: the end offset is FROZEN at prepare
  // time — without this, a concurrent writer keeps advancing the live
  // head and the "drain what's available now" query never terminates.
  @volatile private var availableNowCap: Option[Long] = None
  private def liveHead: Long = ManifestTable.latestVersion(table).getOrElse(-1L)

  override def initialOffset(): Offset = VersionOffset(-1L)
  override def latestOffset(): Offset =
    VersionOffset(availableNowCap.getOrElse(liveHead))

  /** ADMISSION CONTROL (`option("maxFilesPerTrigger", n)` — the Delta
    * source's knob): honor the engine's ReadLimit instead of always
    * draining allAvailable, so a long backlog (a sink recovering from a
    * lost checkpoint, a first load of a deep history) arrives in BOUNDED
    * micro-batches instead of one batch sized like the whole backlog —
    * at 100 TB the difference between a recovery that spills one
    * giant batch and one that streams through at steady memory. The
    * offset is a VERSION, so admission advances version-by-version,
    * stopping before the version whose files would exceed the budget;
    * a single oversized commit still admits alone (progress guarantee,
    * same as Delta's at-least-one-file rule). Versions the op semantics
    * skip (compact, ignored deletes) add zero files and drain through
    * for free. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxFiles, ReadMaxRows}
    val startV = start.asInstanceOf[VersionOffset].v
    val head = availableNowCap.getOrElse(liveHead)
    def maxFilesOf(l: ReadLimit): Option[Int] = l match {
      case mf: ReadMaxFiles => Some(mf.maxFiles())
      case c: CompositeReadLimit =>
        c.getReadLimits.toSeq.flatMap(maxFilesOf(_)).minOption
      case _ => None
    }
    def maxRowsOf(l: ReadLimit): Option[Long] = l match {
      case mr: ReadMaxRows => Some(mr.maxRows())
      case c: CompositeReadLimit =>
        c.getReadLimits.toSeq.flatMap(maxRowsOf(_)).minOption
      case _ => None
    }
    // the BYTE budget (`maxBytesPerTrigger` — the knob Delta users set
    // most) has no ReadLimit carrier type in the engine API, so it
    // rides the stream's own option and applies in every admission
    // decision, including under ReadAllAvailable
    VersionOffset((maxFilesOf(limit), maxRowsOf(limit), maxBytesPerTrigger) match {
      case (None, None, None) => head
      case (fb, rb, bb) => boundedEnd(startV, head, fb, rb, bb)
    })
  }

  /** Largest end version in `(startV, head]` whose cumulative added-file
    * count, added-ROW count (stats-sidecar `#rows` per file), and
    * added-BYTE size (on-disk file size — the sibling of the sizes the
    * sidecars already sit next to) all stay within their budgets —
    * always at least one version when a backlog exists (Delta's
    * at-least-one-file progress rule). Driver-side metadata only, no
    * data file opened. */
  private def boundedEnd(startV: Long, head: Long,
      fileBudget: Option[Int], rowBudget: Option[Long],
      byteBudget: Option[Long]): Long = {
    var v = startV
    var files = 0
    var rows = 0L
    var bytes = 0L
    val adds = ManifestStreamSource.addedByVersion(table, startV, head,
      ignoreDeletes, ignoreChanges)
    while (adds.hasNext) {
      val add = adds.next()
      val addRows =
        if (rowBudget.isEmpty) 0L else add.map(ManifestTable.statsRowCount).sum
      val addBytes =
        if (byteBudget.isEmpty) 0L
        else add.map { f =>
          try java.nio.file.Files.size(java.nio.file.Paths.get(f))
          catch { case _: java.io.IOException => 0L }
        }.sum
      val over = fileBudget.exists(b => files + add.size > b) ||
        rowBudget.exists(b => rows + addRows > b) ||
        byteBudget.exists(b => bytes + addBytes > b)
      if (v > startV && over) return v
      files += add.size
      rows += addRows
      bytes += addBytes
      v += 1
      if (fileBudget.exists(files >= _) || rowBudget.exists(rows >= _) ||
        byteBudget.exists(bytes >= _)) return v
    }
    head
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxRowsPerTrigger) match {
      case (Some(f), Some(r)) => ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _ => ReadLimit.allAvailable()
    }
  override def reportLatestOffset(): Offset = VersionOffset(liveHead)
  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(liveHead)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val added = ManifestStreamSource.addedByVersion(table,
      start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v,
      ignoreDeletes, ignoreChanges).flatten.toSeq
    // PARTITION-SCOPED STREAM (`option("partitionValue", v)`): only the
    // partition's value-pure files plan — a manifest string match, so a
    // one-partition consumer of a wide feed reads exactly its slice of
    // each commit (at 100 TB: a per-tenant/per-day subscriber costs its
    // tenant's bytes, not the firehose). The reader has no row filter,
    // so an UNMARKED added file (a cross-partition rewrite output)
    // cannot be represented — fail loudly rather than leak foreign
    // rows; maintenance that preserves markers (partition-aware
    // binpack) never trips this.
    val scoped = partitionValue match {
      case None => added
      case Some(v) =>
        added.foreach(f => if (ManifestTable.partitionValueOf(f).isEmpty)
          throw new IllegalStateException(
            s"$f carries no partition marker — a partition-scoped stream " +
              "cannot represent unmarked files; keep the table " +
              "partition-disciplined (appendPartitioned / partition-aware " +
              "compaction) or drop the partitionValue option"))
        added.filter(f => ManifestTable.partitionValueOf(f).contains(v))
    }
    scoped.map(p => ManifestFilePartition(p,
      java.nio.file.Files.size(java.nio.file.Paths.get(p))): InputPartition).toArray
  }

  /** Spark's parquet reader for the files' physical schema, built on the
    * driver under the stream's session conf; the stream's output schema
    * stays logical, aligned by position. A pre-evolution file lacks the
    * evolved columns, which the reader null-fills as the batch read does. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    new ManifestReaderFactory(new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, fileSchema, new StructType(), fileSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), Bridge.hadoopConf(spark)))
  }
}

private class ManifestReaderFactory(read: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ManifestFilePartition]
    val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p.path),
      0L, p.length, fileSize = p.length))
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = rows.hasNext && { row = rows.next(); true }
      override def get(): InternalRow = row
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}
