package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Minimal transactional MANIFEST-LOG table format — the ACID dataflow
  * (Delta/Iceberg's core protocol) in miniature, on public Spark +
  * java.nio only. The sandbox has no lake-format jars (SURVEY §2.A), so
  * this closes the gap the honest way: by implementing the protocol
  * rather than describing it.
  *
  * Layout:
  * {{{
  *   <table>/data/<uuid>-part-*.parquet   -- immutable data files
  *   <table>/manifests/v%08d.manifest     -- newline-separated file list
  * }}}
  *
  * Protocol:
  *  - WRITE: the DataFrame lands distributed into a staging dir; the
  *    committer moves the part files into data/ under a fresh UUID
  *    prefix. Staged/moved files are INVISIBLE until a manifest
  *    references them, so a crashed writer leaves no partial state —
  *    readers are isolated by construction, and orphans are garbage,
  *    not corruption.
  *  - COMMIT: publish manifest version N+1 via `Files.createLink`
  *    (hard link), which FAILS if the target exists — the filesystem's
  *    compare-and-swap. A losing concurrent committer re-reads the new
  *    latest manifest and retries (append) — optimistic concurrency,
  *    exactly the Delta commit loop. (POSIX rename would silently
  *    REPLACE an existing version and lose the race winner's commit;
  *    the hard-link publish is the part naive implementations get
  *    wrong. On object stores without atomic create-if-absent this
  *    step is exactly what a commit/log service replaces — the
  *    protocol shape is unchanged.)
  *  - READ: pick the requested (or latest) manifest, read exactly its
  *    files. Snapshots are immutable → time travel is just reading an
  *    older manifest; concurrent commits never disturb an in-flight
  *    reader (snapshot isolation).
  *  - VACUUM: delete data files referenced by NO manifest (crashed
  *    writers' orphans) — never files a live snapshot lists.
  *  - DELETE: per overlapping file, copy-on-write rewrite OR a
  *    merge-on-read DELETION VECTOR (`~dv:` manifest lines pointing at
  *    (path, row position) tombstone sidecars, anti-joined reader-side
  *    via the scan's own `_metadata.row_index`); [[compact]]
  *    materializes DVs away. See [[deleteWhere]].
  *
  * Scale notes: data files and the Spark write/read path are fully
  * distributed; only the manifest (a file LIST, KB-scale per thousands
  * of files) passes through the committer, same as any log-store
  * format. Manifest size growth is the known cost of the design —
  * production formats checkpoint/compact the log; the protocol here is
  * per-snapshot-complete so each manifest stands alone.
  */
object ManifestTable {

  private def manifestDir(table: String): Path = Paths.get(table, "manifests")
  private def dataDir(table: String): Path = Paths.get(table, "data")

  private def versionOf(p: Path): Long = {
    val n = p.getFileName.toString
    n.stripPrefix("v").stripSuffix(".manifest").toLong
  }

  /** LOG CHECKPOINTING (the Delta `_last_checkpoint` discipline on the
    * miniature format): version 0 and legacy manifests are FULL entry
    * lists; every later commit writes a DELTA manifest (`#base=v-1`
    * header; `+entry` added / `-entry` removed lines) sized by the
    * CHANGED files, and every CHECKPOINT_EVERY-th commit also
    * materializes a full `v%08d.checkpoint` sidecar. Reconstruction
    * walks back at most ~CHECKPOINT_EVERY deltas to the nearest
    * full/checkpoint base. At 100 TB this is what keeps commit cost
    * O(changed files): an append to a 10k-file table writes a
    * 1-file delta, not a 10k-line snapshot (pinned in
    * ManifestTableSuite), while per-version metadata (`#k=v` headers)
    * stays complete in every version file so history/meta reads remain
    * one file. [[expireVersions]] materializes the oldest retained
    * version before dropping its ancestors, so retention never breaks a
    * delta chain. */
  private val CheckpointEvery = 16L

  private def manifestPath(table: String, v: Long): Path =
    manifestDir(table).resolve(f"v$v%08d.manifest")
  private def checkpointPath(table: String, v: Long): Path =
    manifestDir(table).resolve(f"v$v%08d.checkpoint")

  /** List a directory's entries, CLOSING the stream — `Files.list`
    * holds an open directory fd until closed, and latestVersion runs on
    * every read and every commit-loop retry, so an unclosed stream leaks
    * an fd per call in a long-lived driver. */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Latest committed version, if any manifest exists. O(1) file probes
    * in the common case: the `_latest` hint (written best-effort after
    * every publish) is always AT OR BELOW the true head — the CAS
    * namespace only moves forward — so probing forward from it finds
    * the head in (commits since the hint) existence checks instead of a
    * full directory listing; a directory listing remains only as the
    * fallback for hint-less legacy tables. */
  def latestVersion(table: String): Option[Long] = {
    val md = manifestDir(table)
    if (!Files.isDirectory(md)) return None
    val hintFile = md.resolve("_latest")
    val hint: Option[Long] =
      if (!Files.exists(hintFile)) None
      else
        try {
          val h = new String(Files.readAllBytes(hintFile), "UTF-8").trim.toLong
          // the hinted version itself may have been expired or the hint
          // torn — trust it only when its manifest actually exists
          if (Files.exists(manifestPath(table, h))) Some(h) else None
        } catch { case scala.util.control.NonFatal(_) => None }
    hint match {
      case Some(h) =>
        var v = h
        while (Files.exists(manifestPath(table, v + 1))) v += 1
        Some(v)
      case None =>
        val vs = listDir(md)
          .filter(_.getFileName.toString.matches("v\\d{8}\\.manifest"))
          .map(versionOf)
        if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Manifest line prefix marking a DELETION-VECTOR sidecar (a parquet
    * file of (path, pos) tombstones applied reader-side) rather than a
    * data file. DV entries ride the same manifest CAS as everything
    * else — a DV commit is as atomic and time-travelable as a rewrite.
    * Full line shape: `~dv:<dvPath>|<target>|<target>...` — the data
    * files the DV tombstones, recorded at delete time (the Delta
    * AddFile-associates-its-DV discipline) so [[compact]] can rewrite
    * ONLY affected files without reading any DV's row values. */
  private val DvPrefix = "~dv:"

  private def dvLine(dvPath: String, targets: Seq[String]): String = {
    // '|' is the line-format separator and '~dv:' the line discriminator;
    // an unescaped occurrence in a path would corrupt parseDvLine's
    // target list and misdirect compact/vacuum. Paths are UUID-generated
    // today, but the format guards itself rather than trusting callers.
    (dvPath +: targets).foreach { p =>
      require(!p.contains("|") && !p.startsWith(DvPrefix),
        s"manifest path may not contain '|' or start with '$DvPrefix': $p")
    }
    (DvPrefix + dvPath) + targets.map("|" + _).mkString
  }

  /** A DV sidecar's rows: the (`_metadata.file_path`,
    * `_metadata.row_index`) pair of each tombstoned row. Sidecars are
    * read under this schema, never by inference — an inferred read runs
    * one Spark job per DataFrame built (~70 ms warm). */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType)))

  /** The tombstoned (path, pos) pairs of `dvs`, keyed `__fp` / `__pos`
    * for the positional joins against a scan's own `_metadata`. */
  private def dvPairs(spark: SparkSession, dvs: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(dvs: _*)
      .select(col("path").as("__fp"), col("pos").as("__pos"))

  /** Parse a DV manifest line → (sidecar path, targeted data files).
    * Lines written before target tracking parse as target-unknown
    * (empty) — compact treats those conservatively (full rewrite). */
  private def parseDvLine(l: String): (String, Seq[String]) = {
    val parts = l.stripPrefix(DvPrefix).split("\\|").toSeq
    (parts.head, parts.tail)
  }

  /** COLUMN MAPPING (the Delta/Iceberg column-mapping discipline): once
    * a table RENAMEs or DROPs a column, every logical field carries a
    * STABLE FIELD ID and a fixed PHYSICAL name — the name actually
    * stored in the parquet files, assigned at column birth and never
    * changed. Rename re-labels (logical changes; id and physical stay),
    * drop hides (the field leaves the logical schema; old files keep
    * the bytes, unreadable through the table). Neither rewrites a data
    * file — at 100 TB that is the entire point. Tables that never
    * rename/drop carry no colmap and behave exactly as before
    * (physical == logical everywhere).
    *
    * Meta keys: `colmap` = "id:phys,..." positionally aligned with the
    * `schema` signature's fields; `maxcolid` = the highest field id
    * EVER assigned — drops must not free ids, because a later column
    * re-using a dropped column's physical name would resurrect the
    * dropped bytes out of old files (new columns under mapping get
    * physical name `c<freshId>_<name>`, collision-free by id
    * uniqueness). */
  private def parseColMap(meta: Map[String, String]): Option[Seq[(Long, String)]] =
    meta.get("colmap").map(_.split(",").toSeq.map { e =>
      val Array(id, phys) = e.split(":", 2)
      (id.toLong, phys)
    })

  private def colMapLine(cm: Seq[(Long, String)]): String = {
    cm.foreach { case (_, p) =>
      require(!p.contains(",") && !p.contains(":"),
        s"physical column name may not contain ',' or ':': $p")
    }
    cm.map { case (id, p) => s"$id:$p" }.mkString(",")
  }

  /** Identity mapping for a table entering column-mapping mode: ids by
    * position, physical = the CURRENT logical names (what the existing
    * files store). */
  private def synthColMap(fields: Seq[String]): Seq[(Long, String)] =
    fields.zipWithIndex.map { case (f, i) => ((i + 1).toLong, fieldName(f)) }

  /** Split a schema signature on commas at bracket depth 0 only
    * (parens and angle brackets both nest in type DDL: `DECIMAL(12,2)`,
    * `STRUCT<...>`), so a comma-bearing type stays one field. */
  private[graft] def splitTopLevel(sig: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    sig.foreach {
      case c @ ('(' | '<') => depth += 1; cur += c
      case c @ (')' | '>') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.result()
    out.result()
  }

  private def fieldName(f: String): String = f.split(":", 2)(0)
  private def fieldType(f: String): String = f.split(":", 2)(1)

  /** The latest snapshot's logical→physical column mapping, if the
    * table is in column-mapping mode. */
  def currentColMap(table: String): Option[Seq[(Long, String)]] =
    parseColMap(headMeta(table))

  /** Physical column names aligned with the snapshot's schema fields
    * (None when the table stores logical names directly). */
  private[sources] def physNamesOf(meta: Map[String, String]): Option[Seq[String]] =
    parseColMap(meta).map(_.map(_._2))

  /** The physical name a logical column is stored under in this
    * snapshot's files (the logical name itself outside mapping mode, or
    * for a name not in the schema — e.g. a dropped column — which then
    * conservatively misses stats lookups). */
  private def physName(meta: Map[String, String], logical: String): String =
    (for {
      sig <- meta.get("schema")
      cm <- parseColMap(meta)
      idx = splitTopLevel(sig).indexWhere(fieldName(_) == logical)
      if idx >= 0 && idx < cm.size
    } yield cm(idx)._2).getOrElse(logical)

  /** Meta keys every snapshot-preserving commit must carry forward —
    * dropping the colmap would flip readers back to logical-name scans
    * over physically-named files, and dropping the `lastBatchId`
    * high-water mark would make [[idempotentAppend]]'s committed() walk
    * O(versions) across any maintenance-only history (and is what keeps
    * a replayed sink batch from re-committing after maintenance ran).
    * Callers that SET one of these keys themselves must put their
    * explicit value AFTER the carry in the `++` (right side wins). */
  private def mapMeta(meta: Map[String, String]): Map[String, String] =
    meta.view.filterKeys(k =>
      k == "colmap" || k == "maxcolid" || k == "lastBatchId" ||
        k == "partcol").toMap

  /** Is `inner`'s schema a column-mapping-aware PREFIX of `outer`'s —
    * i.e. can a change feed ride from a snapshot with `inner`'s meta to
    * one with `outer`'s? True iff inner's field ids, physical names, and
    * types are each a positional prefix of outer's (LOGICAL names are
    * free to differ — renames ride through; drops and type changes
    * break the prefix and bound the epoch). Outside mapping mode the
    * implied identity mapping reduces this to the old name:type prefix
    * rule; untracked (schema-less) commits never bound. */
  private[sources] def sigPrefixCompatible(inner: Map[String, String],
      outer: Map[String, String]): Boolean =
    (inner.get("schema"), outer.get("schema")) match {
      case (None, _) | (_, None) => true
      case (Some(is), Some(os)) =>
        val inf = splitTopLevel(is)
        val onf = splitTopLevel(os)
        if (inf.size > onf.size) false
        else {
          val iIds = parseColMap(inner).map(_.map(_._1))
            .getOrElse((1L to inf.size.toLong))
          val oIds = parseColMap(outer).map(_.map(_._1))
            .getOrElse((1L to onf.size.toLong))
          val iPhys = physNamesOf(inner).getOrElse(inf.map(fieldName))
          val oPhys = physNamesOf(outer).getOrElse(onf.map(fieldName))
          iIds == oIds.take(iIds.size) &&
            iPhys == oPhys.take(iPhys.size) &&
            inf.map(fieldType) == onf.take(inf.size).map(fieldType)
        }
    }

  /** ALL content entries of a committed snapshot (data files AND
    * deletion-vector lines, comments excluded) — what snapshot-EXTENDING
    * commits (append, streaming append) must carry forward verbatim:
    * dropping a DV line would resurrect its deleted rows. */
  def snapshotEntries(table: String, version: Long): Seq[String] =
    entriesOf(table, version, manifestLines(table, version))

  private def manifestLines(table: String, v: Long): Seq[String] =
    Files.readAllLines(manifestPath(table, v)).asScala.toSeq

  /** A manifest's entry lines (header comments and blank lines dropped). */
  private def contentOf(lines: Seq[String]): Seq[String] =
    lines.filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The entries at a version from its manifest `lines` and the entries
    * before it: a delta (`#base=v-1`) applies its `-`/`+` lines to
    * `prev`, a full list (v0, a clone, a legacy manifest) replaces it —
    * for [[entriesOf]]' backward chain walk and [[commits]]' forward one. */
  private def applyManifest(prev: Seq[String], lines: Seq[String]): Seq[String] = {
    val content = contentOf(lines)
    if (!lines.exists(_.startsWith("#base="))) content
    else {
      val removes = content.collect { case l if l.startsWith("-") => l.drop(1) }.toSet
      val adds = content.collect { case l if l.startsWith("+") => l.drop(1) }
      prev.filterNot(removes) ++ adds
    }
  }

  /** [[snapshotEntries]] given the version's own manifest lines, which
    * are read only when no checkpoint answers. A materialized checkpoint
    * answers in one read; otherwise walk the delta chain BACK to the
    * nearest checkpoint or full base (≤ ~CheckpointEvery hops), then
    * fold the manifests forward. */
  private def entriesOf(table: String, version: Long,
      head: => Seq[String]): Seq[String] = {
    def checkpoint(v: Long): Option[Seq[String]] =
      Some(checkpointPath(table, v)).filter(Files.exists(_))
        .map(p => contentOf(Files.readAllLines(p).asScala.toSeq))
    checkpoint(version).getOrElse {
      var v = version
      var chain = List(head) // manifests, oldest first
      var base = Option.empty[Seq[String]]
      while (base.isEmpty && chain.head.exists(_.startsWith("#base="))) {
        v -= 1
        base = checkpoint(v)
        if (base.isEmpty) chain = manifestLines(table, v) :: chain
      }
      chain.foldLeft(base.getOrElse(Nil))(applyManifest)
    }
  }

  /** The DATA file list of a committed snapshot (metadata and
    * deletion-vector lines excluded). */
  def snapshotFiles(table: String, version: Long): Seq[String] =
    snapshotEntries(table, version).filterNot(_.startsWith(DvPrefix))

  /** The deletion-vector sidecar files of a committed snapshot. */
  def snapshotDvs(table: String, version: Long): Seq[String] =
    snapshotDvInfo(table, version).map(_._1)

  /** DV sidecars with their recorded target data files. */
  def snapshotDvInfo(table: String, version: Long): Seq[(String, Seq[String])] =
    snapshotEntries(table, version)
      .filter(_.startsWith(DvPrefix)).map(parseDvLine)

  /** A committed snapshot's metadata (`#key=value` header lines). */
  def snapshotMeta(table: String, version: Long): Map[String, String] =
    metaOf(manifestLines(table, version))

  private def metaOf(lines: Seq[String]): Map[String, String] =
    lines.filter(_.startsWith("#")).flatMap { l =>
      l.stripPrefix("#").split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap

  /** The latest snapshot's metadata (empty before the first commit). */
  private def headMeta(table: String): Map[String, String] =
    latestVersion(table).fold(Map.empty[String, String])(snapshotMeta(table, _))

  /** One committed snapshot as a read plans on it and a commit builds on
    * it: its version (-1 before the first commit), its metadata and its
    * entries, split into data files and deletion-vector lines. */
  private[sources] final case class Base(version: Long, meta: Map[String, String],
      entries: Seq[String]) {
    val (dvLines, files) = entries.partition(_.startsWith(DvPrefix))
    def dvInfo: Seq[(String, Seq[String])] = dvLines.map(parseDvLine)
    def dvs: Seq[String] = dvInfo.map(_._1)
    /** Data files the DV lines may tombstone: the recorded targets, or
      * every file when a legacy DV line records none. */
    lazy val dvTargets: Set[String] = {
      val info = dvInfo
      if (info.exists(_._2.isEmpty)) files.toSet
      else files.toSet.intersect(info.flatMap(_._2).toSet)
    }
  }

  private val NoBase = Base(-1L, Map.empty, Nil)

  /** One read of the version's manifest serves both its meta and the
    * head of its entry walk. */
  private def snapshot(table: String, version: Long): Base = {
    val lines = manifestLines(table, version)
    Base(version, metaOf(lines), entriesOf(table, version, lines))
  }

  /** One committed version as the forward walk sees it: the snapshots
    * before it (`prev`; [[NoBase]] before v0) and at it (`cur`). */
  private[sources] final case class Commit(prev: Base, cur: Base) {
    def version: Long = cur.version
    def meta: Map[String, String] = cur.meta
    lazy val added: Seq[String] = cur.files.filterNot(prev.files.toSet)
    lazy val removed: Seq[String] = prev.files.filterNot(cur.files.toSet)
    /** Only REORGANIZES files (compact, cluster, compact-small): every
      * row carries, so the change feed and the stream source skip it. */
    def reorganizes: Boolean =
      meta.get("op").exists(o => o == "compact" || o == "cluster" || o == "compact-small")
    /** Starts a new schema epoch: a drop or type change (not a rename
      * or an added column) against its predecessor. */
    def boundary: Boolean = !sigPrefixCompatible(prev.meta, meta)
  }

  /** THE FORWARD WALK behind every incremental reader ([[readChanges]],
    * [[ChangeFeed]], [[ManifestStreamSource]]): the commits `(from, to]`,
    * oldest first and lazily. The `from` snapshot is reconstructed once,
    * then each version's manifest is read once and applied to the
    * previous entries; an expired manifest throws when reached. */
  private[sources] def commits(table: String, from: Long, to: Long): Iterator[Commit] =
    if (to <= from) Iterator.empty
    else {
      var prev = if (from < 0) NoBase else snapshot(table, from)
      ((from + 1) to to).iterator.map { v =>
        val lines = manifestLines(table, v)
        val c = Commit(prev, Base(v, metaOf(lines), applyManifest(prev.entries, lines)))
        prev = c.cur
        c
      }
    }

  /** Read a snapshot the caller already holds, as [[read]] does. */
  private[sources] def readBase(spark: SparkSession, table: String, b: Base): DataFrame =
    scan(spark, planOn(table, b, Nil, None))

  /** Read a snapshot (latest by default; pass a version for time
    * travel), MERGE-ON-READ: any deletion-vector sidecars in the
    * manifest are applied as a reader-side anti-join on the parquet
    * `_metadata` (file_path, row_index) pair — the positional tombstone
    * join of the production lakehouse formats. Rows never present in a
    * DV pass through untouched; with no DVs the plan is the plain scan.
    * An empty table (no commits) reads as an error — callers create
    * tables by committing. */
  def read(spark: SparkSession, table: String, version: Option[Long] = None): DataFrame =
    scan(spark, plan(table, version, Nil))

  /** The reader features THIS implementation understands. A snapshot
    * whose recorded `features` set exceeds it fails fast with the
    * feature named, instead of misreading (the Delta
    * unsupported-table-feature contract): e.g. a hypothetical reader
    * without `colmap` would otherwise scan physically-named files
    * under logical names and silently return nulls. */
  private val ReaderFeatures = Set("colmap", "dv", "partition")

  private[sources] def requireSupported(table: String, version: Long,
      meta: Map[String, String]): Unit = {
    val unknown = meta.get("features")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
      .filterNot(ReaderFeatures)
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"$table v$version requires unsupported table feature(s) " +
        s"[${unknown.mkString(", ")}] — this reader implements " +
        s"[${ReaderFeatures.toSeq.sorted.mkString(", ")}]; upgrade the reader " +
        "rather than risk misreading the snapshot")
  }

  /** The recorded signature parsed back to a StructType (all fields
    * nullable — the signature does not record nullability, and ADD
    * COLUMN evolution makes the new column null for pre-evolution
    * files anyway). None when the sig does not round-trip through the
    * DDL parser (never the case for the engine's transport types). */
  private[graft] def sigToSchema(sig: String): Option[org.apache.spark.sql.types.StructType] =
    try Some(org.apache.spark.sql.types.StructType(
      splitTopLevel(sig).map { f =>
        val Array(n, t) = f.split(":", 2)
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DataType.fromDDL(t), nullable = true)
      }))
    catch { case scala.util.control.NonFatal(_) => None }

  /** The scan-time StructType: the committed logical schema with field
    * names swapped to the snapshot's PHYSICAL names (identity outside
    * column-mapping mode). Shared by every path that opens data files —
    * the batch scan, the CDF's DV delta — so a future mapping change has
    * exactly one place to land. */
  private def physSchema(sch: org.apache.spark.sql.types.StructType,
      phys: Option[Seq[String]]): org.apache.spark.sql.types.StructType =
    phys match {
      case Some(p) => org.apache.spark.sql.types.StructType(
        sch.fields.toSeq.zip(p).map { case (f, pn) => f.copy(name = pn) })
      case None => sch
    }

  /** Relabel a physically-named scan back to the logical schema. */
  private def relabel(df: DataFrame,
      sch: org.apache.spark.sql.types.StructType, phys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(sch.fields.toSeq.zip(phys).map { case (f, pn) =>
      col(pn).as(f.name)
    }: _*)
  }

  /** Scan `files` with the snapshot's deletion vectors applied.
    * Positions come from the scan itself (`_metadata.row_index` — the
    * generated metadata column, no stored row ids needed; valid because
    * data files are immutable), so the anti-join keys are exactly the
    * (path, pos) pairs [[deleteWhere]] recorded. The DV side is
    * tombstone-sized — at 100 TB it is the erased keys' rows, not the
    * table — and the join key is (string, long), never payload.
    *
    * When the snapshot records a schema signature the scan uses it
    * EXPLICITLY (`spark.read.schema(...)`): after an [[appendEvolve]]
    * the snapshot's files are schema-heterogeneous, and the explicit
    * schema both pins the column order to the committed signature and
    * fills the evolved columns with null for pre-evolution files — the
    * production formats' read-time null-fill, without mergeSchema's
    * footer-sampling pass. */
  private def readFiles(spark: SparkSession, files: Seq[String],
      dvs: Seq[String], sig: Option[String] = None,
      phys: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = scanPhysical(spark, files, dvs, sig, phys)
    (sig.flatMap(sigToSchema), phys) match {
      case (Some(sch), Some(p)) =>
        // mapping mode: the scan ran under PHYSICAL names (including
        // the zero-file empty frame, which carries the physical
        // schema); surface the snapshot's LOGICAL names to the caller
        relabel(df, sch, p)
      case _ => df
    }
  }

  /** The scan in the files' own PHYSICAL column names (== logical
    * outside mapping mode), deletion vectors applied. Rewriting commits
    * (delete's copy-on-write, compact, cluster) stage THIS shape so data
    * files stay physically consistent across logical renames. */
  private def scanPhysical(spark: SparkSession, files: Seq[String],
      dvs: Seq[String], sig: Option[String], phys: Option[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val scanSchema = sig.flatMap(sigToSchema).map(physSchema(_, phys))
    // a zero-file snapshot (e.g. a retention delete that DROPPED every
    // file) must still serve the committed schema — a schema-less
    // empty frame breaks typed consumers downstream
    if (files.isEmpty)
      return scanSchema match {
        case Some(sch) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
        case None => spark.emptyDataFrame
      }
    val base = scanSchema match {
      case Some(sch) => spark.read.schema(sch).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
    if (dvs.isEmpty) base
    else {
      val cols = base.columns.toSeq
      val dv = dvPairs(spark, dvs)
      base
        .select(col("*"), col("_metadata.file_path").as("__fp"),
          col("_metadata.row_index").as("__pos"))
        .join(dv, Seq("__fp", "__pos"), "left_anti")
        .select(cols.map(col): _*)
    }
  }

  /** Stage `df` as immutable data files under data/, NOT yet visible.
    * Returns the staged file paths. Each staged file gets a `.stats`
    * SIDECAR with its INT64 column ranges (harvested from the parquet
    * footer — a metadata-only read), so [[readPruned]] can skip whole
    * files later without touching them. */
  private def stage(df: DataFrame, table: String,
      toPhys: Option[Seq[(String, String)]] = None): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val id = UUID.randomUUID().toString
    val staging = Paths.get(table, s"staging-$id")
    // mapping mode: the caller's DataFrame is in LOGICAL names; files
    // always store PHYSICAL names (fixed at column birth), so renames
    // stay metadata-only
    val out = toPhys match {
      case Some(m) => df.select(m.map { case (l, p) => col(l).as(p) }: _*)
      case None => df
    }
    out.write.parquet(staging.toString)
    Files.createDirectories(dataDir(table))
    val moved = listDir(staging)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .zipWithIndex
      .map { case (f, i) =>
        val dst = dataDir(table).resolve(s"$id-part-$i.parquet")
        // same '|'/'~dv:' guard as dvLine — every staged path may later
        // appear as a DV line's target segment — plus the delta-manifest
        // markers (+/-), which prefix entry lines in the checkpointed log
        require(!dst.toString.contains("|") && !dst.toString.startsWith(DvPrefix) &&
          !dst.toString.startsWith("+") && !dst.toString.startsWith("-"),
          s"table path yields manifest-unsafe data path: $dst")
        Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
        dst.toString
      }
    listDir(staging).foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(staging)
    harvestAll(moved)
    moved
  }

  /** Typed per-column file statistics: a LONG range (INT64/INT32
    * physical — bigints, timestamps-as-micros, dates-as-days, ints) or
    * a STRING range (BINARY/UTF8, TRUNCATED at [[StrStatLen]] chars
    * with the upper bound bumped past the truncation so it stays a
    * valid bound — the Delta/Iceberg truncated-string-stats
    * discipline). `exact` marks whether both endpoints are the verbatim
    * column extremes: PRUNING is sound either way (the range always
    * contains every value), but metadata-only AGGREGATES may only trust
    * exact endpoints ([[statsAggregate]] re-reads inexact files). */
  sealed trait ColStat
  final case class LongStat(lo: Long, hi: Long) extends ColStat
  final case class StrStat(lo: String, hi: String, exact: Boolean) extends ColStat

  private val StrStatLen = 64

  /** UTF-8 byte-order comparison (parquet's unsigned-lexicographic
    * BINARY ordering, which is also Spark's UTF8String ordering) — Java
    * String's UTF-16 comparison disagrees above the BMP, so string
    * stats must never fold through compareTo. */
  private[sources] def utf8Lte(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }
  private def utf8Min(a: String, b: String): String = if (utf8Lte(a, b)) a else b
  private def utf8Max(a: String, b: String): String = if (utf8Lte(a, b)) b else a

  /** A valid UPPER bound for a string truncated to `len` chars: the
    * prefix with its last bumpable char incremented and the tail
    * dropped — strictly greater (in UTF-8 order) than every string
    * sharing the prefix. Chars at/above the surrogate floor are never
    * bumped (the increment could land inside the surrogate range and
    * produce an unencodable string); None when nothing can be bumped —
    * the caller then stores no upper bound for the column. */
  private def truncUpper(s: String, len: Int): Option[String] = {
    val p = s.substring(0, len)
    var i = len - 1
    while (i >= 0) {
      val c = p.charAt(i)
      if (c < 0xD7FF.toChar)
        return Some(p.substring(0, i) + (c + 1).toChar)
      i -= 1
    }
    None
  }

  /** Write the `.stats` sidecar for a staged data file: one line per
    * stats-bearing column — `name=min..max` for long ranges (the
    * legacy shape, still read by every old sidecar's parser), and
    * `name=s64:<base64 min>..<base64 max>..<e|t>` for string ranges
    * (base64 keeps arbitrary values newline/separator-safe; the final
    * flag records endpoint exactness). Immutable like the data file it
    * describes, and it travels implicitly through append/merge/
    * overwrite because it shares the file's path. (At 100 TB the
    * harvest comes from the WRITE TASKS' accumulated statistics instead
    * of a footer round-trip, as in the production formats — the stored
    * shape and the pruning consumer are identical.) */
  /** Harvest sidecars for a whole staged batch, files in PARALLEL: the
    * per-file work is independent footer I/O (~15 ms each), so a
    * 32-file commit's harvest collapses from ~0.5 s sequential to one
    * I/O round — the same independent-waves argument as
    * [[graft.Parallel.run]], applied to commit metadata. */
  private def harvestAll(files: Seq[String]): Unit =
    if (files.size <= 1) files.foreach(harvestStats)
    else graft.Parallel.run(files.map(f => () => harvestStats(f): Any): _*)

  private def harvestStats(file: String): Unit = {
    val b64 = java.util.Base64.getEncoder
    // ONE footer open serves all three harvests (ranges, row count,
    // null counts): ParquetFileReader.open costs ~15 ms per call on
    // the local FS, so the previous three-open shape taxed every
    // 32-file commit ~1 s of pure footer re-reads (guide §6 — commit
    // metadata work must be one pass, the way the production formats
    // harvest from write-task statistics)
    val footer = withFooter(file) { r =>
      (statsFromFooter(r), rowsFromFooter(r), nullsFromFooter(r))
    }
    val (stats, nRows, nullCounts) = footer
    val head = s"#rows=$nRows"
    // per-column NULL counts (`#nulls:<b64 col>=N`) make full-file
    // predicate containment actionable: a retention delete may DROP a
    // file metadata-only iff min/max prove every VALUE dies AND the
    // null count proves no null row (which never matches the
    // predicate) would survive. Unknown counts are simply absent —
    // absent only costs the drop optimization, never correctness.
    val nulls = nullCounts.toSeq.sortBy(_._1).map {
      case (c, n) => s"#nulls:${b64.encodeToString(c.getBytes("UTF-8"))}=$n"
    }
    val lines = (head +: nulls) ++ stats.toSeq.sortBy(_._1).map {
      case (c, LongStat(lo, hi)) => s"$c=$lo..$hi"
      case (c, StrStat(lo, hi, exact)) =>
        val eLo = b64.encodeToString(lo.getBytes("UTF-8"))
        val eHi = b64.encodeToString(hi.getBytes("UTF-8"))
        s"$c=s64:$eLo..$eHi..${if (exact) "e" else "t"}"
    }
    Files.write(Paths.get(file + ".stats"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  /** A committed data file's row count from its `.stats` sidecar
    * (`#rows=N` header), falling back to the parquet footer for files
    * staged before the sidecar carried it. Metadata only either way. */
  def statsRowCount(file: String): Long = {
    val sc = Paths.get(file + ".stats")
    if (Files.exists(sc))
      Files.readAllLines(sc).asScala
        .find(_.startsWith("#rows=")).map(_.stripPrefix("#rows=").toLong)
        .getOrElse(footerRowCount(file))
    else footerRowCount(file)
  }

  /** Column [min, max] ranges from a parquet FOOTER — metadata only, no
    * row reads. INT64 and INT32 physical columns (bigints, ints,
    * timestamps, dates) yield [[LongStat]]; UTF8-annotated BINARY
    * columns (strings) yield [[StrStat]], truncated at [[StrStatLen]]
    * chars with the upper endpoint bumped to stay a valid bound.
    * Columns with no non-null statistics are omitted (absent ⇒ the
    * file cannot be pruned on that column). */
  def footerStatsTyped(file: String): Map[String, ColStat] =
    withFooter(file)(statsFromFooter)

  /** Open `file`'s parquet footer ONCE and apply `f` — the shared entry
    * for every footer-metadata harvest (ranges, row counts, null
    * counts). A single cached Hadoop Configuration serves all opens:
    * footer reads are immutable metadata, and re-constructing a
    * Configuration per open was measurable overhead at commit time. */
  private val footerConf = new org.apache.hadoop.conf.Configuration()

  private def withFooter[A](file: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try f(r) finally r.close()
  }

  private def statsFromFooter(
      r: org.apache.parquet.hadoop.ParquetFileReader): Map[String, ColStat] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    {
      val longs = scala.collection.mutable.Map.empty[String, (Long, Long)]
      // strings fold UNTRUNCATED across row groups first (truncating
      // per group then folding could pick a bumped per-group upper
      // bound as the "min"); one truncation applies at the end
      val strs = scala.collection.mutable.Map.empty[String, (String, String)]
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val st = c.getStatistics
          val pt = c.getPrimitiveType
          if (st != null && st.hasNonNullValue) pt.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 =>
              val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
              val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
              longs.updateWith(c.getPath.toDotString) {
                case Some((a, b2)) => Some((math.min(a, lo), math.max(b2, hi)))
                case None => Some((lo, hi))
              }
            case PrimitiveTypeName.INT32 =>
              val lo = st.genericGetMin.asInstanceOf[java.lang.Integer].longValue
              val hi = st.genericGetMax.asInstanceOf[java.lang.Integer].longValue
              longs.updateWith(c.getPath.toDotString) {
                case Some((a, b2)) => Some((math.min(a, lo), math.max(b2, hi)))
                case None => Some((lo, hi))
              }
            case PrimitiveTypeName.BINARY
                if pt.getLogicalTypeAnnotation ==
                  LogicalTypeAnnotation.stringType() =>
              val lo = st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              val hi = st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              strs.updateWith(c.getPath.toDotString) {
                case Some((a, b2)) => Some((utf8Min(a, lo), utf8Max(b2, hi)))
                case None => Some((lo, hi))
              }
            case _ => ()
          }
        }
      }
      val strStats = strs.flatMap { case (c, (lo, hi)) =>
        val loT = if (lo.length > StrStatLen) lo.substring(0, StrStatLen) else lo
        val hiT: Option[String] =
          if (hi.length > StrStatLen) truncUpper(hi, StrStatLen) else Some(hi)
        // no bumpable upper bound ⇒ no sound range to store at all
        hiT.map(h => c -> (StrStat(loT, h,
          exact = (loT eq lo) && h == hi): ColStat))
      }
      longs.view.mapValues(r => LongStat(r._1, r._2): ColStat).toMap ++ strStats
    }
  }

  /** A data file's ROW COUNT from its parquet footer — metadata only.
    * Used to exempt provably-empty files from conservative rewrites:
    * a zero-row file never gets min/max stats, so without this check
    * [[deleteWhere]] would classify it stats-less and rewrite it. */
  def footerRowCount(file: String): Long = withFooter(file)(rowsFromFooter)

  private def rowsFromFooter(
      r: org.apache.parquet.hadoop.ParquetFileReader): Long =
    r.getFooter.getBlocks.asScala.map(_.getRowCount).sum

  /** Per-column NULL counts from a parquet FOOTER — metadata only. A
    * column appears ONLY when every row group recorded a null count
    * (parquet statistics may omit it), so a present entry is exact and
    * an absent one means "unknown — assume nulls". */
  def footerNullCounts(file: String): Map[String, Long] =
    withFooter(file)(nullsFromFooter)

  private def nullsFromFooter(
      r: org.apache.parquet.hadoop.ParquetFileReader): Map[String, Long] = {
    {
      val sums = scala.collection.mutable.Map.empty[String, Long]
      val unknown = scala.collection.mutable.Set.empty[String]
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          val st = c.getStatistics
          if (st == null || !st.isNumNullsSet || st.getNumNulls < 0)
            unknown += name
          else sums.updateWith(name) {
            case Some(n) => Some(n + st.getNumNulls)
            case None => Some(st.getNumNulls)
          }
        }
      }
      (sums -- unknown).toMap
    }
  }

  /** A committed data file's typed column ranges: the sidecar when
    * present (one tiny read — the manifest-adjacent stats a log-store
    * format keeps), else the parquet footer (correct fallback for files
    * staged before sidecars existed). Unparseable lines are skipped —
    * absent stats only cost pruning, never correctness. */
  def statsTypedOf(file: String): Map[String, ColStat] = fileStats(file).ranges

  /** One parse of a file's `.stats` sidecar: its typed ranges and its
    * per-PHYSICAL-column null counts. `nulls` is None when there is no
    * sidecar or the sidecar predates null harvesting (no `#nulls:` line
    * at all) — ask the footer then; a sidecar written after records
    * every KNOWN column, so a missing column there is genuinely unknown. */
  private final case class FileStats(ranges: Map[String, ColStat],
      nulls: Option[Map[String, Long]]) {
    /** `column`'s null count, `None` = unknown: callers must then assume
      * the column MAY hold nulls. */
    def nullCount(file: String, column: String): Option[Long] =
      nulls.getOrElse(footerNullCounts(file)).get(column)
  }

  private val NoStats = FileStats(Map.empty, None)

  private def fileStats(file: String): FileStats = {
    val sc = Paths.get(file + ".stats")
    if (!Files.exists(sc)) return FileStats(footerStatsTyped(file), None)
    val lines = Files.readAllLines(sc).asScala
    val b64 = java.util.Base64.getDecoder
    // `#nulls:<b64 col>=N` — split at the LAST '=': base64 pads with '='
    val nullLines = lines.filter(_.startsWith("#nulls:"))
    val nulls = Option.when(nullLines.nonEmpty)(nullLines.flatMap { l =>
      val i = l.lastIndexOf('=')
      scala.util.Try(new String(b64.decode(l.substring(7, i)), "UTF-8") ->
        l.substring(i + 1).toLong).toOption
    }.toMap)
    val ranges = lines.flatMap { l =>
      l.split("=", 2) match {
        case Array(c, range) if !l.startsWith("#") =>
          if (range.startsWith("s64:"))
            range.stripPrefix("s64:").split("\\.\\.", 3) match {
              case Array(eLo, eHi, flag) =>
                try Some(c -> (StrStat(
                  new String(b64.decode(eLo), "UTF-8"),
                  new String(b64.decode(eHi), "UTF-8"),
                  exact = flag == "e"): ColStat))
                catch { case scala.util.control.NonFatal(_) => None }
              case _ => None
            }
          else range.split("\\.\\.", 2) match {
            case Array(lo, hi) =>
              try Some(c -> (LongStat(lo.toLong, hi.toLong): ColStat))
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        case _ => None
      }
    }.toMap
    FileStats(ranges, nulls)
  }

  /** How a literal type bounds a [[ColRange]]: the range in the
    * committed stats' own [[ColStat]] shape, and the exact Spark literal
    * the filter re-applies. Longs and ints compare as [[LongStat]]s,
    * dates on their epoch days and instants on their epoch micros (the
    * INT32 / INT64 values parquet stores for DATE and TIMESTAMP), strings
    * as [[StrStat]]s in UTF-8 order. */
  final class RangeLit[T] private (val bound: (T, T) => ColStat, val literal: T => Any)

  object RangeLit {
    implicit val long: RangeLit[Long] = new RangeLit[Long](LongStat(_, _), identity)
    implicit val int: RangeLit[Int] = new RangeLit[Int](LongStat(_, _), _.toLong)
    implicit val string: RangeLit[String] =
      new RangeLit[String](StrStat(_, _, exact = true), identity)
    implicit val date: RangeLit[java.time.LocalDate] = new RangeLit[java.time.LocalDate](
      (lo, hi) => LongStat(lo.toEpochDay, hi.toEpochDay), java.sql.Date.valueOf)
    implicit val instant: RangeLit[java.time.Instant] = new RangeLit[java.time.Instant](
      (lo, hi) => LongStat(micros(lo), micros(hi)), java.sql.Timestamp.from)
    private def micros(i: java.time.Instant): Long =
      math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
  }

  /** One typed range predicate `col ∈ [lo, hi]` (inclusive) on a
    * LOGICAL column: `bound` prunes files against their committed stats,
    * `lo`/`hi` are the exact literals of the re-applied filter. Build it
    * as `ColRange(col, lo, hi)` from any literal with a [[RangeLit]];
    * `lo == hi` is the equality shape. */
  final case class ColRange(col: String, bound: ColStat, lo: Any, hi: Any) {
    def exact(c: Column): Column = c >= lit(lo) && c <= lit(hi)
  }

  object ColRange {
    def apply[T](col: String, lo: T, hi: T)(implicit l: RangeLit[T]): ColRange =
      ColRange(col, l.bound(lo, hi), l.literal(lo), l.literal(hi))
  }

  /** Can a file whose committed stat is `st` hold a value inside
    * `bound`? Truncated string bounds are sound either way (min is a
    * prefix of every value, max is bumped past the truncation); a stat
    * of another type than the bound cannot prune. */
  private def overlaps(st: ColStat, bound: ColStat): Boolean = (st, bound) match {
    case (LongStat(mn, mx), LongStat(lo, hi)) => mx >= lo && mn <= hi
    case (StrStat(mn, mx, _), StrStat(lo, hi, _)) => utf8Lte(lo, mx) && utf8Lte(mn, hi)
    case _ => true
  }

  /** A scan of one committed snapshot: the snapshot, its KEPT files
    * (each with its parsed stats) and the exact filter the read
    * re-applies (None: the whole snapshot). */
  private final case class ScanPlan(base: Base, kept: Seq[(String, FileStats)],
      filter: Option[Column])

  /** Plan a read of `version` (latest by default) — the one planning
    * step behind [[read]], the pruned reads, their file counts and
    * [[statsAggregate]]; [[merge]] and [[deleteWhere]] plan on their
    * commit attempt's [[Base]] through [[planOn]]. The manifest is read
    * once, the reader features are checked, and each `.stats` sidecar is
    * parsed once. A file is kept when its stats overlap every range (no
    * stats for a column: kept — pruning is a performance property, the
    * exact filter keeps the result correct) and, for a `partition` read,
    * when it carries that value's marker or no marker at all (a
    * cross-partition rewrite output) — a manifest string match, no
    * sidecar opened. */
  private def plan(table: String, version: Option[Long], ranges: Seq[ColRange],
      partition: Option[String] = None): ScanPlan =
    planOn(table, snapshot(table, version.orElse(latestVersion(table)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in $table"))),
      ranges, partition)

  private def planOn(table: String, base: Base, ranges: Seq[ColRange],
      partition: Option[String]): ScanPlan = {
    val meta = base.meta
    requireSupported(table, base.version, meta)
    // sidecar stats are physically named; the caller's columns are logical
    val bounds = ranges.map(r => physName(meta, r.col) -> r.bound)
    val kept = base.files
      .filter(f => partition.forall(p => partitionValueOf(f).forall(_ == p)))
      .map(f => f -> (if (bounds.isEmpty) NoStats else fileStats(f)))
      .filter { case (_, st) =>
        bounds.forall { case (c, b) => st.ranges.get(c).forall(overlaps(_, b)) }
      }
    val onPartition = partition.map(p => col(meta.getOrElse("partcol",
      throw new IllegalStateException(s"$table records no partition column"))) === p)
    ScanPlan(base, kept,
      (onPartition ++ ranges.map(r => r.exact(col(r.col)))).reduceOption(_ && _))
  }

  /** Read a plan: its kept files, deletion vectors applied, the exact
    * filter re-applied. Nothing kept reads as an empty frame in the
    * committed schema — the same frame [[read]] returns for a zero-file
    * snapshot (a schema-less legacy snapshot takes the schema from its
    * files, reading no row). */
  private def scan(spark: SparkSession, p: ScanPlan): DataFrame = {
    val (sig, phys) = (p.base.meta.get("schema"), physNamesOf(p.base.meta))
    if (p.kept.isEmpty)
      readFiles(spark, if (sig.isEmpty) p.base.files else Nil, Nil, sig, phys).limit(0)
    else {
      val df = readFiles(spark, p.kept.map(_._1), p.base.dvs, sig, phys)
      p.filter.fold(df)(df.filter)
    }
  }

  /** DATA-SKIPPING read: the latest snapshot restricted to
    * `col ∈ [lo, hi]` and every further range in `more` (a conjunction —
    * a 2-D box after [[clusterBy]] opens box-area files), opening ONLY
    * the data files whose committed stats overlap every range — the
    * stats-based skipping of the production log formats. Literals may
    * be Long/Int, String (UTF-8 order; `lo == hi` is the GDPR-by-key
    * shape), `LocalDate` or `Instant`. The exact predicate re-applies
    * after the prune, so the result equals `read().filter(...)`
    * REGARDLESS of stats quality. */
  def readPruned[T](spark: SparkSession, table: String, col: String, lo: T, hi: T,
      more: ColRange*)(implicit l: RangeLit[T]): DataFrame =
    scan(spark, plan(table, None, ColRange(col, lo, hi) +: more))

  /** Files [[readPruned]] would open — its planning step exposed for
    * layout diagnostics and in-plan pins. */
  def prunedFileCount[T](table: String, col: String, lo: T, hi: T,
      more: ColRange*)(implicit l: RangeLit[T]): Int =
    plan(table, None, ColRange(col, lo, hi) +: more).kept.size

  /** Retries of the optimistic commit loop before a writer gives up. */
  private val CommitRetries = 20

  /** THE OPTIMISTIC COMMIT LOOP behind every writer but [[cloneTable]]
    * (the Delta commit loop). Each attempt reads the head once — one
    * [[Base]] — checks its reader features (a commit on a snapshot this
    * implementation cannot read would carry an unknown feature forward,
    * and a rewrite would restage rows it may have misread) and hands it
    * to the writer's `attempt`, which returns the entries and meta to
    * publish at base + 1, or None when there is nothing to commit (the
    * loop then returns the base version). A lost CAS re-reads the new
    * head and runs the attempt again: a payload staged once before the
    * loop (the snapshot-independent writes) republishes on the winner's
    * entries, a snapshot-dependent one is recomputed inside the
    * attempt. `creates`: the write may create the table at version 0;
    * every other writer needs a committed snapshot. */
  private def commit(table: String, creates: Boolean = false)(
      attempt: Base => Option[(Seq[String], Map[String, String])]): Long = {
    var tries = 0
    while (tries < CommitRetries) {
      val base = latestVersion(table) match {
        case Some(v) => snapshot(table, v)
        case None if creates => NoBase
        case None => throw new IllegalStateException(s"no committed snapshot in $table")
      }
      requireSupported(table, base.version, base.meta)
      attempt(base) match {
        case None => return base.version
        case Some((entries, meta)) =>
          if (publish(table, base, entries, meta)) return base.version + 1
      }
      tries += 1
    }
    throw new IllegalStateException(s"lost the commit race $CommitRetries times on $table")
  }

  /** Publish `files` as version `base.version + 1` — the CAS. True iff
    * this committer won the version. */
  private def publish(table: String, base: Base, files: Seq[String],
      meta: Map[String, String]): Boolean = {
    val v = base.version + 1
    val md = manifestDir(table)
    Files.createDirectories(md)
    val tmp = md.resolve(s".tmp-${UUID.randomUUID()}")
    // IN-COMMIT timestamp (#ts=millis): recorded in the manifest header
    // at publish, so AS OF never depends on file mtimes — mtimes break
    // under coarse-granularity filesystems, directory copies/restores,
    // and multi-host clock views of the same store (the reason Delta
    // moved to in-commit timestamps). versionAsOf reads this, falling
    // back to mtime only for pre-tracking manifests.
    val stamped0 =
      if (meta.contains("ts")) meta
      else meta + ("ts" -> System.currentTimeMillis().toString)
    // PROTOCOL FEATURE GATING (the Delta reader-features discipline):
    // every commit records the MONOTONE union of the features the table
    // has ever used (`#features=a,b`), derived here so no caller can
    // forget one — column mapping, deletion vectors, partition markers.
    // Readers check the set against what they implement and fail FAST
    // with the feature name instead of misreading (e.g. scanning
    // physically-named files under logical names). Monotone because a
    // feature's artifacts may persist in RETAINED older versions even
    // after the live snapshot stops using it.
    val prevFeatures: Set[String] = base.meta.get("features")
      .map(_.split(",").toSet.filter(_.nonEmpty)).getOrElse(Set.empty)
    val usedNow =
      (if (stamped0.contains("colmap")) Set("colmap") else Set.empty) ++
        (if (files.exists(_.startsWith(DvPrefix))) Set("dv") else Set.empty) ++
        (if (stamped0.contains("partcol")) Set("partition") else Set.empty)
    val allFeatures = prevFeatures ++ usedNow
    val stamped =
      if (allFeatures.isEmpty) stamped0
      else stamped0 + ("features" -> allFeatures.toSeq.sorted.mkString(","))
    // delta manifests (every version after 0): entries as +add/-remove
    // lines against the base — the commit writes O(changed files), never
    // the snapshot. Version 0 is a full list (no base to diff against).
    val body: Seq[String] =
      if (v == 0) files
      else {
        val prevSet = base.entries.toSet
        val curSet = files.toSet
        base.entries.filterNot(curSet).map("-" + _) ++
          files.filterNot(prevSet).map("+" + _)
      }
    val header = (stamped ++ (if (v == 0) Map.empty[String, String]
      else Map("base" -> (v - 1).toString)))
      .toSeq.sortBy(_._1).map { case (k, x) => s"#$k=$x" }
    Files.write(tmp, (header ++ body).mkString("\n").getBytes("UTF-8"))
    val target = manifestPath(table, v)
    try {
      Files.createLink(target, tmp) // atomic create-if-absent
      // post-publish, best-effort maintenance (crash-safe: readers never
      // DEPEND on either — the hint only seeds latestVersion's forward
      // probe, and a missing checkpoint just lengthens the delta walk):
      //  - the `_latest` hint makes latestVersion O(1);
      //  - every CheckpointEvery-th version materializes a full
      //    checkpoint so reconstruction stays bounded.
      try {
        val hint = md.resolve(s".hint-${UUID.randomUUID()}")
        Files.write(hint, v.toString.getBytes("UTF-8"))
        Files.move(hint, md.resolve("_latest"), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        if (v > 0 && v % CheckpointEvery == 0) {
          val cp = md.resolve(s".cp-${UUID.randomUUID()}")
          Files.write(cp, files.mkString("\n").getBytes("UTF-8"))
          Files.move(cp, checkpointPath(table, v), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
      } catch { case scala.util.control.NonFatal(_) => }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Compact schema signature recorded in every commit's manifest meta —
    * the basis of SCHEMA ENFORCEMENT (append must match; overwrite may
    * evolve), name:type in declared order since parquet unions require
    * positional consistency. */
  private def schemaSig(df: DataFrame): String =
    df.schema.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")

  /** The schema the table currently enforces, if any commit recorded one
    * (manifests from before schema tracking have none — enforcement
    * starts with the first tracked commit). */
  def currentSchema(table: String): Option[String] = headMeta(table).get("schema")

  /** The base's recorded signature, or — for a legacy snapshot that
    * records none — the signature its files read with. */
  private def baseSig(spark: SparkSession, table: String, base: Base): String =
    base.meta.getOrElse("schema", schemaSig(read(spark, table, Some(base.version))))

  /** SCHEMA ENFORCEMENT (the Delta write contract): a snapshot-extending
    * commit must bring exactly the table's recorded schema (`head`: the
    * latest snapshot's meta) — silent drift is the lake failure mode
    * mergeSchema reads paper over. Evolution is an explicit
    * [[overwrite]]. */
  private def enforceSchema(table: String, head: Map[String, String],
      df: DataFrame): Unit =
    head.get("schema").foreach { have =>
      val bring = schemaSig(df)
      require(have == bring,
        s"schema mismatch on $table: table enforces [$have], write brings " +
          s"[$bring] — evolve explicitly via overwrite")
    }

  /** WRITER EXPECTATIONS with QUARANTINE (the Delta-Live-Tables
    * `expect_or_quarantine` contract): every row is checked against the
    * ordered expectation list (name → SQL predicate); a row whose FIRST
    * non-TRUE predicate is `name` lands in the `quarantine` table
    * tagged `_violation = name`, rows passing every predicate append to
    * the main table. NULL predicate results count as violations
    * (constraint semantics: a row must prove itself TRUE). Each table's
    * commit is individually atomic; the pair is NOT one cross-table
    * transaction — the same per-table guarantee DLT gives, stated
    * honestly. Returns (main version, quarantine version), None where
    * nothing landed on that side.
    *
    * Scale (100 TB): the routing is one predicate column over the
    * ingest batch — no shuffle, no second scan of the table; bad rows
    * cost exactly their own bytes, and the quarantine table is itself
    * a ManifestTable (time-travelable, vacuumable, CDF-feedable — an
    * audit pipeline can consume its change feed). */
  def appendExpect(spark: SparkSession, table: String, df: DataFrame,
      expectations: Seq[(String, String)], quarantine: String)
      : (Option[Long], Option[Long]) = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not, when}
    require(expectations.nonEmpty, "appendExpect needs at least one expectation")
    val violation = expectations.foldRight(
      lit(null).cast("string")) { case ((name, pred), rest) =>
      when(not(coalesce(expr(pred), lit(false))), lit(name)).otherwise(rest)
    }
    val tagged = df.withColumn("_violation", violation)
    val bad = tagged.filter(col("_violation").isNotNull)
    val good = tagged.filter(col("_violation").isNull).drop("_violation")
    val qv = if (bad.isEmpty) None else Some(append(spark, quarantine, bad))
    val mv = if (good.isEmpty) None else Some(append(spark, table, good))
    (mv, qv)
  }

  /** Z-ORDER CLUSTERING rewrite (the OPTIMIZE ZORDER BY maintenance op
    * of the production lake formats): rewrite the snapshot with rows
    * ordered by the bit-interleaving of two columns, so every data
    * file's committed [min, max] stats are TIGHT in BOTH dimensions and
    * a two-range [[readPruned]] (a 2-D box) opens only the files
    * whose z-range the query box touches — linear row-order layouts are
    * tight in at most one dimension, so every 2-D box degenerates to a
    * near-full file scan on the other. Normalization to 10-bit cells
    * uses the GLOBAL min/max assembled from the per-file stats sidecars
    * (manifest metadata only — no data pass); the rewrite itself is one
    * range-partitioned shuffle on the z-value (Spark's range partitioner
    * samples boundaries, the same discipline Delta's OPTIMIZE uses).
    * Logically an identity (every row carried), so the change feed and
    * streaming source treat `cluster` commits exactly like `compact`.
    * Like compact, it is NOT snapshot-dependent-free: on a lost CAS the
    * rewrite recomputes from the fresh snapshot. */
  /** Order-preserving LONG fingerprint of a string: its first 7 UTF-8
    * bytes big-endian, zero-padded — `a ≤ b (UTF-8) ⇒ fp(a) ≤ fp(b)`,
    * so equi-width cells over fingerprints respect string order. Seven
    * bytes keep the value positive and inside conv()'s exact range;
    * strings sharing a 7-byte prefix land in one cell, which only
    * costs clustering RESOLUTION, never correctness. */
  private def strFp(s: String): Long = {
    val b = s.getBytes("UTF-8")
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L); i += 1 }
    v
  }

  /** [[strFp]] as a codegen'd Column: hex the UTF-8 bytes, take the
    * first 14 hex chars RIGHT-padded with '0' (padding, not
    * truncating, keeps short strings order-consistent with long
    * ones), parse base-16. */
  private def strFpCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, encode, hex, lit, rpad, substring}
    conv(rpad(substring(hex(encode(c, "UTF-8")), 1, 14), 14, "0"), 16, 10)
      .cast("long")
  }

  def clusterBy(spark: SparkSession, table: String, lc1: String, lc2: String,
      files: Int = 32): Long = {
    import org.apache.spark.sql.functions.{col, lit, shiftright, greatest, least}
    commit(table) { base =>
      val baseMeta = base.meta
      // stats, scan, and restaged files are all PHYSICAL (see compact)
      val (c1, c2) = (physName(baseMeta, lc1), physName(baseMeta, lc2))
      val fs = base.files
      // an AXIS is (long lo, long hi, long-valued Column): LONG ranges
      // map directly; a column whose stats are uniformly STRING ranges
      // maps through the order-preserving fingerprint (committed
      // sidecar bounds + row values through the same mapping), so
      // Z-ordering works over string dimensions — the layout a
      // string-keyed corpus (URL, source, uuid) actually wants. Mixed
      // or absent stats degrade to a constant axis (clustering quality
      // only; the rewrite stays an identity either way).
      def axis(c: String): (Long, Long, org.apache.spark.sql.Column, Boolean) = {
        val sts = fs.flatMap(f => statsTypedOf(f).get(c))
        val strs = sts.collect { case s: StrStat => s }
        if (sts.nonEmpty && strs.size == sts.size) {
          val lo = strs.map(_.lo).reduce(utf8Min)
          val hi = strs.map(_.hi).reduce(utf8Max)
          (strFp(lo), strFp(hi), strFpCol(col(c)), true)
        } else {
          val ls = sts.collect { case LongStat(a, b) => (a, b) }
          (ls.map(_._1).minOption.getOrElse(0L),
            ls.map(_._2).maxOption.getOrElse(0L), col(c), false)
        }
      }
      val (lo1, hi1, e1, s1) = axis(c1)
      val (lo2, hi2, e2, s2) = axis(c2)
      val cur = scanPhysical(spark, fs, base.dvs, baseMeta.get("schema"),
        physNamesOf(baseMeta))
      def cell(e: org.apache.spark.sql.Column, lo: Long, hi: Long,
          isStr: Boolean) = {
        val span = math.max(hi - lo, 1L)
        // equi-width 10-bit cell id; clamp for stats-less files' rows.
        // Fingerprint axes span up to 2^56, where the historic
        // multiply-then-divide form would overflow (x*1024 past 2^63)
        // — they divide by a precomputed step instead; the long form
        // stays bit-identical for existing integer layouts.
        if (isStr) {
          val step = math.max((span + 1 + 1023) / 1024, 1L)
          greatest(lit(0L), least(lit(1023L), (e - lit(lo)) / lit(step)))
        } else
          greatest(lit(0L), least(lit(1023L),
            (e - lit(lo)) * 1024L / lit(span + 1)))
      }
      val (b1, b2) = (cell(e1, lo1, hi1, s1), cell(e2, lo2, hi2, s2))
      val z = (0 until 10).map { i =>
        shiftright(b1, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
          shiftright(b2, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
      }.reduce(_ + _)
      val ordered = cur.repartitionByRange(files, z).sortWithinPartitions(z)
      Some((stage(ordered, table),
        Map("op" -> "cluster",
          "schema" -> baseMeta.getOrElse("schema", schemaSig(cur))) ++
          mapMeta(baseMeta)))
    }
  }

  /** METADATA-ONLY AGGREGATE — the lakehouse "answer it from the log"
    * fast path: COUNT(*) plus per-column MIN/MAX of the latest snapshot
    * computed from commit-time `.stats` sidecars and deletion-vector
    * sidecars, opening ZERO data files in the append-only case.
    * Exactness rules:
    *  - `n_rows` is ALWAYS exact: Σ sidecar row counts (`#rows=` header,
    *    footer fallback for legacy files) minus the DISTINCT tombstoned
    *    positions of surviving files — a position two DVs both recorded
    *    counts once; DV sidecars are delta-sized parquet and the only
    *    Spark scan in the common case.
    *  - `min_<c>` / `max_<c>` come from the sidecar ranges of CLEAN
    *    files (no DV targets them, stats present for the column, and —
    *    for STRING columns — endpoint-exact: a truncated [[StrStat]]
    *    bound contains the extremes without naming them). A DV'd,
    *    stats-less, or truncation-inexact file is POISONED for min/max
    *    — its extreme row might be tombstoned / unknown — so EXACTLY
    *    those files are re-read merge-on-read and folded in. At 100 TB
    *    an erasure poisons a user-sized file set while the lake's
    *    min/max still answer from metadata; NULLs need no care because
    *    parquet stats and SQL MIN/MAX both ignore them.
    * Returns one row: `n_rows`, then `min_<c>`, `max_<c>` per col. */
  def statsAggregate(spark: SparkSession, table: String,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit, count, min, max,
      least, greatest, regexp_replace}
    val b = plan(table, None, Nil).base
    val (meta, files, dvs, dvTargets) = (b.meta, b.files, b.dvs, b.dvTargets)
    val sig = meta.get("schema")
    val phys = physNamesOf(meta)
    // sidecar stats key on PHYSICAL names; the caller's cols are logical
    val pOf = cols.map(cc => cc -> physName(meta, cc)).toMap
    val statsBy = files.map(f => f -> statsTypedOf(f)).toMap
    // a stat is aggregate-trustworthy when its endpoints are the actual
    // file extremes: always for long ranges, only untruncated for
    // strings — and only when the whole COLUMN carries ONE stat type
    // across the snapshot (mixed types can only arise across a
    // type-changing rewrite; poisoning every file then falls back to
    // the exact Spark scan instead of folding incomparable ranges)
    val statTypeOf: Map[String, Option[Class[_]]] = cols.map { cc =>
      val ts = files.flatMap(f => statsBy(f).get(pOf(cc))).map(_.getClass).distinct
      cc -> (if (ts.size == 1) Some(ts.head) else None)
    }.toMap
    def exactStat(f: String, cc: String): Option[ColStat] =
      statsBy(f).get(pOf(cc))
        .filter(st => statTypeOf(cc).contains(st.getClass))
        .filter {
          case StrStat(_, _, exact) => exact
          case _ => true
        }
    val poisoned = files.filter(f => dvTargets.contains(f) ||
      cols.exists(cc => exactStat(f, cc).isEmpty))
    val clean = files.filterNot(poisoned.toSet)
    val baseCount = files.map(statsRowCount).sum
    val tomb: DataFrame =
      if (dvs.isEmpty || dvTargets.isEmpty)
        spark.range(1).select(lit(0L).as("tomb"))
      else {
        // DV sidecars record `_metadata.file_path` (a file: URI, with
        // URI escaping); the manifest records plain paths, possibly
        // RELATIVE for a relative table path. Both sides go through the
        // same canonicalizer: the manifest side is absolutized and
        // URI-encoded driver-side (so escaped characters match), and
        // both sides strip the scheme down to a single leading slash.
        val canon = files.map(f =>
          Paths.get(f).toAbsolutePath.normalize.toUri.toString
            .replaceFirst("^file:/+", "/"))
        val fdf = spark.createDataset(canon)(
          org.apache.spark.sql.Encoders.STRING).toDF("path")
        spark.read.schema(DvSchema).parquet(dvs: _*)
          .select(regexp_replace(c("path"), "^file:/+", "/").as("path"),
            c("pos")).distinct()
          .join(fdf, Seq("path"), "left_semi")
          .agg(count(lit(1)).cast("long").as("tomb"))
      }
    // fold the clean files' ranges per column, typed: long ranges fold
    // arithmetically, exact string ranges fold in UTF-8 order (the same
    // ordering Spark's string MIN/MAX uses); a column whose clean stats
    // MIX types folds to nothing (its files then all sit in `poisoned`
    // by the exactStat filter applied per column — mixing can only
    // happen across a type-changing rewrite, which is an epoch boundary
    // everywhere else in the format too)
    val cleanAgg: Map[String, (Option[Any], Option[Any])] = cols.map { cc =>
      val rs = clean.flatMap(f => exactStat(f, cc))
      val folded: (Option[Any], Option[Any]) =
        if (rs.isEmpty) (None, None)
        else if (rs.forall(_.isInstanceOf[LongStat])) {
          val ls = rs.collect { case LongStat(lo, hi) => (lo, hi) }
          (Some(ls.map(_._1).min), Some(ls.map(_._2).max))
        } else if (rs.forall(_.isInstanceOf[StrStat])) {
          val ss = rs.collect { case StrStat(lo, hi, _) => (lo, hi) }
          (Some(ss.map(_._1).reduce(utf8Min)), Some(ss.map(_._2).reduce(utf8Max)))
        } else (None, None)
      cc -> folded
    }.toMap
    val pExprs = cols.flatMap(cc =>
      Seq(min(c(cc)).as(s"pmin_$cc"), max(c(cc)).as(s"pmax_$cc")))
    // with nothing poisoned the null placeholders must still carry each
    // column's REAL type (from the recorded schema signature) — a
    // hardcoded long would make the later `.cast(dt)` nullify a string
    // column's folded sidecar min/max
    val declaredType: String => org.apache.spark.sql.types.DataType = {
      val bySig = sig.flatMap(sigToSchema)
        .map(sch => sch.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty[String, org.apache.spark.sql.types.DataType])
      cc => bySig.getOrElse(cc, org.apache.spark.sql.types.LongType)
    }
    val pAgg: DataFrame =
      if (cols.isEmpty) spark.range(1).toDF("__one") // count-only call
      else if (poisoned.isEmpty)
        spark.range(1).select(cols.flatMap(cc => Seq(
          lit(null).cast(declaredType(cc)).as(s"pmin_$cc"),
          lit(null).cast(declaredType(cc)).as(s"pmax_$cc"))): _*)
      else readFiles(spark, poisoned, dvs, sig, phys)
        .agg(pExprs.head, pExprs.tail: _*)
    val outCols = (lit(baseCount) - c("tomb")).as("n_rows") +:
      cols.flatMap { cc =>
        val (mn, mx) = cleanAgg(cc)
        // the sidecar-range literal takes the POISONED aggregate's own
        // output type, not a hardcoded one: a stats-less column type
        // (doubles, nested) poisons every file → full fallback scan,
        // and least/greatest must not mix a long null into, say, a
        // string MIN — the result stays the documented MIN/MAX for any
        // orderable type, just without metadata-only speedup. Folded
        // values are boxed Longs or Strings, both lit()-able.
        val dt = pAgg.schema(s"pmin_$cc").dataType
        def asLit(v: Option[Any]) = lit(v.map {
          case l: Long => Long.box(l)
          case other => other
        }.orNull)
        Seq(
          least(asLit(mn).cast(dt), c(s"pmin_$cc")).as(s"min_$cc"),
          greatest(asLit(mx).cast(dt), c(s"pmax_$cc")).as(s"max_$cc"))
      }
    tomb.crossJoin(pAgg).select(outCols: _*)
  }

  /** Reconcile a committer's schema signature against its commit
    * attempt's BASE signature (`current`) — validating once before
    * the loop is not enough, because losing the CAS to a concurrent
    * [[appendEvolve]] means the schema moved underneath us: republishing
    * the pre-evolution signature would make readers (who scan with the
    * latest committed signature explicitly) silently null out the
    * winner's evolved column from files that contain it. Rules:
    *  - equal signatures → publish as brought;
    *  - the table extended past us (brought is a strict prefix) →
    *    publish the table's WIDER signature: our files lack the new
    *    trailing columns and read-time null-fill makes them valid
    *    under it ([[readFiles]] reads parquet by name);
    *  - we extend the table (strict prefix the other way) → legal only
    *    for an evolving committer (`allowExtend`);
    *  - anything else (two concurrent evolutions adding DIFFERENT
    *    columns, a concurrent overwrite to an unrelated schema) is a
    *    true write conflict — no ordering of the two column sets is
    *    positionally consistent, so fail loudly instead of dropping a
    *    column, exactly like Delta's metadata-changed conflict. */
  private[graft] def reconcileSig(table: String, current: Option[String], bring: String,
      allowExtend: Boolean): String =
    current match {
      case None => bring
      case Some(have) if have == bring => bring
      case Some(have) =>
        val hf = splitTopLevel(have)
        val bf = splitTopLevel(bring)
        if (hf.size > bf.size && hf.take(bf.size) == bf) have
        else if (allowExtend && bf.size > hf.size && bf.take(hf.size) == hf) bring
        else throw new IllegalStateException(
          s"schema conflict on $table: a concurrent commit moved the table to " +
            s"[$have], irreconcilable with this write's [$bring] — retry the " +
            "write against the new schema")
    }

  /** The logical→physical staging map for a write on a snapshot with
    * `meta` (None outside mapping mode). Physical names never change, so
    * a map fetched before the commit loop stays valid across CAS
    * retries; a concurrent rename only moves LOGICAL names, which the
    * loop's signature reconciliation flags as a conflict. */
  private def stageMap(meta: Map[String, String]): Option[Seq[(String, String)]] =
    for {
      sig <- meta.get("schema")
      phys <- physNamesOf(meta)
    } yield splitTopLevel(sig).map(fieldName).zip(phys)

  /** RENAME COLUMN — a metadata-only commit (the Delta/Iceberg `ALTER
    * TABLE RENAME COLUMN` under column mapping): the snapshot's entries
    * carry VERBATIM (zero data files touched, zero bytes moved), the
    * schema signature re-labels the field, and the colmap pins the
    * field's stable id + unchanged PHYSICAL name so every old file
    * keeps reading. First use switches the table into mapping mode
    * (ids by position, physical = current logical names). The change
    * feed rides across a rename (ids/physical/types are unchanged —
    * [[sigPrefixCompatible]]); time travel before it reads the old
    * logical names, after it the new. */
  def renameColumn(table: String, from: String, to: String): Long = {
    require(to.nonEmpty && !to.contains(":") && !to.contains(",") &&
      !to.contains("|") && !to.startsWith("~"),
      s"'$to' is not a signature-safe column name")
    commit(table) { base =>
      val meta = base.meta
      val sig = meta.getOrElse("schema", throw new IllegalStateException(
        s"renameColumn requires a schema-tracked table: $table"))
      val fields = splitTopLevel(sig)
      val names = fields.map(fieldName)
      require(names.contains(from), s"no column '$from' in [$sig]")
      require(!names.contains(to), s"column '$to' already exists in [$sig]")
      val cm = parseColMap(meta).getOrElse(synthColMap(fields))
      val maxId = meta.get("maxcolid").map(_.toLong).getOrElse(cm.map(_._1).max)
      val newSig = fields.map(f =>
        if (fieldName(f) == from) s"$to:${fieldType(f)}" else f).mkString(",")
      Some((base.entries,
        Map("op" -> "rename", "schema" -> newSig,
          "colmap" -> colMapLine(cm), "maxcolid" -> maxId.toString) ++
          meta.view.filterKeys(_ == "lastBatchId").toMap))
    }
  }

  /** DROP COLUMN — a metadata-only commit: the field leaves the logical
    * schema and the colmap; its physical bytes stay in the old files,
    * invisible to every read through the table (and never resurrectable:
    * field ids are never reused, and post-mapping columns get
    * id-qualified physical names — see the colmap scaladoc). The change
    * feed does NOT ride across a drop (the id prefix breaks): it is an
    * epoch boundary, same as any narrowing evolution. */
  def dropColumn(table: String, name: String): Long =
    commit(table) { base =>
      val meta = base.meta
      val sig = meta.getOrElse("schema", throw new IllegalStateException(
        s"dropColumn requires a schema-tracked table: $table"))
      val fields = splitTopLevel(sig)
      val idx = fields.indexWhere(fieldName(_) == name)
      require(idx >= 0, s"no column '$name' in [$sig]")
      require(fields.size > 1, s"cannot drop the only column of $table")
      val cm = parseColMap(meta).getOrElse(synthColMap(fields))
      val maxId = meta.get("maxcolid").map(_.toLong).getOrElse(cm.map(_._1).max)
      val newSig = fields.patch(idx, Nil, 1).mkString(",")
      Some((base.entries,
        Map("op" -> "drop-column", "schema" -> newSig,
          "colmap" -> colMapLine(cm.patch(idx, Nil, 1)),
          "maxcolid" -> maxId.toString) ++
          meta.view.filterKeys(_ == "lastBatchId").toMap))
    }

  /** SHALLOW CLONE (the production formats' CLONE ... SHALLOW): create
    * `target` as a brand-new table whose v0 manifest references the
    * SOURCE snapshot's entries VERBATIM — zero data bytes copied or
    * read; the stats sidecars travel implicitly (path-adjacent). The
    * clone then evolves independently: its commits land in its own log,
    * its new files land in its own data/ directory, and the source
    * never observes them. Caveat faithful to Delta's: the clone
    * REFERENCES the source's files, so expiring + vacuuming the source
    * beyond the cloned version strands the clone — deep-copy via
    * `overwrite(target, read(source))` when lifetimes must decouple.
    * Cloning a clone works (entries are just paths). */
  def cloneTable(source: String, target: String,
      version: Option[Long] = None): Long = {
    val v = version.orElse(latestVersion(source)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in $source"))
    require(latestVersion(target).isEmpty, s"clone target $target already exists")
    val carried = snapshotMeta(source, v).view
      .filterKeys(k => k == "schema" || k == "colmap" || k == "maxcolid").toMap
    if (!publish(target, NoBase, snapshotEntries(source, v),
        Map("op" -> "clone", "cloneOf" -> s"$source@$v") ++ carried))
      throw new IllegalStateException(s"clone target $target already exists")
    0L
  }

  /** SMALL-FILE COMPACTION (OPTIMIZE's binpack half, without the
    * Z-order): rewrite ONLY the data files whose committed row count
    * (stats sidecar `#rows` — metadata-only planning) is below
    * `minRows`, coalescing them into `files` consolidated outputs;
    * every adequately-sized file and every DV line carries VERBATIM.
    * DV-TARGETED files are excluded from the pack — materializing
    * tombstones is [[compact]]'s job, and keeping the two maintenance
    * ops orthogonal keeps each proportional to its own affected set
    * (at 100 TB the small-file set is the streaming-ingest tail, not
    * the lake).
    *
    * PARTITION-AWARE: small files carrying a partition-value marker
    * pack WITHIN their partition and the packed outputs keep the
    * marker (staged through the same partitioned writer), so binpack
    * maintenance never degrades partition planning — the manifest
    * string match, [[readPartition]]'s pruning, and
    * [[overwritePartition]]'s exactness all survive compaction. A
    * marked partition packs only when it has ≥2 small files; unmarked
    * small files pack together as before. Logically an identity, so
    * the change feed and the streaming source skip it like
    * compact/cluster. Returns the base version when nothing
    * qualifies. */
  def compactSmall(spark: SparkSession, table: String, minRows: Long,
      files: Int = 1): Long =
    commit(table) { base =>
      val (baseMeta, fs) = (base.meta, base.files)
      val small = fs.filter(f => !base.dvTargets.contains(f) && statsRowCount(f) < minRows)
      val pcol = baseMeta.get("partcol")
      val (marked0, unmarked) =
        small.partition(f => pcol.isDefined && partitionValueOf(f).isDefined)
      // pack a marked partition only when it actually consolidates
      val marked = marked0.groupBy(f => partitionValueOf(f).get)
        .filter(_._2.size >= 2).values.flatten.toSeq
      val packUnmarked = if (unmarked.size >= 2) unmarked else Seq.empty
      val toPack = marked ++ packUnmarked
      val sig = baseMeta.get("schema")
      val phys = physNamesOf(baseMeta)
      val stagedMarked =
        if (marked.isEmpty) Seq.empty
        else stagePartitioned(
          scanPhysical(spark, marked, Seq.empty, sig, phys).coalesce(files),
          table, physName(baseMeta, pcol.get), toPhys = None)
      val stagedPlain =
        if (packUnmarked.isEmpty) Seq.empty
        else stage(scanPhysical(spark, packUnmarked, Seq.empty, sig, phys)
          .coalesce(files), table)
      Option.when(toPack.nonEmpty)((
        fs.filterNot(toPack.toSet) ++ stagedMarked ++ stagedPlain ++ base.dvLines,
        Map("op" -> "compact-small", "schema" -> baseSig(spark, table, base)) ++
          mapMeta(baseMeta)))
    }

  /** Commit history: (version, operation) for every still-readable
    * manifest, oldest first — the DESCRIBE HISTORY primitive (operations
    * recorded from the first tracked commit on; older manifests report
    * "unknown"). */
  def history(table: String): Seq[(Long, String)] = {
    val md = manifestDir(table)
    if (!Files.isDirectory(md)) return Seq.empty
    listDir(md)
      .filter(_.getFileName.toString.matches("v\\d{8}\\.manifest"))
      .map(versionOf).sorted
      .map(v => v -> snapshotMeta(table, v).getOrElse("op", "unknown"))
  }

  /** Append `df` as a new snapshot: stage, then optimistic commit loop —
    * on losing the CAS, re-read the NEW latest file list and retry so
    * the loser's rows land on top of the winner's (never instead of).
    * Enforces the recorded schema. Returns the committed version. */
  def append(spark: SparkSession, table: String, df: DataFrame): Long = {
    val head = headMeta(table)
    enforceSchema(table, head, df)
    val staged = stage(df, table, stageMap(head))
    val bring = schemaSig(df)
    // carry ENTRIES (data + deletion-vector lines), not just data files:
    // an append that dropped a DV line would resurrect rows. Reconcile
    // against the FRESH base every attempt: a lost CAS may mean a
    // concurrent appendEvolve widened the schema; the colmap/maxcolid
    // carry comes from the fresh base for the same reason
    commit(table, creates = true) { base =>
      Some((base.entries ++ staged,
        Map("op" -> "append",
          "schema" -> reconcileSig(table, base.meta.get("schema"), bring,
            allowExtend = false)) ++ mapMeta(base.meta)))
    }
  }

  /** ADD-COLUMN SCHEMA EVOLUTION on append — the production formats'
    * `mergeSchema` write, made explicit: `df` must bring the table's
    * current columns as a strict PREFIX plus one or more new columns
    * appended. Existing data files stand untouched (no rewrite — at
    * 100 TB this is the whole point of read-time evolution); from this
    * commit on, every reader uses the committed signature explicitly,
    * so pre-evolution files yield NULL for the new columns. Narrowing,
    * renames, or type changes stay an explicit [[overwrite]].
    * Note for change-feed consumers: evolution starts a new schema
    * epoch — [[readChanges]] ranges may not cross it (documented
    * there); restart the feed on the new schema. */
  def appendEvolve(spark: SparkSession, table: String, df: DataFrame): Long = {
    val bring = schemaSig(df)
    val baseMeta = headMeta(table)
    baseMeta.get("schema").foreach { have =>
      val hf = splitTopLevel(have)
      val bf = splitTopLevel(bring)
      require(bf.size > hf.size && bf.take(hf.size) == hf,
        s"appendEvolve must extend the schema: table has [$have], write brings [$bring]")
    }
    // under column mapping the NEW trailing columns get fresh ids and
    // id-qualified physical names (c<id>_<name>) — unique forever, so a
    // re-added name can never alias a dropped column's stored bytes
    val baseCm = parseColMap(baseMeta)
    val (evolveMeta, toPhys) = baseCm match {
      case None => (Map.empty[String, String], None)
      case Some(cm) =>
        val hf = splitTopLevel(baseMeta("schema"))
        val bf = splitTopLevel(bring)
        val maxId = baseMeta.get("maxcolid").map(_.toLong).getOrElse(cm.map(_._1).max)
        val fresh = bf.drop(hf.size).zipWithIndex.map { case (f, i) =>
          val id = maxId + 1 + i
          (id, s"c${id}_${fieldName(f)}")
        }
        val full = cm ++ fresh
        (Map("colmap" -> colMapLine(full),
            "maxcolid" -> (maxId + fresh.size).toString),
          Some(bf.map(fieldName).zip(full.map(_._2))))
    }
    val staged = stage(df, table, toPhys)
    commit(table, creates = true) { base =>
      // a lost CAS may mean another evolve landed first: publish the
      // wider of the two when one extends the other, conflict otherwise.
      // Under column mapping a concurrent schema-moving commit is a hard
      // conflict (the staged files' physical names were fixed against
      // the pre-loop colmap) — fail loudly rather than publish a colmap
      // that misdescribes the staged bytes.
      if (baseCm.map(colMapLine) != base.meta.get("colmap")) throw new IllegalStateException(
        s"column mapping of $table moved during appendEvolve — retry the write")
      Some((base.entries ++ staged,
        // lastBatchId carries (fresh per attempt — a stale carry could
        // mask a concurrently-committed higher batch id); colmap/
        // maxcolid come from evolveMeta, computed for THIS evolution
        base.meta.view.filterKeys(_ == "lastBatchId").toMap ++
          Map("op" -> "append-evolve",
            "schema" -> reconcileSig(table, base.meta.get("schema"), bring,
              allowExtend = true)) ++
          evolveMeta))
    }
  }

  /** Replace the table contents with `df` (the snapshot still leaves
    * every older version readable — overwrite rewrites the FILE LIST,
    * not history).
    *
    * Concurrency contract: overwrite is LAST-WRITER-WINS by definition
    * — `df` does not depend on the current snapshot, so retrying the
    * same file list after a lost CAS is the intended semantics (the
    * final state is one of the contending writers' full payloads,
    * never a torn mix). Snapshot-DEPENDENT writes must NOT route
    * through overwrite directly; `merge` recomputes from the fresh
    * snapshot on every CAS loss for exactly that reason. */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long = {
    val staged = stage(df, table)
    // the sink high-water mark survives an overwrite (it guards batch
    // REPLAY, which an overwrite of the data does not reset); colmap
    // does NOT carry — the overwrite's own files store df's names
    commit(table, creates = true) { base =>
      Some((staged, base.meta.view.filterKeys(_ == "lastBatchId").toMap ++
        Map("op" -> "overwrite", "schema" -> schemaSig(df))))
    }
  }

  /** PARTITION COLUMNS on the manifest format (the Hive-partitioned
    * layout, transactionalized): a partitioned table records its
    * partition column in commit meta (`partcol`) and each data file's
    * partition VALUE in the file NAME (`<uuid>-pv-<hex(value)>-part-N
    * .parquet` — hex keeps arbitrary values path-safe), so partition
    * planning is a pure string match over the manifest's entry list:
    * O(partitions present), ZERO file opens, before stats pruning even
    * starts. This is what makes `overwrite partition` (backfill),
    * per-partition reads, and partition-wise maintenance cheap at
    * 100 TB — the idioms Hive layouts get from directories, carried by
    * the manifest instead so they stay ACID. Files written by
    * non-partition-aware ops (compact/cluster rewrites pack across
    * partitions) carry no marker and are conservatively kept by every
    * partition-pruned plan; correctness never depends on markers
    * because the exact predicate re-applies after the prune. */
  private val PvMarker = "-pv-([0-9a-f]*)-".r

  private def hexEnc(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private def hexDec(h: String): String = {
    val bytes = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    new String(bytes, "UTF-8")
  }

  /** The partition value recorded in a data file's name, if any.
    * ("pv" is not hex and "part" is not hex, so the marker can never
    * collide with the UUID prefix or the part suffix.) */
  def partitionValueOf(path: String): Option[String] =
    PvMarker.findFirstMatchIn(Paths.get(path).getFileName.toString)
      .map(m => hexDec(m.group(1)))

  /** Hive-style %XX unescape for partition directory names (Spark
    * escapes `/`, `:` etc. when writing `__gpv=<value>` dirs). */
  private def unescapePartDir(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          s.substring(i + 1, i + 3).matches("[0-9A-Fa-f]{2}")) {
        sb += Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar
        i += 3
      } else { sb += c; i += 1 }
    }
    sb.result()
  }

  /** Stage `df` split by `pcol` into value-pure data files, each named
    * with its partition value marker. One DISTRIBUTED write
    * (`partitionBy` on a duplicated shadow column, so the data files
    * KEEP the partition column — reading a leaf file stays
    * self-contained, unlike Hive layouts that drop it); the move+stats
    * walk is per-file metadata work. Null partition values are
    * rejected (the reserved Hive null-dir would round-trip as a
    * string). */
  private def stagePartitioned(df: DataFrame, table: String, pcol: String,
      toPhys: Option[Seq[(String, String)]]): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val id = UUID.randomUUID().toString
    val staging = Paths.get(table, s"staging-$id")
    val mapped = toPhys match {
      case Some(m) => df.select(m.map { case (l, p) => col(l).as(p) }: _*)
      case None => df
    }
    val pPhys = toPhys.flatMap(_.collectFirst { case (l, p) if l == pcol => p })
      .getOrElse(pcol)
    mapped.withColumn("__gpv", col(pPhys).cast("string"))
      .write.partitionBy("__gpv").parquet(staging.toString)
    Files.createDirectories(dataDir(table))
    val moved = listDir(staging)
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("__gpv="))
      .flatMap { d =>
        val raw = unescapePartDir(d.getFileName.toString.stripPrefix("__gpv="))
        require(raw != "__HIVE_DEFAULT_PARTITION__",
          s"partition column $pcol may not be null")
        val tag = hexEnc(raw)
        listDir(d).filter(_.getFileName.toString.endsWith(".parquet"))
          .zipWithIndex.map { case (f, i) =>
            val dst = dataDir(table).resolve(s"$id-pv-$tag-part-$i.parquet")
            require(!dst.toString.contains("|") && !dst.toString.startsWith(DvPrefix) &&
              !dst.toString.startsWith("+") && !dst.toString.startsWith("-"),
              s"table path yields manifest-unsafe data path: $dst")
            Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
            dst.toString
          }
      }
    listDir(staging).foreach { d =>
      if (Files.isDirectory(d)) listDir(d).foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(d)
    }
    Files.deleteIfExists(staging)
    harvestAll(moved)
    moved
  }

  /** The table's recorded partition column, if it was ever written
    * through [[appendPartitioned]]. */
  def partitionColumn(table: String): Option[String] = headMeta(table).get("partcol")

  /** Append `df` PARTITIONED by `pcol`: data files land value-pure with
    * their partition value in the file name, and the commit records the
    * partition column — from then on partition-valued planning
    * ([[readPartition]], [[overwritePartition]]) is a manifest string
    * match. Same optimistic commit loop (and blind-append rebase
    * discipline — staged files republish verbatim on a lost CAS) as
    * [[append]]; schema and partition column are enforced against the
    * table's recorded ones. */
  def appendPartitioned(spark: SparkSession, table: String, df: DataFrame,
      pcol: String): Long = {
    require(df.columns.contains(pcol), s"no partition column '$pcol' in the write")
    val head = headMeta(table)
    head.get("partcol").foreach(have => require(have == pcol,
      s"$table is partitioned by '$have', write brings '$pcol'"))
    enforceSchema(table, head, df)
    val staged = stagePartitioned(df, table, pcol, stageMap(head))
    val bring = schemaSig(df)
    commit(table, creates = true) { base =>
      Some((base.entries ++ staged,
        mapMeta(base.meta) ++
          Map("op" -> "append", "partcol" -> pcol,
            "schema" -> reconcileSig(table, base.meta.get("schema"), bring,
              allowExtend = false))))
    }
  }

  /** Partition-pruned read: `WHERE pcol = value` planned as a string
    * match over the manifest entry list — zero file opens, O(entries)
    * planning. Unmarked files (cross-partition rewrite outputs) are
    * conservatively kept and the exact predicate re-applies, so the
    * result equals `read().filter(...)` for any layout history. */
  def readPartition(spark: SparkSession, table: String, value: String): DataFrame =
    scan(spark, plan(table, None, Nil, Some(value)))

  /** Files a partition-pruned read would open — for layout pins. */
  def partitionFileCount(table: String, value: String): Int =
    plan(table, None, Nil, Some(value)).kept.size

  /** TRANSACTIONAL PARTITION OVERWRITE (`INSERT OVERWRITE ...
    * PARTITION (pcol = value)` — the backfill primitive): replace
    * exactly the files carrying `value`'s marker with `df`, atomically;
    * every other partition's files carry VERBATIM (never read, never
    * rewritten — the manifest diff is the partition's own files). `df`
    * must be value-pure (checked with one pass over the INPUT batch,
    * which is partition-sized, not table-sized). Unmarked
    * (cross-partition rewrite) files in the snapshot make the
    * overwrite AMBIGUOUS — they may hold rows of this partition — so
    * the call refuses rather than silently double-counting; run it on
    * partition-disciplined tables (or recompute the layout first). A
    * lost CAS re-derives the entry list from the fresh snapshot and
    * republishes the SAME staged files — metadata-only retry, no
    * recompute (the staged payload is base-independent by
    * construction). */
  def overwritePartition(spark: SparkSession, table: String, value: String,
      df: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val head = headMeta(table)
    val pcol = head.getOrElse("partcol", throw new IllegalStateException(
      s"$table records no partition column"))
    enforceSchema(table, head, df)
    require(df.filter(col(pcol).isNull || col(pcol) =!= value).isEmpty,
      s"overwritePartition($value) requires every row to carry $pcol = $value")
    val staged = stagePartitioned(df, table, pcol, stageMap(head))
    commit(table) { base =>
      // unmarked files are conservatively in scope, as for readPartition
      val (replaced, carried) =
        base.files.partition(f => partitionValueOf(f).forall(_ == value))
      val ambiguous = replaced.filter(partitionValueOf(_).isEmpty)
      require(ambiguous.isEmpty,
        s"$table holds ${ambiguous.size} unmarked (cross-partition) files — " +
          "an exact partition overwrite is ambiguous; compact per-partition first")
      Some((carried ++ staged ++ base.dvLines,
        Map("op" -> "overwrite-partition", "partcol" -> pcol,
          "partvalue" -> value,
          "schema" -> base.meta.getOrElse("schema", schemaSig(df))) ++
          mapMeta(base.meta)))
    }
  }

  /** RESTORE — roll the table back to `toVersion` as a NEW commit (the
    * production lake formats' RESTORE): the new manifest carries the
    * restored version's entries VERBATIM (data files, deletion vectors,
    * stats sidecars — a metadata-only commit, zero data copied or read),
    * with the restored schema signature republished so readers and the
    * change feed see the correct epoch. History is preserved: the
    * rolled-back versions stay time-travelable, and [[readChanges]]
    * across the restore emits the true row-level delta — including rows
    * RESURRECTED by dropping a later erasure's deletion vectors (the
    * `dvGone` path in the per-commit diff). The target must lie within
    * RETAINED history (same contract as time travel: [[expireVersions]]
    * + [[vacuum]] bound what a restore can reach, and vacuum never
    * deletes files a retained manifest still references, so the
    * restored entries are guaranteed present). The commit is
    * base-independent (the restored state is a pure function of the
    * immutable target manifest), so a lost CAS just republishes at the
    * next version. */
  def restore(table: String, toVersion: Long): Long = {
    val entries = snapshotEntries(table, toVersion) // throws past retention
    val target = snapshotMeta(table, toVersion)
    commit(table) { base =>
      // carry the HIGHEST lastBatchId in play forward (the pre-restore
      // latest dominates the target's, batch ids being monotone over
      // versions): [[idempotentAppend]]'s committed() reads only the
      // latest version's meta, so a restore that dropped the marker
      // would let a replayed sink batch re-commit already-committed
      // rows right after the rollback. maxcolid, like lastBatchId, is a
      // HIGH-WATER mark: restoring to a pre-evolution version must not
      // roll it back, or a later evolve could reuse a field id and alias
      // a dropped column's stored bytes
      def highWater(k: String): Option[(String, String)] =
        Seq(base.meta, target).flatMap(_.get(k)).map(_.toLong).maxOption
          .map(k -> _.toString)
      Some((entries,
        Map("op" -> "restore", "restoreOf" -> toVersion.toString) ++
          target.get("schema").map("schema" -> _) ++
          target.get("colmap").map("colmap" -> _) ++
          highWater("maxcolid") ++ highWater("lastBatchId")))
    }
  }

  /** MERGE INTO (upsert) as a transactional snapshot: read the latest
    * snapshot, full-outer-merge `updates` on `key` (update rows win,
    * unmatched updates insert, unmatched targets survive), commit the
    * merged state as an OVERWRITE snapshot. Same dataflow as the
    * declared q_merge_upsert, now landing atomically — readers see the
    * whole merge or none of it, and the pre-merge snapshot stays
    * time-travelable. Both inputs must share one schema.
    *
    * Conflict handling (the Delta commit-loop discipline, not just its
    * publish step): the merged state is a function of the base
    * snapshot, so on LOSING the CAS this committer's staged result is
    * stale — it would silently drop the winner's rows if republished.
    * The loop therefore pins the base version it merged against,
    * publishes at base+1 only, and on a CAS loss RE-READS the new
    * latest snapshot and RECOMPUTES the merge before retrying. A lost
    * attempt's staged files become orphans for vacuum, the same
    * garbage class as a crashed writer's. */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      key: String): Long = {
    import org.apache.spark.sql.functions.col
    commit(table) { base =>
      val current = scan(spark, planOn(table, base, Nil, None))
      val cols = current.columns
      val u = updates.select(cols.map(col): _*)
      val merged = current.as("t")
        .join(u.as("u"), current(key) === u(key), "full_outer")
        .select(cols.map { c =>
          org.apache.spark.sql.functions
            .coalesce(col(s"u.$c"), col(s"t.$c")).as(c)
        }: _*)
      // the merge KEY rides in the commit meta so the change feed can
      // pair this commit's delete+insert rows back into
      // update_preimage/update_postimage (Delta-parity CDF updates)
      Some((stage(merged, table, stageMap(base.meta)),
        Map("op" -> "merge", "mergeKey" -> key,
          "schema" -> schemaSig(merged)) ++ mapMeta(base.meta)))
    }
  }

  /** Transactional DELETE WHERE `column ∈ [lo, hi]` with FILE-LEVEL
    * PRUNING and a per-file COPY-ON-WRITE / MERGE-ON-READ choice — the
    * GDPR-erasure / retention-purge primitive of the production log
    * formats. The literals type the predicate as in [[readPruned]]:
    * Long/Int, String (UTF-8 order; `lo == hi` for the by-email/uuid
    * equality shape), `LocalDate` or `Instant` (the retention shapes).
    * Data files whose committed stats (sidecar or footer,
    * [[statsTypedOf]]) cannot contain a matching row are carried into
    * the new manifest UNTOUCHED — never read, never rewritten. Each
    * overlapping file is then, from its stats alone (no data read):
    *  - DROPPED from the manifest when its stats CONTAIN the range
    *    (every value provably dies — the retention-purge economics where
    *    expiring a whole old file is a manifest edit) and its null count
    *    proves no null row, which the predicate never matches, would
    *    survive; a truncated string bound never proves containment;
    *  - for a partly overlapped long range (dates and timestamps on their
    *    epoch encodings), REWRITTEN with the predicate's complement when
    *    the range covers ≥ `dvBelowOverlap` of the file's stats span
    *    (most of the file dies anyway — a DV that tombstones half a file
    *    just moves the rewrite to every reader), else tombstoned by a
    *    DELETION VECTOR: a parquet sidecar of the dying rows' (file path,
    *    row position) pairs, applied as an anti-join by every reader
    *    ([[read]]/[[readPruned]]) until [[compact]] materializes it
    *    away. A grazed file is the scattered-GDPR-key case that made
    *    copy-on-write rewrite the lake;
    *  - for a partly overlapped string range, always a DV: a string key
    *    has no arithmetic span, and string-keyed erasure is precisely the
    *    scattered-key case DVs exist for;
    *  - rewritten when it has no stats for `column` (or stats of another
    *    type), unless its footer proves it empty (empty files never get
    *    min/max stats and provably hold no match — rewriting one would
    *    also trip callers asserting "DV deletes rewrite nothing").
    * The result is exact regardless of stats coverage.
    *
    * Snapshot-dependent commit (the merge discipline): the kept+staged
    * file list is a function of the base snapshot, so the loop pins the
    * base version, publishes at base+1 only, and recomputes from the
    * NEW snapshot on a CAS loss. Older versions stay readable — an
    * erasure that must also purge history follows with [[vacuum]] after
    * dropping the old manifests (documented production two-step).
    * Returns the committed version (the base version when no file can
    * contain a match — a provable no-op commits nothing).
    *
    * CONFLICT-AWARE RETRY (the Delta commit-rebase discipline, not just
    * its recompute fallback): losing the CAS does not always redo the
    * work. The loser classifies the winner's commit against its own
    * read/write set; when the two provably don't conflict —
    *  - the winner REMOVED none of the files this delete rewrites or
    *    tombstones (a winner rewriting them means our staged complement
    *    / positional tombstones describe dead files),
    *  - every file the winner ADDED is stats-disjoint from the
    *    predicate (a blind append of non-matching data — the common
    *    many-writers case; a winner file that MIGHT contain a match
    *    must be re-scanned),
    *  - the winner added no deletion vectors targeting our rewrite set
    *    (our complement was computed under the old DV set and would
    *    resurrect the winner's tombstones),
    *  - and the schema signature / column mapping did not move —
    * the loser RE-PUBLISHES its already-staged files onto the winner's
    * entry list: a metadata-only retry, no scan, no re-stage. At 100 TB
    * with many streaming writers this is what keeps contention from
    * turning large deletes into recompute livelock. A genuine conflict
    * falls back to the full recompute (the staged files of the lost
    * attempt become vacuum-able orphans). */
  def deleteWhere[T](spark: SparkSession, table: String, logicalColumn: String,
      lo: T, hi: T, dvBelowOverlap: Double = 0.5)(
      implicit l: RangeLit[T]): Long = {
    val range = ColRange(logicalColumn, lo, hi)
    var work: Option[DeleteWork] = None
    commit(table) { base =>
      val (baseMeta, files, oldDvEntries) = (base.meta, base.files, base.dvLines)
      // stats sidecars and the files themselves store PHYSICAL names;
      // the caller's predicate column is LOGICAL
      val column = physName(baseMeta, logicalColumn)
      val keptStats = planOn(table, base, Seq(range), None).kept.toMap
      // the file-level decision, shared by first compute and rebase
      // check; a file the plan pruned cannot hold a match
      def classifyFile(f: String): Int = keptStats.get(f) match {
        case None => FileKeep
        case Some(fs) => fs.ranges.get(column) match {
          case Some(st) => classify(st, range.bound, dvBelowOverlap) match {
            // unknown or nonzero null count demotes a drop to the
            // rewrite, which keeps exactly the surviving rows
            case FileDrop if !fs.nullCount(f, column).contains(0L) => FileRewrite
            case k => k
          }
          case None => if (footerRowCount(f) > 0) FileRewrite else FileKeep
        }
      }

      val attemptWork: Option[DeleteWork] = work match {
        case Some(w) =>
          // lost the CAS with staged work in hand: rebase if disjoint
          val removedSince = w.files.filterNot(files.toSet)
          val addedSince = files.filterNot(w.files.toSet)
          val newDvLines = oldDvEntries.filterNot(w.oldDvEntries.toSet)
          val newDvTargets = newDvLines.map(parseDvLine).flatMap {
            case (_, ts) if ts.nonEmpty => ts
            case _ => files // legacy target-less DV: could hit anything
          }.toSet
          val disjoint =
            baseMeta.get("schema") == w.baseSig &&
            baseMeta.get("colmap") == w.baseColMap &&
            // a winner removing a planned-drop file is harmless (the
            // drop is already done); removing a rewrite/DV target
            // invalidates the staged complement/tombstones
            removedSince.forall(f =>
              !w.rewriteF.contains(f) && !w.dvF.contains(f)) &&
            addedSince.forall(f => classifyFile(f) == FileKeep) &&
            w.rewriteF.forall(f => !newDvTargets.contains(f))
          if (disjoint) Some(w.copy(files = files, oldDvEntries = oldDvEntries))
          else None // genuine conflict: recompute below
        case None => None
      }

      // None: no file can contain a match — a provable no-op
      val thisWork: Option[DeleteWork] = attemptWork.orElse {
        val classified: Seq[(String, Int)] = files.map(f => f -> classifyFile(f))
        val rewriteF = classified.collect { case (f, FileRewrite) => f }
        val dvF = classified.collect { case (f, FileDv) => f }
        val dropF = classified.collect { case (f, FileDrop) => f }
        Option.when(rewriteF.nonEmpty || dvF.nonEmpty || dropF.nonEmpty) {
          // rewrite path applies EXISTING DVs first — republishing a
          // tombstoned row would resurrect it. The scan, filter, and
          // staged files all stay in PHYSICAL names: rewrites must keep
          // the files physically consistent across logical renames.
          // NULL-SAFE survivor filter: a null predicate key makes the
          // predicate NULL, and `filter(!NULL)` drops the row — which would
          // silently erase null-keyed rows from every rewritten file.
          // Deletes keep exactly the rows where the predicate is NOT
          // TRUE (SQL DELETE semantics), so nulls coalesce to survive.
          val stagedData =
            if (rewriteF.isEmpty) Seq.empty
            else stage(scanPhysical(spark, rewriteF, base.dvs,
                baseMeta.get("schema"), physNamesOf(baseMeta))
              .filter(!org.apache.spark.sql.functions.coalesce(
                range.exact(col(column)), lit(false))), table)
          // DV path records (path, pos) of the dying rows from the scan's
          // own `_metadata` — tombstone-sized output, no data file
          // touched. Re-tombstoning a position an older DV already covers
          // is harmless (anti-join semantics), so the raw scan suffices —
          // under the snapshot's physical schema, which spares the
          // inference job (only a schema-less legacy snapshot infers).
          val stagedDv =
            if (dvF.isEmpty) Seq.empty
            else stage(scanPhysical(spark, dvF, Nil,
                baseMeta.get("schema"), physNamesOf(baseMeta))
              .filter(range.exact(col(column)))
              .select(col("_metadata.file_path").as("path"),
                col("_metadata.row_index").as("pos")), table)
          DeleteWork(baseMeta.get("schema"), baseMeta.get("colmap"),
            files, oldDvEntries, rewriteF, dvF, dropF, stagedData, stagedDv)
        }
      }
      work = thisWork

      // old DV lines carry VERBATIM (keeping their recorded targets);
      // each new sidecar records the files it tombstones so compaction
      // can stay proportional to the affected files. On a rebase the
      // BASE's current entry list (the winner's) is the carry set.
      // Tombstoned files carry into the new manifest VERBATIM — the DV
      // subtracts their dying rows reader-side; only rewritten files
      // leave the file list
      thisWork.map { w =>
        val keep = files.filterNot(f =>
          w.rewriteF.contains(f) || w.dvF.contains(f) || w.dropF.contains(f))
        (keep ++ w.dvF.filter(files.toSet) ++ w.stagedData ++ oldDvEntries ++
          w.stagedDv.map(dvLine(_, w.dvF)),
          Map("op" -> "delete", "schema" -> baseSig(spark, table, base),
            "dvAdded" -> w.stagedDv.size.toString) ++ mapMeta(baseMeta))
      }
    }
  }

  private val FileKeep = 0
  private val FileRewrite = 1
  private val FileDv = 2
  private val FileDrop = 3 // whole file provably dies: manifest-only removal

  /** [[deleteWhere]]'s per-file decision from one committed stat: keep,
    * drop (stats contain the range), rewrite or DV — see there. */
  private def classify(st: ColStat, bound: ColStat, dvBelowOverlap: Double): Int =
    if (!overlaps(st, bound)) FileKeep
    else (st, bound) match {
      case (LongStat(mn, mx), LongStat(lo, hi)) =>
        if (lo <= mn && mx <= hi) FileDrop
        else {
          val span = math.max(mx - mn + 1, 1L).toDouble
          val ov = math.max(math.min(hi, mx) - math.max(lo, mn) + 1, 0L).toDouble
          if (ov / span >= dvBelowOverlap) FileRewrite else FileDv
        }
      // a truncated bound contains every value without being attained,
      // so containment under it is unprovable
      case (StrStat(mn, mx, exact), StrStat(lo, hi, _)) =>
        if (exact && utf8Lte(lo, mn) && utf8Lte(mx, hi)) FileDrop else FileDv
      case _ => FileRewrite // typed-mismatch stats: conservative
    }

  /** A delete attempt's computed-and-staged work, kept across CAS
    * losses so a provably-disjoint winner lets the loser REBASE (
    * re-publish the same staged files on the new base) instead of
    * recomputing — see [[deleteWhere]]. */
  private final case class DeleteWork(baseSig: Option[String],
      baseColMap: Option[String], files: Seq[String],
      oldDvEntries: Seq[String], rewriteF: Seq[String], dvF: Seq[String],
      dropF: Seq[String], stagedData: Seq[String], stagedDv: Seq[String])

  /** INCREMENTAL COMPACTION: materialize every deletion vector away by
    * rewriting ONLY the data files the DVs tombstone (recorded on each
    * DV's manifest line at delete time) with their tombstones applied;
    * every untouched file carries into the DV-free snapshot VERBATIM —
    * the maintenance pass that returns merge-on-read read amplification
    * to zero at a cost proportional to the AFFECTED files, not the
    * table (at 100 TB the difference between rewriting one user's file
    * neighborhood and rewriting the lake — the same pruning discipline
    * as [[deleteWhere]], applied to maintenance). A DV line predating
    * target tracking (no recorded targets) conservatively rewrites the
    * whole snapshot. Targets that later left the file list (rewritten
    * by a subsequent COW delete) are skipped — their tombstones are
    * already materialized. Older versions keep their DV lines and stay
    * exactly time-travelable. No-op (returns the base version) when the
    * snapshot carries no DVs. */
  def compact(spark: SparkSession, table: String): Long =
    commit(table) { base =>
      val files = base.files
      val affected = files.filter(base.dvTargets)
      val untouched = files.filterNot(affected.toSet)
      // the committed signature rides along: after an appendEvolve the
      // affected set can mix schema epochs, and an unsigned scan would
      // take one sample file's schema and silently drop evolved columns
      // from the rewrite. The rewrite scans AND stages in PHYSICAL
      // names — a compaction must not bake the current logical labels
      // into the files (the next rename would otherwise need a rewrite).
      Option.when(base.dvLines.nonEmpty) {
        val staged =
          if (affected.isEmpty) Seq.empty
          else stage(scanPhysical(spark, affected, base.dvs,
            base.meta.get("schema"), physNamesOf(base.meta)), table)
        (untouched ++ staged, Map("op" -> "compact",
          "schema" -> baseSig(spark, table, base)) ++ mapMeta(base.meta))
      }
    }

  /** TIMESTAMP time travel (`AS OF <timestamp>`): the version whose
    * commit time is the latest at or before `asOfMillis`. Commit time
    * is the IN-COMMIT `#ts` header stamped by [[publish]] — file mtimes
    * are unreliable (coarse 1 s granularity on some filesystems,
    * rewritten by directory copies/restores, skewed across writer
    * hosts), which is exactly why the production formats record the
    * timestamp inside the commit; mtime remains only as the fallback
    * for pre-tracking manifests. Observed times are forced MONOTONE in
    * version (running max) so a skewed writer's clock can never make
    * AS OF pick a version that contradicts the CAS order; ties resolve
    * to the HIGHEST version at that instant, matching "state as of
    * that instant". Throws when the timestamp predates the earliest
    * RETAINED commit ([[expireVersions]] ends timestamp travel exactly
    * as it ends version travel). */
  def versionAsOf(table: String, asOfMillis: Long): Long = {
    val md = manifestDir(table)
    if (!Files.isDirectory(md))
      throw new IllegalStateException(s"no committed snapshot in $table")
    val manifests = listDir(md)
      .filter(_.getFileName.toString.matches("v\\d{8}\\.manifest"))
      .sortBy(versionOf)
    var runMax = Long.MinValue
    val at = manifests.flatMap { m =>
      val v = versionOf(m)
      val t = snapshotMeta(table, v).get("ts").map(_.toLong)
        .getOrElse(Files.getLastModifiedTime(m).toMillis)
      runMax = math.max(runMax, t)
      if (runMax <= asOfMillis) Some(v) else None
    }
    if (at.isEmpty) throw new IllegalArgumentException(
      s"timestamp $asOfMillis predates the earliest retained commit of $table")
    at.max
  }

  /** Read the snapshot as of a wall-clock instant — see [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, table: String, asOfMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(table, asOfMillis)))

  /** CHANGE DATA FEED — the row-level changelog the commit log already
    * implies, materialized: every row inserted or deleted by the commits
    * in `(fromV, toV]`, tagged `_change_type` ("insert" | "delete" |
    * "update_preimage" | "update_postimage") and `_commit_version`.
    * MERGE commits record their key in the commit meta, so the feed
    * pairs their delete+insert delta back into
    * update_preimage/update_postimage by that key — Delta CDF's update
    * semantics, which SCD2 maintenance and audit-diff consumers need.
    * Commits with no recorded key (plain rewrites, overwrites) still
    * surface updates as delete+insert pairs at the same version, like
    * a production CDF reading a non-CDC-writing table. This is the
    * missing hop that lets each
    * warehouse layer (ODS→DWD→DWS) incrementally consume the PREVIOUS
    * layer's own commit log instead of an external stream — see
    * [[ChangeFeed]] for the checkpointed streaming wrapper.
    *
    * Derivation is per-commit, proportional to CHANGED FILES, never the
    * snapshot: for each version step the candidate-arriving rows are the
    * files ADDED by that commit (current DVs applied) and the
    * candidate-leaving rows are the files REMOVED (prior DVs applied)
    * plus rows newly tombstoned by that commit's DELETION VECTORS
    * (semi-join of the DV's recorded target files on the scan's own
    * `_metadata` (path, pos), minus positions older DVs already
    * covered). Rows a rewrite merely CARRIES (copy-on-write survivors)
    * appear on both sides and cancel via multiset `exceptAll`, so the
    * emitted changelog is the true row-level delta — at 100 TB a
    * DV-erasure's feed is tombstone-sized while the lake stands still.
    * `compact` commits are skipped by definition (physical reorg,
    * logical identity — the DV materialization proof is [[compact]]'s
    * own contract). `fromV = -1` feeds from table creation. After the
    * end version's header (feature check, final schema), one forward
    * walk ([[commits]]) reads each version's manifest once.
    *
    * Constraints: the range must lie within RETAINED history (reading
    * past [[expireVersions]] throws on the missing manifest — the same
    * contract as Delta's CDF retention). ADD-COLUMN evolution
    * ([[appendEvolve]]) does NOT break the feed: the range's schemas
    * must form a PREFIX CHAIN toward the end-version signature, and the
    * whole changelog is emitted in the FINAL schema with pre-evolution
    * rows null-filled — Delta CDF's behavior. Any OTHER in-range schema
    * change (overwrite evolution: narrowing, renames, type changes) is
    * rejected; consume up to it, then restart the feed. */
  def readChanges(spark: SparkSession, table: String, fromV: Long, toV: Long): DataFrame = {
    val latest = latestVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in $table"))
    require(-1L <= fromV && fromV <= toV && toV <= latest,
      s"invalid change range ($fromV, $toV] for $table at version $latest")
    val endMeta = snapshotMeta(table, toV)
    requireSupported(table, toV, endMeta)
    val (sig, phys) = (endMeta.get("schema"), physNamesOf(endMeta))
    // compatibility is FIELD-ID-aware ([[sigPrefixCompatible]]): renames
    // ride through (ids/physical/types unchanged — the changelog emits
    // in the END version's logical names, Delta CDF's column-mapping
    // behavior); adds null-fill; drops and type changes bound the epoch
    def compatible(meta: Map[String, String]): Unit =
      require(sigPrefixCompatible(meta, endMeta),
        s"schema changed non-additively (or a column was dropped) inside the " +
          s"change range ($fromV, $toV] of $table — consume each schema epoch " +
          "separately")
    val steps = commits(table, fromV, toV).flatMap { c =>
      if (c.version == fromV + 1) compatible(c.prev.meta)
      compatible(c.meta)
      changesAt(spark, table, c, sig, phys)
    }.toVector
    changelog(spark, table, steps, snapshot(table, toV))
  }

  /** One commit's changelog — [[ChangeFeed]]'s per-version batch, from
    * the [[Commit]] it holds; the caller rules out an epoch boundary. */
  private[sources] def changesOf(spark: SparkSession, table: String,
      c: Commit): DataFrame = {
    requireSupported(table, c.version, c.meta)
    changelog(spark, table,
      changesAt(spark, table, c, c.meta.get("schema"), physNamesOf(c.meta)).toSeq, c.cur)
  }

  /** The union of per-commit `steps`, or — when every commit was
    * change-free — an empty changelog in the schema of `end`, the
    * range's last snapshot. */
  private def changelog(spark: SparkSession, table: String, steps: Seq[DataFrame],
      end: => Base): DataFrame = {
    import org.apache.spark.sql.functions.lit
    if (steps.nonEmpty) steps.reduce(_ union _)
    else readBase(spark, table, end).limit(0)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0L))
      .limit(0)
  }

  /** One commit's row-level changes (None when provably change-free):
    * the per-version step of [[readChanges]]. */
  private def changesAt(spark: SparkSession, table: String, c: Commit,
      sig: Option[String], phys: Option[Seq[String]]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val (v, meta) = (c.version, c.meta)
    def tag(df: DataFrame, t: String): DataFrame =
      df.withColumn("_change_type", lit(t)).withColumn("_commit_version", lit(v))
    // reorganizing commits are change-free by contract; rename and
    // drop-column are metadata-only (entries verbatim) and fall out as
    // change-free below (no added/removed files, no DV delta)
    if (c.reorganizes) return None
    // every step reads under the RANGE-FINAL signature (prefix-chain
    // checked by the caller), so pre-evolution steps null-fill the
    // evolved columns and the per-version unions stay type-aligned
    val (prevFiles, prevDvInfo) = (c.prev.files, c.prev.dvInfo)
    val (curFiles, curDvInfo) = (c.cur.files, c.cur.dvInfo)
    val (added, removed) = (c.added, c.removed)
    val prevDvs = prevDvInfo.map(_._1)
    val curDvs = curDvInfo.map(_._1)
    val dvNew = curDvInfo.filterNot(d => prevDvs.contains(d._1))
    val arriving: Option[DataFrame] =
      if (added.isEmpty) None
      else Some(readFiles(spark, added, curDvs, sig, phys))
    // rows whose positions a DV set newly covers (tombstoned) or stops
    // covering (resurrected — a [[restore]] to a pre-erasure version is
    // the producer) in files that SURVIVE into v. One shape, two
    // directions: read the DV set's recorded target files, key the scan
    // by its own `_metadata` (path, pos), semi-join the set's positions,
    // then anti-join the positions the CANCELLING side still covers (an
    // older DV for tombstoning — re-tombstoning is a storage no-op; a
    // surviving DV for resurrection — still-covered rows stay dead).
    // Legacy DV lines with NO recorded targets fall back to scanning
    // every surviving file — the same conservative treatment compact()
    // gives them; the position semi-join keeps the result exact.
    //
    // The target universe is files present in BOTH snapshots, not just
    // the current one: a file ADDED at v already contributes ALL its
    // live rows through `arriving` (with v's DVs applied), so a DV
    // delta touching an added file would double-emit — concretely, a
    // restore that drops a stale DV line whose target file also
    // re-enters the file list would emit that DV's rows twice as
    // inserts (once via arriving's full read, once via resurrected),
    // and exceptAll against leaving cancels only one copy. Symmetric
    // for the tombstoned direction: a commit that adds a file together
    // with a DV on it must not emit deletes for rows that never
    // existed in the prior snapshot.
    val survivors = curFiles.filter(prevFiles.toSet)
    def dvDelta(dvSet: Seq[(String, Seq[String])],
        cancel: Seq[String]): Option[DataFrame] = {
      if (dvSet.isEmpty) return None
      val recorded = dvSet.filter(_._2.nonEmpty).flatMap(_._2)
      val targets =
        (recorded ++ (if (dvSet.exists(_._2.isEmpty)) survivors else Seq.empty))
          .distinct.filter(survivors.toSet)
      if (targets.isEmpty) return None
      // scan under PHYSICAL names (what the files store), emit under the
      // range-final LOGICAL names — same discipline as readFiles
      val logical = sig.flatMap(sigToSchema)
      val scanSchema = logical.map(physSchema(_, phys))
      val base = scanSchema match {
        case Some(sch) => spark.read.schema(sch).parquet(targets: _*)
        case None => spark.read.parquet(targets: _*)
      }
      val cols = base.columns.toSeq
      val keyed = base.select(col("*"),
        col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__pos"))
      val hit = keyed.join(dvPairs(spark, dvSet.map(_._1)), Seq("__fp", "__pos"), "left_semi")
      val fresh =
        if (cancel.isEmpty) hit
        else hit.join(dvPairs(spark, cancel), Seq("__fp", "__pos"), "left_anti")
      Some((logical, phys) match {
        case (Some(sch), Some(p)) => relabel(fresh, sch, p)
        case _ => fresh.select(cols.map(col): _*)
      })
    }
    val tombstoned: Option[DataFrame] = dvDelta(dvNew, prevDvs)
    val dvGone = prevDvInfo.filterNot(d => curDvs.contains(d._1))
    val resurrected: Option[DataFrame] = dvDelta(dvGone, curDvs)
    val arrivingAll: Option[DataFrame] = (arriving, resurrected) match {
      case (Some(a), Some(b)) => Some(a union b)
      case (a, b) => a.orElse(b)
    }
    val leaving: Option[DataFrame] = {
      val removedRows =
        if (removed.isEmpty) None
        else Some(readFiles(spark, removed, prevDvs, sig, phys))
      (removedRows, tombstoned) match {
        case (Some(a), Some(b)) => Some(a union b)
        case (a, b) => a.orElse(b)
      }
    }
    (arrivingAll, leaving) match {
      case (None, None) => None
      case (Some(n), None) => Some(tag(n, "insert"))
      case (None, Some(o)) => Some(tag(o, "delete"))
      case (Some(n), Some(o)) =>
        // copy-on-write SURVIVORS appear on both sides — multiset
        // exceptAll cancels them, leaving the true row-level delta
        lazy val ins = n.exceptAll(o)
        lazy val del = o.exceptAll(n)
        meta.get("mergeKey").map { k0 =>
          // the key was recorded in the MERGE version's logical name; a
          // later rename moves the logical label, but positions are
          // id-stable across a compatible range (prefix rule), so the
          // key resolves positionally into the range-final schema
          (for {
            vSig <- meta.get("schema")
            fSig <- sig
            idx = splitTopLevel(vSig)
              .indexWhere(fieldName(_) == k0)
            if idx >= 0
            f = splitTopLevel(fSig)
            if idx < f.size
          } yield fieldName(f(idx))).getOrElse(k0)
        } match {
          case Some(k) =>
            // MERGE commits recorded their key: a key present on BOTH
            // sides of the delta is an update — its old state emits as
            // update_preimage and its new state as update_postimage
            // (Delta CDF's change types), so SCD2 maintenance, audit
            // diffs, and Debezium-style sinks get paired updates
            // instead of reconstructing them. The pairing join is
            // delta-sized on both sides (never the snapshot); an
            // update that left the row byte-identical cancelled above
            // and correctly emits nothing.
            //
            // One fused plan instead of exceptAll×2 + intersect + four
            // semi/anti joins (guide §2.4 — the historic shape paid
            // 6-8 exchanges where one suffices). Spark itself rewrites
            // EXCEPT ALL to union(+1/−1) → sum per row-value → filter
            // → replicate; both exceptAlls share the same union, so ONE
            // aggregate computes the signed multiset delta (__diff > 0 ⇔
            // an n.exceptAll(o) copy, < 0 ⇔ o.exceptAll(n)), and the
            // update-vs-insert/delete split becomes one key-partitioned
            // window over the delta-sized change set instead of four
            // joins against an intersect. Null merge keys keep the
            // legacy equi-join semantics (never classified updates —
            // an equi semi-join on a null key matched nothing).
            import org.apache.spark.sql.functions.{abs, array_repeat, explode, max, raise_error, sum, when}
            import org.apache.spark.sql.expressions.Window
            val cols = n.columns.toSeq
            // the working columns below are appended with withColumn — a
            // user table already carrying one of these names would get it
            // silently REPLACED, corrupting the change classification.
            // Reject loudly instead (the historic exceptAll shape added
            // no pre-tag columns, so this is new surface, not a break).
            val reserved = Seq("__side", "__diff", "__copy").filter(cols.contains)
            require(reserved.isEmpty,
              s"change-feed derivation reserves working column names " +
                s"${reserved.mkString(", ")}; rename the table column(s)")
            // partitioned on the key ONCE: that placement satisfies both
            // the row-value aggregate (the key is one of its grouping
            // columns) and the per-key window, so the two share one
            // exchange instead of paying one each
            val signedRows = n.withColumn("__side", lit(1L))
              .unionAll(o.withColumn("__side", lit(-1L)))
              .repartition(col(k))
            val delta = signedRows.groupBy(cols.map(col): _*)
              .agg(sum(col("__side")).as("__diff"))
              .filter(col("__diff") =!= 0L)
            val byKey = Window.partitionBy(col(k))
            val isUpd = col(k).isNotNull &&
              max(when(col("__diff") > 0L, 1L).otherwise(0L)).over(byKey) === 1L &&
              max(when(col("__diff") < 0L, 1L).otherwise(0L)).over(byKey) === 1L
            val classified = delta
              .withColumn("_change_type",
                when(col("__diff") > 0L,
                  when(isUpd, lit("update_postimage")).otherwise(lit("insert")))
                  .otherwise(
                    when(isUpd, lit("update_preimage")).otherwise(lit("delete"))))
              .withColumn("_commit_version", lit(v))
              // replicate multiset copies (|__diff| is the surviving
              // multiplicity — rarely > 1, but exactness is the contract).
              // The int cast would WRAP silently past Int.MaxValue and
              // array_repeat would then drop rows — fail loudly instead
              // (theoretical scale, but exactness is the stated contract)
              .withColumn("__copy",
                explode(array_repeat(lit(1),
                  when(abs(col("__diff")) <= lit(Int.MaxValue.toLong),
                    abs(col("__diff")))
                    .otherwise(raise_error(lit(
                      "change-feed multiplicity exceeds Int.MaxValue"))
                      .cast("long"))
                    .cast("int"))))
            Some(classified.select(
              (cols.map(col) :+ col("_change_type") :+ col("_commit_version")): _*))
          case None =>
            Some(tag(ins, "insert") union tag(del, "delete"))
        }
    }
  }

  /** Exactly-once streaming sink commit: append `df` tagged with the
    * micro-batch id, SKIPPING the append when that batch id is already
    * committed — the foreachBatch replay-after-failure case. The check
    * and the commit are not one atomic step for MULTIPLE writers; for
    * the single-writer foreachBatch contract (Structured Streaming runs
    * one committer per query) the recheck inside the publish loop is
    * sufficient: a replayed batch can only re-observe its own prior
    * commit. Returns the committed version, or None if the batch was
    * already in. */
  def idempotentAppend(spark: SparkSession, table: String, df: DataFrame,
      batchId: Long): Option[Long] = {
    // the high-water batch id: newest retained version at or below
    // `from` that recorded one. Walk back from it (one meta read in the
    // common sink-only history because every idempotentAppend stamps
    // the marker); the walk covers interleaved commits whose meta
    // doesn't carry it, so a replayed batch can never re-commit just
    // because such a commit ran in between. An expired (missing)
    // manifest ends the walk: nothing older can be read anyway.
    def committed(from: Long): Long = {
      var v = from
      while (v >= 0) {
        val b =
          try snapshotMeta(table, v).get("lastBatchId")
          catch { case _: java.nio.file.NoSuchFileException => return -1L }
        b match {
          case Some(x) => return x.toLong
          case None => v -= 1
        }
      }
      -1L
    }
    def highWater(v: Long, meta: Map[String, String]): Long =
      meta.get("lastBatchId").map(_.toLong).getOrElse(committed(v - 1))
    val headV = latestVersion(table).getOrElse(-1L)
    val head = if (headV < 0) Map.empty[String, String] else snapshotMeta(table, headV)
    if (highWater(headV, head) >= batchId) return None
    enforceSchema(table, head, df)
    val staged = stage(df, table, stageMap(head))
    val bring = schemaSig(df)
    var replayed = false
    val v = commit(table, creates = true) { base =>
      replayed = highWater(base.version, base.meta) >= batchId
      // lost a race to our own replay: nothing to commit. Otherwise carry
      // FIRST, explicit keys after: mapMeta carries the base's
      // lastBatchId, and this commit's own (higher) batch id must win
      Option.when(!replayed)((base.entries ++ staged,
        mapMeta(base.meta) ++
          Map("lastBatchId" -> batchId.toString,
            "op" -> "streaming-append",
            "schema" -> reconcileSig(table, base.meta.get("schema"), bring,
              allowExtend = false))))
    }
    if (replayed) None else Some(v)
  }

  /** HISTORY EXPIRATION — drop every manifest older than the newest
    * `keepLast` versions (time travel to them ends), so a following
    * [[vacuum]] can physically remove the data files only those
    * snapshots referenced. This is the second half of the GDPR-erasure
    * two-step: [[deleteWhere]] removes the rows from the LIVE snapshot,
    * expire + vacuum make the old bytes unrecoverable (pinned in
    * ManifestTableSuite by scanning every surviving data file).
    * Deleting an old manifest is safe against the commit protocol —
    * committers only read the LATEST version, and the hard-link CAS
    * namespace only ever moves forward — but an in-flight READER of an
    * expiring snapshot can lose its files, so production formats gate
    * this with a retention window exactly like vacuum's; run expiry
    * only past the longest reader's horizon. Returns the number of
    * manifests dropped. */
  def expireVersions(table: String, keepLast: Int): Int = {
    require(keepLast >= 1, "must keep at least the latest version")
    val md = manifestDir(table)
    if (!Files.isDirectory(md)) return 0
    val versions = listDir(md)
      .filter(_.getFileName.toString.matches("v\\d{8}\\.manifest"))
      .sortBy(versionOf)
    val drop = versions.dropRight(keepLast)
    if (drop.isEmpty) return 0
    // the oldest RETAINED version may be a delta whose chain runs into
    // the versions about to disappear — materialize it as a checkpoint
    // FIRST (atomic move; reconstruction still works mid-crash because
    // nothing was deleted yet), so retention never breaks a delta chain
    val oldestKept = versionOf(versions(drop.size))
    if (!Files.exists(checkpointPath(table, oldestKept))) {
      val entries = snapshotEntries(table, oldestKept)
      val cp = md.resolve(s".cp-${UUID.randomUUID()}")
      Files.write(cp, entries.mkString("\n").getBytes("UTF-8"))
      Files.move(cp, checkpointPath(table, oldestKept),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    drop.foreach { m =>
      Files.deleteIfExists(checkpointPath(table, versionOf(m)))
      Files.deleteIfExists(m)
    }
    drop.size
  }

  /** Delete data files referenced by NO manifest — crashed or aborted
    * writers' orphans. Never touches a file any snapshot lists, so
    * time travel keeps working for every committed version.
    *
    * `retentionMs` guards the stage-then-publish window: a writer moves
    * files into data/ BEFORE its manifest exists, so an unguarded
    * vacuum racing an in-flight commit would delete the staged files
    * and let the subsequent publish commit a manifest of dangling paths
    * (corrupt snapshot) — the hazard production formats close with a
    * retention window. Files younger than `retentionMs` (by mtime) are
    * skipped; the default (10 min) comfortably exceeds any commit
    * loop's stage-to-publish gap. Pass 0 ONLY when no writer can be in
    * flight (tests, single-threaded maintenance). Returns the number of
    * files removed. */
  def vacuum(table: String, retentionMs: Long = 10 * 60 * 1000L): Int = {
    val md = manifestDir(table)
    // every path ANY retained version references: full manifests' and
    // checkpoints' entry lines plus delta manifests' `+` additions —
    // removals never matter for a union, so no per-version
    // reconstruction is needed
    val referenced: Set[String] =
      if (!Files.isDirectory(md)) Set.empty
      else listDir(md)
        .filter(p => p.getFileName.toString.matches("v\\d{8}\\.(manifest|checkpoint)"))
        .flatMap(m => Files.readAllLines(m).asScala)
        .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("-"))
        .map(l => if (l.startsWith("+")) l.drop(1) else l)
        // a DV line references its sidecar by path WITH appended
        // '|<target>' entries — parse it (not a bare prefix-strip, which
        // would leave the composite string and vacuum a LIVE deletion
        // vector; pinned in ManifestTableSuite)
        .map(l => if (l.startsWith(DvPrefix)) parseDvLine(l)._1 else l)
        .toSet
    val dd = dataDir(table)
    if (!Files.isDirectory(dd)) return 0
    val cutoff = System.currentTimeMillis() - retentionMs
    val orphans = listDir(dd)
      .filter { f =>
        // a .stats sidecar lives and dies with the data file it
        // describes — it is never listed in a manifest itself
        val n = f.toString
        val base = if (n.endsWith(".stats")) n.stripSuffix(".stats") else n
        !referenced.contains(base)
      }
      .filter(f => Files.getLastModifiedTime(f).toMillis <= cutoff)
    orphans.foreach(Files.deleteIfExists(_))
    orphans.size
  }
}
