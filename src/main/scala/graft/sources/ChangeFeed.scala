package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpointed incremental consumption of a [[ManifestTable]]'s own
  * commit log — the Trigger.AvailableNow discipline with the manifest
  * VERSION as the offset: each drain computes the row-level changelog
  * `(lastProcessed, latest]` as [[ManifestTable.readChanges]] does,
  * hands it to the consumer, and only then advances the checkpoint. This
  * is what lets each warehouse layer (ODS→DWD→DWS→ADS) be maintained
  * from the PREVIOUS layer's table instead of an external stream — the
  * layered real-time-warehouse architecture closed end-to-end (SURVEY
  * §1.1).
  *
  * Delivery contract: AT-LEAST-ONCE, in PER-VERSION batches. The drain
  * walks the unconsumed versions one commit at a time — process the
  * changelog `(v−1, v]`, then advance the checkpoint to `v` — so a
  * replayed batch is always the SAME deterministic unit regardless of
  * what producers committed since the crash. (A range-sized batch would
  * break exactly-once: crash after processing `(0,1]` but before the
  * advance, then a producer commits v2 — the redelivery would arrive as
  * `(0,2]` under a NEW batch id, smuggling v1's rows past any
  * end-version-keyed dedup.) Consumers must be replay-idempotent per
  * version — exactly the property the existing sinks have
  * (ManifestTable.idempotentAppend keyed on the batch's end version;
  * EmbeddingIndex.refresh dedups on key; an aggregate MERGE keyed on
  * group is naturally convergent). The checkpoint itself is a single
  * version number published atomically (tmp + ATOMIC_MOVE), so a torn
  * write can never be observed.
  *
  * Scale notes: the offset store is one integer per consumer — no state
  * grows with the data. The changelog is proportional to the CHANGED
  * files of the drained range (readChanges' contract), so steady-state
  * maintenance work tracks the arrival rate, not the table size.
  */
object ChangeFeed {

  private def offsetFile(checkpoint: String) = Paths.get(checkpoint, "offset")

  /** The last version this checkpoint has fully processed (-1 = none). */
  def lastProcessed(checkpoint: String): Long = {
    val f = offsetFile(checkpoint)
    if (!Files.exists(f)) -1L
    else new String(Files.readAllBytes(f), "UTF-8").trim.toLong
  }

  private def advance(checkpoint: String, v: Long): Unit = {
    Files.createDirectories(Paths.get(checkpoint))
    val tmp = Paths.get(checkpoint, s".offset-${UUID.randomUUID()}")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, offsetFile(checkpoint), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drain everything the table has committed past this checkpoint,
    * one version per batch: for each unconsumed v, run
    * `process(changelog (v−1, v], v−1, v)` — what `readChanges(v−1, v)`
    * returns — then advance the checkpoint to v. The head version is
    * sampled ONCE at drain start (commits landing mid-drain wait for the
    * next drain, so a drain always terminates). Returns the overall
    * processed range, or None when the feed is already caught up
    * (process not called — a caught-up drain costs two directory
    * listings).
    *
    * ONE FORWARD WALK ([[ManifestTable.commits]]) reads each version's
    * manifest once; each commit is classified from its metadata and its
    * changelog derived from the two snapshots the walk holds. The walk is
    * consumed a wave at a time, so a drain holds one wave's commits (plus
    * the one peeked at to end the wave).
    *
    * DERIVATION OVERLAPS, DELIVERY DOES NOT. The drain derives the
    * changelogs in waves of `spark.sparkContext.defaultParallelism`
    * versions, the versions of a wave concurrently
    * ([[graft.Parallel.run]]): committed versions are immutable,
    * independent inputs, and at a small batch's size the per-job
    * scheduling, not the compute, sets a derivation's cost. The
    * delivery contract is unchanged: one `process` call per version, in
    * version order, the checkpoint advanced after each. A version whose
    * derivation fails surfaces its error when the drain reaches it,
    * after every earlier version was processed and checkpointed. Each
    * batch arrives MATERIALIZED (an eager local checkpoint), so a
    * consumer that uses its batch twice — q_warehouse_layers' DWD and
    * DWS sinks — no longer derives it twice; the batch's blocks are
    * released when `process` returns, so a consumer must not keep the
    * DataFrame past its call. At most one wave's batches are held at
    * once (executor block storage, spilling to disk). Epoch-boundary
    * versions are not pre-derived, and no wave spans a boundary.
    *
    * SCHEMA-EPOCH SEGMENTATION: an overwrite that changes the schema
    * non-additively (narrowing, rename, type change — anything
    * [[ManifestTable.readChanges]] rejects) starts a NEW epoch: the old
    * rows cannot be expressed in the new schema, so no row-level
    * changelog across the boundary exists, by construction. The drain
    * segments automatically — versions before the boundary deliver in
    * the old schema as usual; AT the boundary it invokes
    * `onEpochRestart(newSchemaSig, v)` so the consumer can void its
    * derived state (truncate the downstream table — the old rows are
    * all logically deleted), then delivers the boundary snapshot as an
    * insert-only changelog in the new schema (the new epoch's initial
    * load) and continues draining. Without an `onEpochRestart` the
    * drain fails loudly at the boundary instead of letting a consumer
    * that assumed schema stability corrupt its state silently; versions
    * before the boundary stay checkpointed, so supplying the handler
    * and re-draining resumes exactly at the boundary. ADD-COLUMN
    * evolution ([[ManifestTable.appendEvolve]]) is NOT a boundary —
    * the feed rides through it in the final schema.
    *
    * RENAME commits are change-free (no rows move) but NOT
    * invisible: every later batch arrives under the NEW logical column
    * names, so a schema-pinned consumer (an idempotentAppend sink
    * table, a typed downstream job) would fail mid-drain with no hook
    * to adapt. `onSchemaRelabel(newSchemaSig, v)` fires AT the rename
    * version — after the last old-named batch, before the first
    * new-named one — so the consumer can rename its downstream column
    * (or re-derive its projection) and the drain continues; without a
    * handler the rename still skips silently, preserving the historic
    * contract for consumers that do not pin names. */
  def availableNow(spark: SparkSession, table: String, checkpoint: String,
      onEpochRestart: Option[(String, Long) => Unit] = None,
      onSchemaRelabel: Option[(String, Long) => Unit] = None)
      (process: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    import org.apache.spark.sql.functions.lit
    val from = lastProcessed(checkpoint)
    val to = ManifestTable.latestVersion(table).getOrElse(-1L)
    if (to <= from) return None
    val width = math.max(1, spark.sparkContext.defaultParallelism)
    val steps = ManifestTable.commits(table, from, to).map(c => Step(c, kindOf(c))).buffered
    while (steps.hasNext) {
      val wave = nextWave(steps, width)
      val held = derive(spark, table, wave.collect { case Step(c, Derive) => c })
      try wave.foreach { case Step(c, kind) =>
        val v = c.version
        kind match {
          // a rename delivers no rows but re-labels every later batch's
          // columns — give name-pinned consumers their adaptation hook
          case Relabel => onSchemaRelabel.foreach(_(c.meta("schema"), v))
          case Skip => ()
          case Boundary =>
            val sig = c.meta("schema")
            onEpochRestart.getOrElse(throw new IllegalStateException(
              s"$table v$v starts a new schema epoch ([$sig]); pass " +
                "onEpochRestart to let the feed segment across it"))(sig, v)
            process(ManifestTable.readBase(spark, table, c.cur)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v)), v - 1, v)
          case Derive =>
            val batch = held.remove(v).get.get
            try process(batch, v - 1, v) finally release(batch)
        }
        advance(checkpoint, v)
      } finally held.values.foreach(_.foreach(release)) // the undelivered rest
    }
    Some((from, to))
  }

  /** How the drain handles one committed version. */
  private sealed trait Kind
  /** Provably change-free (compact/cluster rewrites carry every row):
    * the checkpoint advances WITHOUT invoking the consumer — a sink like
    * idempotentAppend would otherwise publish one empty snapshot version
    * per upstream reorg, inflating the downstream history for no data. */
  private case object Skip extends Kind
  /** A rename: change-free too (never an epoch boundary — the feed rides
    * through in the new names), but fires `onSchemaRelabel`. */
  private case object Relabel extends Kind
  /** A non-additive schema change ([[ManifestTable.Commit.boundary]]):
    * `onEpochRestart`, then the snapshot. */
  private case object Boundary extends Kind
  /** Everything else: the changelog `(v−1, v]`. */
  private case object Derive extends Kind

  private final case class Step(c: ManifestTable.Commit, kind: Kind)

  private def kindOf(c: ManifestTable.Commit): Kind =
    if (c.meta.get("op").contains("rename")) Relabel
    else if (c.reorganizes) Skip
    else if (c.boundary) Boundary
    else Derive

  /** Take the next wave off the walk: an epoch boundary alone (its
    * handler runs, or the drain fails, before any later version is
    * derived), else the steps before the next boundary holding at most
    * `width` versions to derive. */
  private def nextWave(steps: BufferedIterator[Step], width: Int): Seq[Step] =
    if (steps.head.kind == Boundary) Seq(steps.next())
    else {
      val wave = Seq.newBuilder[Step]
      var derived = 0
      while (steps.hasNext && steps.head.kind != Boundary &&
        (steps.head.kind != Derive || derived < width)) {
        if (steps.head.kind == Derive) derived += 1
        wave += steps.next()
      }
      wave.result()
    }

  /** Derive the changelogs of `commits` concurrently, each materialized
    * once (an eager local checkpoint), so the consumer's reads of a batch
    * run no derivation job. A version whose derivation fails keeps its
    * failure, surfacing when the drain reaches it. */
  private def derive(spark: SparkSession, table: String,
      commits: Seq[ManifestTable.Commit]): scala.collection.mutable.Map[Long, Try[DataFrame]] = {
    val out = new ConcurrentHashMap[Long, Try[DataFrame]]()
    try graft.Parallel.run(commits.map { c => () =>
      out.put(c.version, Try(ManifestTable.changesOf(spark, table, c)
        .localCheckpoint(eager = true)))
    }: _*)
    catch { case e: Throwable =>
      out.values.asScala.foreach(_.foreach(release))
      throw e
    }
    out.asScala
  }

  /** Drop a `localCheckpoint`ed DataFrame's blocks (a materialized batch,
    * a checkpointed cache entry). They belong to the RDD under its
    * `LogicalRDD`: `DataFrame.unpersist` only reaches the CacheManager,
    * which never held them. */
  private[graft] def release(batch: DataFrame): Unit =
    batch.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
