package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{ChangeFeed, ManifestTable}

/** The change-data-feed contract: [[ManifestTable.readChanges]] must emit
  * the exact row-level delta of every commit class (append, DV delete,
  * copy-on-write delete, merge, overwrite, compact), [[ChangeFeed]] must
  * drain it with version-offset checkpointing, and the DSv2
  * [[graft.sources.ManifestStreamSource]] must stream appends with
  * engine-checkpointed restart. The load-bearing invariant, asserted per
  * commit class: replaying the changelog over the FROM snapshot
  * reconstructs the TO snapshot exactly (multiset equality both ways). */
class ChangeFeedSuite extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-cdf").toString

  private def rows(a: Long, b: Long) =
    spark.range(a, b).select(col("id"), (col("id") % 10).as("k"), (col("id") * 2).as("v"))

  /** snapshot(fromV) + inserts − deletes == snapshot(toV), as multisets. */
  private def assertReplays(t: String, fromV: Long, toV: Long): Unit = {
    val ch = ManifestTable.readChanges(spark, t, fromV, toV).cache()
    val dataCols = ch.columns.filterNot(_.startsWith("_change")).filterNot(_ == "_commit_version")
    val ins = ch.filter(col("_change_type").isin("insert", "update_postimage"))
      .select(dataCols.map(col): _*)
    val del = ch.filter(col("_change_type").isin("delete", "update_preimage"))
      .select(dataCols.map(col): _*)
    val from =
      if (fromV < 0) ins.limit(0)
      else {
        // a from-snapshot older than an ADD-COLUMN evolution lacks the
        // evolved columns; logically they are null there — lift them so
        // the multiset replay compares in the final schema
        val raw = ManifestTable.read(spark, t, Some(fromV))
        raw.select(dataCols.map { c =>
          if (raw.columns.contains(c)) col(c)
          else lit(null).cast(ch.schema(c).dataType).as(c)
        }: _*)
      }
    val to = ManifestTable.read(spark, t, Some(toV)).select(dataCols.map(col): _*)
    val rebuilt = from.union(ins).exceptAll(del)
    assert(rebuilt.exceptAll(to).isEmpty && to.exceptAll(rebuilt).isEmpty,
      s"changelog ($fromV,$toV] does not replay the snapshot delta")
    ch.unpersist()
    ()
  }

  test("appends feed insert-only changes tagged with their commit version") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 100))
    ManifestTable.append(spark, t, rows(100, 130))
    val ch = ManifestTable.readChanges(spark, t, -1, 1)
    assert(ch.filter(col("_change_type") =!= "insert").isEmpty)
    assert(ch.count() == 130)
    assert(ch.filter(col("_commit_version") === 1L).count() == 30)
    assertReplays(t, -1, 1)
    // a sub-range sees only its own commits
    assert(ManifestTable.readChanges(spark, t, 0, 1).count() == 30)
  }

  test("a deletion-vector delete feeds exactly the tombstoned rows as deletes") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 1000))
    // narrow predicate → DV path (low overlap of the id span)
    val v = ManifestTable.deleteWhere(spark, t, "id", 10, 19)
    val ch = ManifestTable.readChanges(spark, t, v - 1, v)
    assert(ch.filter(col("_change_type") === "insert").isEmpty,
      "a pure DV delete must emit no inserts")
    assert(ch.count() == 10)
    assert(ch.agg(sum("id")).as[Long].head() == (10L to 19L).sum)
    assertReplays(t, v - 1, v)
    // re-deleting the same range re-tombstones already-dead positions:
    // the feed must NOT re-emit them
    val v2 = ManifestTable.deleteWhere(spark, t, "id", 10, 25)
    val ch2 = ManifestTable.readChanges(spark, t, v, v2)
    assert(ch2.filter(col("_change_type") === "delete").agg(sum("id")).as[Long].head() ==
      (20L to 25L).sum, "already-deleted positions must not re-emit")
    assertReplays(t, v, v2)
  }

  test("a copy-on-write delete feeds only the dying rows — survivors cancel") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 100))
    // wide predicate over the file's span → rewrite path
    val v = ManifestTable.deleteWhere(spark, t, "id", 0, 59)
    val ch = ManifestTable.readChanges(spark, t, v - 1, v)
    assert(ch.filter(col("_change_type") === "insert").isEmpty,
      "carried survivors must cancel out of the feed")
    assert(ch.count() == 60)
    assertReplays(t, v - 1, v)
  }

  test("a partition overwrite feeds the replaced partition's delta; untouched partitions are silent") {
    val t = freshTable()
    def part(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id"), concat(lit("p"), col("id") % 2).as("pt")).coalesce(1)
    ManifestTable.appendPartitioned(spark, t, part(0, 20), "pt")   // v0
    ManifestTable.appendPartitioned(spark, t, part(20, 20), "pt")  // v1
    val v = ManifestTable.overwritePartition(spark, t, "p0",
      part(0, 40).filter(col("pt") === "p0").withColumn("id", col("id") + 500))
    val ch = ManifestTable.readChanges(spark, t, v - 1, v)
    // only p0 rows move: the old p0 rows leave, the backfilled arrive,
    // and p1 — carried verbatim — contributes NOTHING to the changelog
    assert(ch.filter(col("pt") === "p1").count() == 0,
      "untouched partitions must be change-free")
    assert(ch.filter(col("_change_type") === "delete").count() == 20)
    assert(ch.filter(col("_change_type") === "insert")
      .agg(min(col("id"))).as[Long].head() >= 500L)
    assertReplays(t, v - 1, v)
    assertReplays(t, -1L, v)
  }

  test("restore rolls back as a new commit; the feed resurrects DV-erased rows") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 1000)) // v0
    // narrow predicate → DV path: the data file survives, tombstoned
    val v1 = ManifestTable.deleteWhere(spark, t, "id", 10, 19)
    assert(ManifestTable.snapshotDvs(t, v1).nonEmpty, "precondition: DV erasure")
    ManifestTable.append(spark, t, rows(2000, 2050)) // v2
    val v3 = ManifestTable.restore(t, 0L)
    assert(v3 == 3 && ManifestTable.snapshotMeta(t, v3).get("op").contains("restore"))
    // the restored snapshot IS v0, and the rolled-back versions remain
    // time-travelable
    assert(ManifestTable.read(spark, t).count() == 1000)
    assert(ManifestTable.read(spark, t, Some(v1)).count() == 990)
    // the restore commit's changelog: the 10 DV-erased rows come back as
    // inserts (dvGone resurrection — their file never moved) and the v2
    // wave leaves as deletes
    val ch = ManifestTable.readChanges(spark, t, v3 - 1, v3)
    val ins = ch.filter(col("_change_type") === "insert")
    assert(ins.count() == 10 && ins.agg(sum("id")).as[Long].head() == (10L to 19L).sum,
      "dropping the DV must re-emit exactly the tombstoned rows as inserts")
    assert(ch.filter(col("_change_type") === "delete").count() == 50)
    assertReplays(t, v3 - 1, v3)
    // and across the whole history: creation → post-restore state
    assertReplays(t, -1, v3)
    // the table lives on: a post-restore append commits and reads
    ManifestTable.append(spark, t, rows(3000, 3010))
    assert(ManifestTable.read(spark, t).count() == 1010)
    // restoring to a version not yet born must refuse (the target
    // manifest does not exist — same failure class as expired history)
    intercept[java.nio.file.NoSuchFileException] {
      ManifestTable.restore(t, 99L)
    }
  }

  test("restore across a CoW rewrite carrying a stale DV must not double-emit") {
    // The r9-advice sequence: append (v0) → narrow delete (DV on an
    // original file, v1) → wide delete (CoW rewrites that file, the
    // stale DV line carried verbatim, v2) → restore to v0 (v3). At v3
    // the DV drops AND its target file re-enters via `added` — the
    // resurrection path must not re-emit the DV's positions on top of
    // arriving's full read of the same file.
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 1000)) // v0
    val v1 = ManifestTable.deleteWhere(spark, t, "id", 10, 19) // DV path
    assert(ManifestTable.snapshotDvs(t, v1).nonEmpty, "precondition: DV erasure")
    val v2 = ManifestTable.deleteWhere(spark, t, "id", 0, 599) // CoW rewrite
    assert(ManifestTable.snapshotFiles(t, v2).toSet !=
      ManifestTable.snapshotFiles(t, v1).toSet, "precondition: rewrite happened")
    val v3 = ManifestTable.restore(t, 0L)
    val ch = ManifestTable.readChanges(spark, t, v3 - 1, v3).cache()
    val ins = ch.filter(col("_change_type") === "insert")
    // exactly ids 0..599 come back, each ONCE — the dropped stale DV
    // must not re-emit ids 10..19 a second time
    assert(ins.count() == 600, s"expected 600 inserts, got ${ins.count()}")
    assert(ins.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "no row may be emitted twice as insert")
    assert(ch.filter(col("_change_type") === "delete").isEmpty)
    assertReplays(t, v3 - 1, v3)
    assertReplays(t, -1, v3)
    ch.unpersist()
    ()
  }

  test("merge feeds paired update pre/postimages; compact feeds nothing") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 50))
    val updates = spark.range(40, 60).select(col("id"), (col("id") % 10).as("k"),
      (col("id") * 1000).as("v"))
    val vm = ManifestTable.merge(spark, t, updates, "id")
    val ch = ManifestTable.readChanges(spark, t, vm - 1, vm).cache()
    // 10 updated rows (40..49): paired by the recorded merge key into
    // update_preimage (old state) + update_postimage (new state);
    // 10 fresh inserts (50..59); untouched rows (0..39) silent
    assert(ch.filter(col("_change_type") === "update_preimage").count() == 10)
    assert(ch.filter(col("_change_type") === "update_postimage").count() == 10)
    assert(ch.filter(col("_change_type") === "insert").count() == 10)
    assert(ch.filter(col("_change_type") === "delete").isEmpty,
      "a pure upsert merge deletes nothing")
    // the images pair exactly: same keys, old values on the pre side
    assert(ch.filter(col("_change_type") === "update_preimage")
      .agg(sum("v")).as[Long].head() == (40L until 50L).map(_ * 2).sum)
    assert(ch.filter(col("_change_type") === "update_postimage")
      .agg(sum("v")).as[Long].head() == (40L until 50L).map(_ * 1000).sum)
    assert(ch.filter(col("_change_type").startsWith("update"))
      .groupBy(col("id")).count().filter(col("count") =!= 2).isEmpty,
      "every updated key must carry exactly one preimage and one postimage")
    assert(ch.filter(col("id") < 40).isEmpty, "unchanged rows must not surface")
    assertReplays(t, vm - 1, vm)
    ch.unpersist()
    // DV then compact: the compact commit itself is change-free
    val vd = ManifestTable.deleteWhere(spark, t, "id", 2, 3)
    val vc = ManifestTable.compact(spark, t)
    assert(vc == vd + 1)
    assert(ManifestTable.readChanges(spark, t, vd, vc).isEmpty,
      "compaction is physical-only; the feed must be silent")
    assertReplays(t, vm, vc)
  }

  test("schema evolution inside a range is rejected; expired history throws") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 10))
    ManifestTable.overwrite(spark, t, spark.range(5).select(col("id"), col("id").as("other")))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, t, -1, 1)
    }
    assert(e.getMessage.contains("non-additively"))
    // the rewriting commit itself mixes both schemas (old rows leave,
    // new arrive) — it too is rejected; the new epoch starts AFTER it
    assert(intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, t, 0, 1)
    }.getMessage.contains("non-additively"))
    ManifestTable.append(spark, t, spark.range(5, 9).select(col("id"), col("id").as("other")))
    assert(ManifestTable.readChanges(spark, t, 1, 2).count() == 4)
    assertReplays(t, 1, 2)
  }

  test("ADD-COLUMN evolution does NOT break the feed: changelog emits in the final schema") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 40))
    ManifestTable.appendEvolve(spark, t,
      spark.range(40, 50).select(col("id"), (col("id") % 10).as("k"),
        (col("id") * 2).as("v"), (col("id") % 3).as("w")))
    ManifestTable.deleteWhere(spark, t, "id", 35, 44) // spans both epochs
    val ch = ManifestTable.readChanges(spark, t, -1, 2).cache()
    assert(ch.columns.toSeq == Seq("id", "k", "v", "w", "_change_type", "_commit_version"))
    // pre-evolution inserts null-fill the evolved column
    assert(ch.filter(col("_commit_version") === 0 && col("w").isNotNull).isEmpty)
    assert(ch.filter(col("_commit_version") === 1 && col("w").isNull).isEmpty)
    // deletes from both epochs surface, old-epoch ones null-filled
    val dels = ch.filter(col("_change_type") === "delete")
    assert(dels.count() == 10)
    assert(dels.filter(col("w").isNull).count() == 5)
    assertReplays(t, -1, 2)
    assertReplays(t, 0, 2)
    ch.unpersist()
    // a ChangeFeed consumer rides straight through the evolution
    val cp = Files.createTempDirectory("graft-cdf-evo").toString
    var batches = Vector.empty[Int]
    ChangeFeed.availableNow(spark, t, cp) { (c, _, _) => batches :+= c.columns.length }
    assert(batches.size == 3, "one batch per version, no epoch restart needed")
  }

  test("ChangeFeed.availableNow drains one version per batch and checkpoints each") {
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-cdf-cp").toString
    ManifestTable.append(spark, t, rows(0, 100))
    var seen = Vector.empty[(Long, Long, Long)] // (fromV, toV, nRows)
    def drain(): Option[(Long, Long)] =
      ChangeFeed.availableNow(spark, t, cp) { (ch, a, b) =>
        seen :+= ((a, b, ch.count()))
      }
    assert(drain().contains((-1L, 0L)))
    assert(drain().isEmpty, "caught-up feed must not re-process")
    ManifestTable.append(spark, t, rows(100, 120))
    ManifestTable.deleteWhere(spark, t, "id", 0, 4)
    assert(drain().contains((0L, 2L)))
    // per-version batches: (0,1] then (1,2], each checkpointed
    assert(seen == Vector((-1L, 0L, 100L), (0L, 1L, 20L), (1L, 2L, 5L)), seen.toString)
    assert(ChangeFeed.lastProcessed(cp) == 2L)
    // crash-replay: a consumer that failed mid-drain resumes at the
    // failed VERSION, not the whole log (at-least-once per version)
    val cp2 = Files.createTempDirectory("graft-cdf-cp2").toString
    var calls = Vector.empty[(Long, Long)]
    intercept[RuntimeException] {
      ChangeFeed.availableNow(spark, t, cp2) { (_, a, b) =>
        calls :+= ((a, b))
        if (calls.size == 2) throw new RuntimeException("consumer crash")
      }
    }
    assert(ChangeFeed.lastProcessed(cp2) == 0L,
      "versions processed before the crash must stay checkpointed")
    ChangeFeed.availableNow(spark, t, cp2) { (_, a, b) => calls :+= ((a, b)) }
    assert(calls == Vector((-1L, 0L), (0L, 1L), (0L, 1L), (1L, 2L)),
      s"the crashed version must replay, earlier ones must not: $calls")
  }

  test("availableNow delivers in version order across derivation waves; failures surface at their version") {
    // the drain derives `defaultParallelism` versions per wave; delivery
    // must stay one in-order batch per version, checkpointed after each
    val width = spark.sparkContext.defaultParallelism
    val n = 2 * width + 2 // a backlog longer than two waves
    val t = freshTable()
    for (i <- 0 until n) ManifestTable.append(spark, t, rows(i * 10L, i * 10L + 10).coalesce(1))
    val heldBefore = spark.sparkContext.getPersistentRDDs.keySet
    def batch(ch: DataFrame, a: Long, b: Long) = (a, b, ch.agg(min("id")).as[Long].head())
    def expected(vs: Seq[Long]) = vs.map(v => (v - 1, v, v * 10))
    // a consumer crash in the SECOND wave checkpoints the version before it
    val crashAt = width + 1L
    val cp = Files.createTempDirectory("graft-cdf-wave").toString
    var calls = Vector.empty[(Long, Long, Long)]
    intercept[RuntimeException] {
      ChangeFeed.availableNow(spark, t, cp) { (ch, a, b) =>
        if (b == crashAt) throw new RuntimeException("consumer crash")
        calls :+= batch(ch, a, b)
      }
    }
    assert(ChangeFeed.lastProcessed(cp) == crashAt - 1)
    assert(calls == expected(0L until crashAt), calls.toString)
    // the re-drain replays from the crashed version, in order
    assert(ChangeFeed.availableNow(spark, t, cp) { (ch, a, b) => calls :+= batch(ch, a, b) }
      .contains((crashAt - 1, n - 1L)))
    assert(calls == expected(0L until n), calls.toString)
    assert(ChangeFeed.lastProcessed(cp) == n - 1L)
    // a version whose derivation fails (its added data file is gone):
    // every earlier version is processed and checkpointed first, then
    // the error surfaces at that version — later ones are not delivered
    val failAt = width + 2L
    val lost = ManifestTable.snapshotFiles(t, failAt)
      .filterNot(ManifestTable.snapshotFiles(t, failAt - 1).toSet)
    assert(lost.size == 1, "fixture: one added file per append")
    Files.delete(java.nio.file.Paths.get(lost.head))
    val cp2 = Files.createTempDirectory("graft-cdf-wave2").toString
    var seen = Vector.empty[(Long, Long, Long)]
    intercept[Exception] {
      ChangeFeed.availableNow(spark, t, cp2) { (ch, a, b) => seen :+= batch(ch, a, b) }
    }
    assert(seen == expected(0L until failAt), seen.toString)
    assert(ChangeFeed.lastProcessed(cp2) == failAt - 1)
    // each batch is released once its call returns, on every path
    assert(spark.sparkContext.getPersistentRDDs.keySet == heldBefore,
      "a drain must not leave materialized batches behind")
  }

  test("availableNow skips change-free compact commits but still advances the checkpoint") {
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-cdf-cpc").toString
    ManifestTable.append(spark, t, rows(0, 50))
    // v1: force the DV path so the following compact has work to do
    ManifestTable.deleteWhere(spark, t, "id", 0, 9, dvBelowOverlap = 2.0)
    var calls = Vector.empty[(Long, Long)]
    def drain(): Option[(Long, Long)] =
      ChangeFeed.availableNow(spark, t, cp) { (_, a, b) => calls :+= ((a, b)) }
    assert(drain().contains((-1L, 1L)))
    assert(calls == Vector((-1L, 0L), (0L, 1L)))
    // a compact is provably change-free: the consumer must NOT run (a
    // sink like idempotentAppend would publish an empty version per
    // compact), but the checkpoint must advance past it
    val vc = ManifestTable.compact(spark, t)
    assert(drain().contains((1L, vc)))
    assert(calls.size == 2, s"compact must not invoke the consumer: $calls")
    assert(ChangeFeed.lastProcessed(cp) == vc,
      "the checkpoint must advance over the skipped compact")
    // and the feed keeps flowing after the skipped version
    ManifestTable.append(spark, t, rows(100, 110))
    assert(drain().contains((vc, vc + 1)))
    assert(calls.last == ((vc, vc + 1)))
  }

  test("availableNow segments across a non-additive schema epoch via onEpochRestart") {
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-cdf-cpe").toString
    ManifestTable.append(spark, t, rows(0, 30)) // v0: (id, k, v)
    ManifestTable.append(spark, t, rows(30, 40)) // v1
    // v2: overwrite-evolution — renamed/narrowed schema starts a new epoch
    ManifestTable.overwrite(spark, t,
      spark.range(100, 120).select(col("id"), (col("id") * 3).as("w")))
    ManifestTable.append(spark, t,
      spark.range(120, 125).select(col("id"), (col("id") * 3).as("w"))) // v3
    // a consumer that did not opt in fails LOUDLY at the boundary, with
    // the pre-boundary versions checkpointed (no silent corruption)
    val ex = intercept[IllegalStateException] {
      ChangeFeed.availableNow(spark, t, cp) { (_, _, _) => () }
    }
    assert(ex.getMessage.contains("schema epoch"))
    assert(ChangeFeed.lastProcessed(cp) == 1L,
      "old-epoch versions drained before the boundary must stay checkpointed")
    // opting in: the handler voids derived state, then the boundary
    // delivers the new snapshot as an insert-only initial load and the
    // drain continues through the new epoch — one call, no manual steps
    var state = Map.empty[Long, Long] // id -> downstream value
    var restarts = Vector.empty[(String, Long)]
    def drain(): Option[(Long, Long)] =
      ChangeFeed.availableNow(spark, t, cp,
        onEpochRestart = Some((sig, v) => { state = Map.empty; restarts :+= ((sig, v)) })) {
        (ch, _, _) =>
          val ins = ch.filter(col("_change_type").isin("insert", "update_postimage"))
          val del = ch.filter(col("_change_type").isin("delete", "update_preimage"))
          val valueCol = ins.columns.find(c => c == "v" || c == "w").get
          state ++= ins.select(col("id"), col(valueCol)).as[(Long, Long)].collect().toMap
          state --= del.select(col("id")).as[Long].collect()
      }
    assert(drain().contains((1L, 3L)))
    assert(restarts.map(_._2) == Vector(2L), s"exactly one epoch restart at v2: $restarts")
    assert(restarts.head._1.contains("w:BIGINT"))
    val expect = (100L until 125L).map(i => i -> i * 3).toMap
    assert(state == expect,
      "the downstream state must equal the new-epoch snapshot after segmentation")
  }

  test("exactly-once survives a crash between sink commit and checkpoint advance with a racing producer") {
    // the failure this shape exists to prevent: consumer processes
    // (0,1] and its idempotent sink commits batchId=1, then the
    // CONSUMER crashes before the checkpoint advances; a producer
    // meanwhile commits v2. If redelivery arrived as one (0,2] range
    // under batchId=2, v1's rows would land twice. Per-version batches
    // make the redelivery deterministic: (0,1] replays under batchId=1
    // (screened), then (1,2] commits once.
    val src = freshTable()
    val sink = freshTable()
    val cp = Files.createTempDirectory("graft-cdf-x1").toString
    def sinkBatch(ch: DataFrame, to: Long): Unit = {
      ManifestTable.idempotentAppend(spark, sink,
        ch.filter(col("_change_type") === "insert").select("id", "k", "v"), to)
      ()
    }
    ManifestTable.append(spark, src, rows(0, 50))
    ChangeFeed.availableNow(spark, src, cp) { (ch, _, to) => sinkBatch(ch, to) }
    ManifestTable.append(spark, src, rows(50, 60))
    // drain v1: sink commits, then the consumer dies BEFORE the advance
    intercept[RuntimeException] {
      ChangeFeed.availableNow(spark, src, cp) { (ch, _, to) =>
        sinkBatch(ch, to)
        throw new RuntimeException("crash after sink commit, before advance")
      }
    }
    assert(ChangeFeed.lastProcessed(cp) == 0L)
    ManifestTable.append(spark, src, rows(60, 70)) // racing producer
    ChangeFeed.availableNow(spark, src, cp) { (ch, _, to) => sinkBatch(ch, to) }
    val got = ManifestTable.read(spark, sink)
    assert(got.count() == 70, s"rows must land exactly once, got ${got.count()}")
    assert(got.select("id").distinct().count() == 70)
  }

  test("ManifestStreamSource streams appends with engine-checkpointed restart") {
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-mss-cp").toString
    val out = Files.createTempDirectory("graft-mss-out").toString + "/sink"
    ManifestTable.append(spark, t, rows(0, 500))
    ManifestTable.append(spark, t, rows(500, 800))
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestStreamSource")
        .option("table", t).option("ignoreDeletes", "true").load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
    }
    drain()
    assert(spark.read.parquet(out).count() == 800)
    // new commits: a DV delete (skipped under ignoreDeletes) + an append;
    // the restarted stream must consume exactly the unconsumed versions
    ManifestTable.deleteWhere(spark, t, "id", 0, 9)
    ManifestTable.append(spark, t, rows(800, 1000))
    drain()
    val got = spark.read.parquet(out)
    assert(got.count() == 1000, "restart must pick up only the new versions")
    assert(got.select("id").distinct().count() == 1000, "no version may re-emit")
    assert(got.agg(sum("v")).as[Long].head() == (0L until 1000L).map(_ * 2).sum)
  }

  test("the change feed rides across a RENAME; a DROP bounds the epoch") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 100))                    // v0: id,k,v
    val vr = ManifestTable.renameColumn(t, "v", "w")                // v1: metadata only
    assert(ManifestTable.snapshotFiles(t, vr).toSet ==
      ManifestTable.snapshotFiles(t, 0L).toSet, "rename must not touch files")
    ManifestTable.append(spark, t,
      rows(100, 150).withColumnRenamed("v", "w"))                   // v2: new logical name
    val vDel = ManifestTable.deleteWhere(spark, t, "w", 0, 38)      // ids 0..19 (w = 2*id)
    // one feed across all epochs, emitted in the FINAL logical names
    val ch = ManifestTable.readChanges(spark, t, -1, vDel).cache()
    assert(ch.columns.contains("w") && !ch.columns.contains("v"))
    assert(ch.filter(col("_change_type") === "insert").count() == 150)
    val del = ch.filter(col("_change_type") === "delete")
    assert(del.count() == 20 && del.agg(sum("w")).as[Long].head() == (0L until 20L).map(_ * 2).sum)
    assertReplays(t, -1, vDel)
    ch.unpersist()
    // a DROP breaks the id prefix: ranges across it are rejected...
    val vDrop = ManifestTable.dropColumn(t, "k")
    assert(intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, t, -1, vDrop)
    }.getMessage.contains("non-additively"))
    // ...and the checkpointed drain segments there via onEpochRestart
    val cp = Files.createTempDirectory("graft-rename-cp").toString
    var restarts = Seq.empty[Long]
    var drained = 0L
    ChangeFeed.availableNow(spark, t, cp,
      onEpochRestart = Some((_, v) => restarts :+= v)) { (ch2, _, _) =>
      drained += ch2.filter(col("_change_type") === "insert").count()
    }
    assert(restarts == Seq(vDrop), s"the drop alone must bound an epoch, got $restarts")
    // inserts: 150 (v0+v2 appends) − deletes never re-emit; the boundary
    // snapshot re-delivers the surviving 130 rows as the new epoch's load
    assert(drained == 150 + 130, s"got $drained")
  }

  test("the stream source reads across a RENAME via physical-name lookups") {
    // files written BEFORE a rename store the old physical name; a
    // stream defined AFTER the rename carries the new logical schema —
    // the reader must resolve each field through the colmap's immutable
    // physical name, or every pre-rename file would stream as nulls.
    // (A RESTARTED stream re-infers the latest schema — the documented
    // adopt-by-restart contract — so both file generations surface
    // under the new logical label.)
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 100))            // files store v
    ManifestTable.renameColumn(t, "v", "w")
    ManifestTable.append(spark, t,
      rows(100, 150).withColumnRenamed("v", "w"))           // files still store v (physical)
    val cp = Files.createTempDirectory("graft-mss-ren-cp").toString
    val out = Files.createTempDirectory("graft-mss-ren-out").toString + "/sink"
    val q = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("table", t).load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq.sorted == Seq("id", "k", "w"))
    assert(got.count() == 150 && got.select("id").distinct().count() == 150)
    assert(got.agg(sum("w")).as[Long].head() == (0L until 150L).map(_ * 2).sum,
      "both file generations must stream their values under the new logical label")
  }

  test("admission control: a version backlog drains in bounded micro-batches") {
    // 10 one-file versions under option("maxFilesPerTrigger", 2): the
    // AvailableNow drain must deliver in >=5 bounded micro-batches (not
    // one backlog-sized batch), emit every row exactly once, and the
    // engine checkpoint must keep restart semantics intact
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-mss-adm-cp").toString
    val out = Files.createTempDirectory("graft-mss-adm-out").toString + "/sink"
    for (b <- 0 until 10)
      ManifestTable.append(spark, t, rows(b * 100L, b * 100L + 100).coalesce(1))
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    def drain(): Int = {
      val n0 = batches.get()
      val q = spark.readStream.format("graft.sources.ManifestStreamSource")
        .option("table", t).option("maxFilesPerTrigger", "2").load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          if (df.count() > 0) batches.incrementAndGet()
          df.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
      batches.get() - n0
    }
    val n = drain()
    assert(n >= 5, s"10 one-file versions under a 2-file budget must take >=5 batches, took $n")
    val got = spark.read.parquet(out)
    assert(got.count() == 1000)
    assert(got.select("id").distinct().count() == 1000, "bounded batches must not re-emit")
    // restart: three more commits, the second bounded drain picks up
    // exactly the unconsumed suffix, still in bounded batches
    for (b <- 10 until 13)
      ManifestTable.append(spark, t, rows(b * 100L, b * 100L + 100).coalesce(1))
    val n2 = drain()
    assert(n2 >= 2, s"3 one-file versions under a 2-file budget must take >=2 batches, took $n2")
    val all = spark.read.parquet(out)
    assert(all.count() == 1300 && all.select("id").distinct().count() == 1300,
      "restart must consume exactly the unconsumed versions, bounded")
  }

  test("admission control: maxRowsPerTrigger bounds batches by sidecar row counts") {
    // 6 versions of 100 rows each under option("maxRowsPerTrigger", 250):
    // the drain must cut version-grain batches of <= 2 full versions
    // (250-row budget, 100-row versions, at-least-one-version progress)
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-mss-rows-cp").toString
    val out = Files.createTempDirectory("graft-mss-rows-out").toString + "/sink"
    for (b <- 0 until 6)
      ManifestTable.append(spark, t, rows(b * 100L, b * 100L + 100).coalesce(1))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("table", t).option("maxRowsPerTrigger", "250").load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) sizes.synchronized { sizes += n }
        df.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
    assert(sizes.size >= 3, s"600 rows under a 250-row budget must take >=3 batches, got $sizes")
    assert(sizes.forall(_ <= 300), s"no batch may exceed the budget rounded up to a version, got $sizes")
    val got = spark.read.parquet(out)
    assert(got.count() == 600 && got.select("id").distinct().count() == 600)
  }

  test("partition-scoped stream: only the subscribed partition's files plan; unmarked files fail loudly") {
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-mss-part-cp").toString
    val out = Files.createTempDirectory("graft-mss-part-out").toString + "/sink"
    def part(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id"), concat(lit("p"), col("id") % 2).as("pt")).coalesce(1)
    ManifestTable.appendPartitioned(spark, t, part(0, 100), "pt")
    ManifestTable.appendPartitioned(spark, t, part(100, 100), "pt")
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestStreamSource")
        .option("table", t).option("partitionValue", "p1").load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
    }
    drain()
    val got = spark.read.parquet(out)
    assert(got.count() == 100 && got.filter(col("pt") =!= "p1").count() == 0,
      "a partition-scoped stream must emit exactly its partition's rows")
    // restart consumes only the new commit's p1 slice
    ManifestTable.appendPartitioned(spark, t, part(200, 50), "pt")
    drain()
    assert(spark.read.parquet(out).count() == 125)
    // an unmarked file in a consumed commit cannot be represented
    ManifestTable.append(spark, t, part(300, 4))
    val q2 = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("table", t).option("partitionValue", "p1").load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) => df.count(); () }
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000)
    }
    assert(err.getMessage.contains("partition marker") ||
      String.valueOf(err.getCause).contains("partition marker"))
    q2.stop()
  }

  test("admission control: maxBytesPerTrigger bounds batches by on-disk file size") {
    // 10 one-file versions under a byte cap sized to ~2 files: the
    // AvailableNow drain must cut the backlog into >=4 micro-batches,
    // emit every row exactly once, and keep checkpoint restart intact
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-mss-bytes-cp").toString
    val out = Files.createTempDirectory("graft-mss-bytes-out").toString + "/sink"
    for (b <- 0 until 10)
      ManifestTable.append(spark, t, rows(b * 100L, b * 100L + 100).coalesce(1))
    val oneFile = java.nio.file.Paths.get(
      ManifestTable.snapshotFiles(t, ManifestTable.latestVersion(t).get).head)
    val cap = java.nio.file.Files.size(oneFile) * 2 + 16 // ~2 files' bytes
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    def drain(): Int = {
      val n0 = batches.get()
      val q = spark.readStream.format("graft.sources.ManifestStreamSource")
        .option("table", t).option("maxBytesPerTrigger", cap.toString).load()
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, _: Long) =>
          if (df.count() > 0) batches.incrementAndGet()
          df.write.mode("append").parquet(out); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
      batches.get() - n0
    }
    val n = drain()
    assert(n >= 4, s"10 similar files under a ~2-file byte cap must take >=4 batches, took $n")
    val got = spark.read.parquet(out)
    assert(got.count() == 1000)
    assert(got.select("id").distinct().count() == 1000, "bounded batches must not re-emit")
    // restart: two more commits; the next drain consumes exactly the
    // unconsumed suffix, still byte-bounded
    for (b <- 10 until 12)
      ManifestTable.append(spark, t, rows(b * 100L, b * 100L + 100).coalesce(1))
    drain()
    val all = spark.read.parquet(out)
    assert(all.count() == 1200 && all.select("id").distinct().count() == 1200,
      "restart must consume exactly the unconsumed versions under the byte cap")
  }

  test("typed transport: timestamp, date, decimal, and array columns stream exactly") {
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-mss-typed-cp").toString
    val out = Files.createTempDirectory("graft-mss-typed-out").toString + "/sink"
    // the full typed surface: timestamp (whatever encoding the session
    // writes — INT96 legacy or INT64), date, decimal, array<float> with
    // an embedded NULL element, string — plus an all-null tail batch
    val df = spark.range(0, 300).select(
      col("id"),
      expr("timestamp_micros(id * 1000000 + 123456)").as("ts"),
      expr("date_add(DATE'2020-01-01', CAST(id AS INT))").as("d"),
      expr("CAST(CAST(id AS DECIMAL(12,2)) / 7 AS DECIMAL(12,2))").as("dec"),
      expr("transform(sequence(0, CAST(id % 5 AS INT)), " +
        "x -> CAST(IF(x = 2, NULL, x / 3.0) AS FLOAT))").as("emb"),
      expr("concat('s', id)").as("s"))
    ManifestTable.append(spark, t, df)
    ManifestTable.append(spark, t, spark.range(300, 310).select(col("id"),
      lit(null).cast("timestamp").as("ts"), lit(null).cast("date").as("d"),
      lit(null).cast("decimal(12,2)").as("dec"),
      lit(null).cast("array<float>").as("emb"), lit(null).cast("string").as("s")))
    val q = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("table", t).load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
    val got = spark.read.parquet(out)
    val want = ManifestTable.read(spark, t)
    assert(got.count() == 310)
    assert(got.exceptAll(want).unionAll(want.exceptAll(got)).isEmpty,
      "the streamed rows must equal the batch read value-for-value across every type")
  }

  test("struct and map columns stream equal to the batch read") {
    val t = freshTable()
    val cp = Files.createTempDirectory("graft-mss-nested-cp").toString
    val out = Files.createTempDirectory("graft-mss-nested-out").toString + "/sink"
    ManifestTable.append(spark, t, spark.range(0, 200).select(
      col("id"),
      struct((col("id") % 7).as("a"),
        when(col("id") % 5 =!= 0, concat(lit("s"), col("id"))).as("b"),
        expr("sequence(0, CAST(id % 3 AS INT))").as("c")).as("st"),
      when(col("id") % 10 === 0, lit(null))
        .otherwise(map(lit("x"), col("id"), lit("y"), col("id") * 2)).as("m")))
    ManifestTable.append(spark, t, spark.range(200, 210).select(col("id"),
      lit(null).cast("struct<a:bigint,b:string,c:array<int>>").as("st"),
      lit(null).cast("map<string,bigint>").as("m")))
    val q = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("table", t).load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "stream did not drain") finally q.stop()
    // maps do not compare in set operations: compare their JSON
    def flat(df: DataFrame) = df.select(col("id"), col("st"), to_json(col("m")).as("m"))
    val got = flat(spark.read.parquet(out))
    val want = flat(ManifestTable.read(spark, t))
    assert(got.count() == 210)
    assert(got.exceptAll(want).unionAll(want.exceptAll(got)).isEmpty,
      "the streamed struct and map values must equal the batch read")
  }

  test("ManifestStreamSource fails loudly on rewriting commits unless opted out") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 100))
    ManifestTable.deleteWhere(spark, t, "id", 0, 9)
    def streamAll(opts: Map[String, String]): Long = {
      val cp = Files.createTempDirectory("graft-mss-cp").toString
      val r = spark.readStream.format("graft.sources.ManifestStreamSource")
      val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
        .option("table", t).load()
        .writeStream.format("memory").queryName(s"mss_guard_${opts.size}")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(120000); () } finally q.stop()
      spark.table(s"mss_guard_${opts.size}").count()
    }
    val e = intercept[Exception] { streamAll(Map.empty) }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else String.valueOf(x.getMessage) +: msgs(x.getCause)
    assert(msgs(e).exists(_.contains("DELETE")), msgs(e).toString)
    assert(streamAll(Map("ignoreDeletes" -> "true")) == 100)
  }

  test("property: the changelog replays random append/delete/merge/overwrite/compact schedules") {
    // q_table_cdf pins ONE lifecycle; this is the invariant as a
    // property — for random schedules over every commit class, the
    // changelog of ANY version range must replay the from-snapshot into
    // the to-snapshot exactly (multiset both ways, via assertReplays).
    // Three long schedules run past two log checkpoints and then expire
    // history (runLong below).
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // one random commit per call: append, delete, merge, overwrite or
    // compact (a delete or compact with nothing to do commits nothing)
    def randomCommit(rng: scala.util.Random, t: String, fresh: Int => DataFrame,
        nextId: () => Long, mergedUpTo: Long => Unit): Unit =
      rng.nextInt(10) match {
        case 0 | 1 | 2 => ManifestTable.append(spark, t, fresh(10 + rng.nextInt(20)).coalesce(1))
        case 3 | 4 =>
          val lo = rng.nextLong(math.max(nextId(), 1L))
          ManifestTable.deleteWhere(spark, t, "id", lo,
            lo + (if (rng.nextBoolean()) rng.nextInt(3).toLong else rng.nextInt(40).toLong))
        case 5 | 6 =>
          // merge: half updates to existing ids, half fresh inserts
          val base = rng.nextLong(math.max(nextId(), 1L))
          val upd = spark.range(base, base + 10)
            .select(col("id"), (col("id") % 10).as("k"), (col("id") * 7).as("v"))
          ManifestTable.merge(spark, t, upd, "id")
          mergedUpTo(base + 10)
        case 7 => ManifestTable.overwrite(spark, t, fresh(15).coalesce(1))
        case _ => ManifestTable.compact(spark, t)
      }
    // `long`: commit until the log runs past two checkpoints (v16, v32)
    def runSchedule(seed: Int, long: Boolean = false): String = {
      val rng = new scala.util.Random(9100 + seed)
      val t = freshTable()
      var nextId = 0L
      def fresh(n: Int) = {
        val df = rows(nextId, nextId + n); nextId += n; df
      }
      def commitOnce(): Unit =
        randomCommit(rng, t, fresh, () => nextId, e => nextId = math.max(nextId, e))
      ManifestTable.append(spark, t, fresh(30).coalesce(1))
      if (long) {
        val target = 34 + rng.nextInt(6)
        while (ManifestTable.latestVersion(t).get < target) commitOnce()
      } else for (_ <- 0 until (3 + rng.nextInt(3))) commitOnce()
      val latest = ManifestTable.latestVersion(t).get
      assertReplays(t, -1, latest)
      // and an arbitrary interior range
      val from = rng.nextLong(latest + 1) - 1 // in [-1, latest)
      assertReplays(t, from, latest)
      t
    }
    // past the checkpoints, the drain and the stream source walk the
    // same log: the drain's per-version batches are exactly the range
    // changelog, and the insert-only stream (deletes skipped, rewrites
    // emitted as inserts) equals its batch analog — every version's
    // added files read raw, the skipped ops' files left out. Then expire
    // history: the walk from the oldest retained version (a materialized
    // checkpoint) still replays, and one from before it throws.
    def runLong(seed: Int): Unit = {
      val t = runSchedule(seed, long = true)
      val latest = ManifestTable.latestVersion(t).get
      val drained = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      ChangeFeed.availableNow(spark, t, Files.createTempDirectory("graft-prop-cf").toString) {
        (df, _, _) => drained ++= df.collect(); ()
      }
      val ranged = ManifestTable.readChanges(spark, t, -1, latest).collect()
      assert(drained.map(_.toString).sorted == ranged.map(_.toString).sorted.toSeq,
        s"seed $seed: the drain's batches differ from the changelog (-1, $latest]")
      val name = s"prop_stream_$seed"
      val q = spark.readStream.format("graft.sources.ManifestStreamSource")
        .option("table", t).option("ignoreDeletes", "true").option("ignoreChanges", "true")
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", Files.createTempDirectory("graft-prop-cp").toString)
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), s"seed $seed: stream did not drain")
      finally q.stop()
      val streamed = spark.table(name)
      val skipped = Set("delete", "compact", "cluster", "compact-small")
      val analogFiles = (0L to latest).flatMap { v =>
        if (skipped(ManifestTable.snapshotMeta(t, v).getOrElse("op", "unknown"))) Nil
        else {
          val prev = if (v == 0) Set.empty[String] else ManifestTable.snapshotFiles(t, v - 1).toSet
          ManifestTable.snapshotFiles(t, v).filterNot(prev)
        }
      }
      val analog = spark.read.schema(streamed.schema).parquet(analogFiles: _*)
      assert(streamed.exceptAll(analog).isEmpty && analog.exceptAll(streamed).isEmpty,
        s"seed $seed: the stream differs from its batch analog")
      val rng = new scala.util.Random(9200 + seed)
      val keep = 2 + rng.nextInt(latest.toInt / 2)
      assert(ManifestTable.expireVersions(t, keep) == latest + 1 - keep)
      val oldest = latest + 1 - keep
      assertReplays(t, oldest, latest)
      intercept[java.nio.file.NoSuchFileException] {
        ManifestTable.readChanges(spark, t, -1, latest)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
      ()
    }
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(
      (0 until 50).map(s => Future {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(runSchedule(s)))
      }) ++ (50 until 53).map(s => Future(runLong(s)))), 20.minutes)
    finally pool.shutdown()
  }

  test("changelog derivation opens ONLY the changed files, never the snapshot") {
    // the scale claim as a sharp plan-level assertion (the readPruned
    // file-open discipline, applied to the feed): a 20-file table's
    // per-commit changelog must read the commit's own files + tombstone
    // sidecars — at 100 TB this is what keeps an erasure's feed
    // user-sized while the lake stands still
    val t = freshTable()
    for (b <- 0 until 20)
      ManifestTable.append(spark, t, rows(b * 50L, b * 50L + 50).coalesce(1))
    val all = ManifestTable.snapshotFiles(t, 19)
    assert(all.size == 20)
    def names(fs: Iterable[String]) = fs.map(_.split('/').last).toSet
    // narrow DV delete lands in one file's span
    val vd = ManifestTable.deleteWhere(spark, t, "id", 100, 104)
    val hit = all.filter(f => ManifestTable.statsTypedOf(f).get("id")
      .exists { case ManifestTable.LongStat(lo, hi) => hi >= 100 && lo <= 104; case _ => false })
    assert(hit.size == 1, s"fixture: exactly one file should overlap, got ${hit.size}")
    val dvs = ManifestTable.snapshotDvs(t, vd)
    val opened = names(ManifestTable.readChanges(spark, t, vd - 1, vd).inputFiles)
    assert(opened.subsetOf(names(hit) ++ names(dvs)),
      s"DV changelog must open only the hit file + sidecars, opened $opened")
    assert(names(all.filterNot(hit.toSet)).intersect(opened).isEmpty,
      "untouched snapshot files must never be opened by the feed")
    // an append's changelog opens only the new file (+ carried DV sidecars)
    val va = ManifestTable.append(spark, t, rows(5000, 5050).coalesce(1))
    val added = ManifestTable.snapshotFiles(t, va)
      .filterNot(ManifestTable.snapshotFiles(t, va - 1).toSet)
    val openedA = names(ManifestTable.readChanges(spark, t, va - 1, va).inputFiles)
    assert(openedA.subsetOf(names(added) ++ names(ManifestTable.snapshotDvs(t, va))),
      s"append changelog must open only the added file, opened $openedA")
  }

  test("streaming-source schema parse is nesting-aware: DECIMAL/ARRAY commas survive") {
    import graft.sources.ManifestTable.{sigToSchema, splitTopLevel}
    assert(splitTopLevel("a:BIGINT,b:DECIMAL(12,2),c:ARRAY<FLOAT>,d:STRING") ==
      Seq("a:BIGINT", "b:DECIMAL(12,2)", "c:ARRAY<FLOAT>", "d:STRING"))
    // a committed table with a comma-bearing type: stream DEFINITION
    // must parse its signature cleanly
    val t = freshTable()
    ManifestTable.append(spark, t,
      spark.range(5).select(col("id"),
        col("id").cast("decimal(12,2)").as("d"), (col("id") * 2).as("v")))
    val sch = sigToSchema(ManifestTable.currentSchema(t).get).get
    assert(sch.fieldNames.toSeq == Seq("id", "d", "v"))
    assert(sch("d").dataType == org.apache.spark.sql.types.DecimalType(12, 2))
  }

  test("streaming source across ADD-COLUMN evolution: project-before-restart, null-fill after") {
    val t = freshTable()
    val out = Files.createTempDirectory("graft-mss-evo").toString + "/sink"
    ManifestTable.append(spark, t, rows(0, 100))
    ManifestTable.appendEvolve(spark, t,
      spark.range(100, 120).select(col("id"), (col("id") % 10).as("k"),
        (col("id") * 2).as("v"), (col("id") % 3).as("w")))
    // a FRESH stream infers the evolved schema and must null-fill the
    // pre-evolution files it reads
    val cp = Files.createTempDirectory("graft-mss-evo-cp").toString
    val q = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("table", t).load()
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq == Seq("id", "k", "v", "w"))
    assert(got.count() == 120)
    assert(got.filter(col("id") < 100 && col("w").isNotNull).isEmpty,
      "pre-evolution rows must null-fill the evolved column")
    assert(got.filter(col("id") >= 100 && col("w").isNull).isEmpty)
  }

  test("deleteWhere leaves provably-empty stats-less files untouched") {
    val t = freshTable()
    ManifestTable.append(spark, t, rows(0, 1000))
    ManifestTable.append(spark, t, rows(0, 0)) // zero-row commit → stats-less file(s)
    val before = ManifestTable.snapshotFiles(t, 1).toSet
    val v = ManifestTable.deleteWhere(spark, t, "id", 10, 19) // DV path on the data file
    val after = ManifestTable.snapshotFiles(t, v).toSet
    assert(after == before, "a zero-row file must be neither rewritten nor dropped")
    assert(ManifestTable.read(spark, t).count() == 990)
  }
}
