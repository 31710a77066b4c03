package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.TopK
import graft.ops.Dedup
import graft.streaming.StreamOps

/** Degenerate-input behavior of the library entry points: empty tables,
  * single rows, corpora with no qualifying pairs. At 100 TB these shapes
  * appear constantly (an empty partition, a lang slice with one doc, a
  * date range with no events) — operators must return empty/identity
  * results, never throw. */
class EdgeCaseSuite extends SparkSuite {
  import spark.implicits._

  private def emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  private def oneDoc =
    Seq((1L, "a b c d e f")).toDF("doc_id", "text")

  test("events loader contract: ts is µs-aligned epoch nanos and t is its exact timestamp") {
    // the 2026-08-13 fixture regeneration changed the parquet physical
    // type under us once (NANOS → MICROS); this pins the reconstructed
    // contract every ts consumer assumes, so a future regeneration that
    // breaks it fails HERE with a named assertion, not in 40 queries
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(ev.schema("t").dataType == org.apache.spark.sql.types.TimestampType)
    val bad = ev.filter(
      col("ts") % 1000 =!= 0 ||
      col("t") =!= expr("timestamp_micros(ts DIV 1000)")).count()
    assert(bad == 0)
    // values are real 2024 event times, not zero/garbage
    val (lo, hi) = ev.agg(min("ts"), max("ts")).as[(Long, Long)].head()
    assert(lo > 1700000000L * 1000000000L && hi < 1800000000L * 1000000000L)
  }

  test("dedup joins: empty corpus gives empty pairs, one doc gives no pairs") {
    assert(Dedup.prefixPairs(emptyDocs).count() == 0)
    assert(Dedup.minhashPairs(emptyDocs).count() == 0)
    assert(Dedup.prefixPairs(oneDoc).count() == 0)
    assert(Dedup.minhashPairs(oneDoc).count() == 0)
    assert(Dedup.containPairs(emptyDocs).count() == 0)
    assert(Dedup.containPairs(oneDoc).count() == 0)
  }

  test("simhash pair stages: empty and 1-row signature tables give empty pairs") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "sig")
    val one = Seq((1L, 0x0123456789abcdefL)).toDF("doc_id", "sig")
    assert(Dedup.simhashPairsBanded(empty).count() == 0)
    assert(Dedup.simhashPairsNaive(empty).count() == 0)
    assert(Dedup.simhashPairsBanded(one).count() == 0)
    assert(Dedup.simhashPairsNaive(one).count() == 0)
    // identical signatures pair at hd=0 through both stages
    val twin = Seq((1L, 42L), (2L, 42L)).toDF("doc_id", "sig")
    assert(Dedup.simhashPairsBanded(twin).as[(Long, Long, Long)].head() == ((1L, 2L, 0L)))
  }

  test("Dedup.clearCaches releases the shared checkpoint caches and results rebuild") {
    // warm both cache layers, clear, re-run — same answer, no throw
    Dedup.clearCaches() // from empty caches, the warm-up fills one entry in each
    val before = SparkEntry.queries("q_dedup_near")(spark, sf0001).count()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    Dedup.clearCaches()
    // both checkpoints' blocks are released, not just dropped from the map
    assert(spark.sparkContext.getPersistentRDDs.size == persisted - 2)
    val after = SparkEntry.queries("q_dedup_near")(spark, sf0001).count()
    assert(before == after)
  }

  test("connectedComponents: empty edge list gives empty labels; self-loop is a singleton") {
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("d1", "d2")).count() == 0)
    val self = Dedup.connectedComponents(Seq((7L, 7L)).toDF("d1", "d2"))
      .as[(Long, Long)].collect().toSet
    assert(self == Set((7L, 7L)))
  }

  test("TopK.perGroup: k larger than any group returns whole groups; empty input returns empty") {
    val df = Seq((1, 10), (1, 20), (2, 30)).toDF("g", "v")
    val all = TopK.perGroup(df, Seq("g"), Seq(("v", true)), 100)
    assert(all.count() == 3)
    val empty = TopK.perGroup(df.filter(col("g") > 99), Seq("g"), Seq(("v", true)), 3)
    assert(empty.count() == 0)
  }

  test("streaming transforms run on empty batch input") {
    val noEv = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "t")
    assert(StreamOps.dailyUv(noEv).count() == 0)
    assert(StreamOps.tumblingDaily(noEv.withColumn("event_type", lit("x"))
      .withColumn("value", lit(0.0))).count() == 0)
  }

  test("graph kernels: empty edge set degenerates cleanly") {
    import graft.ops.Graph
    val verts = Seq(1L, 2L, 3L, 4L).toDF("id")
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    // no edges → every vertex keeps exactly the teleport mass at every
    // iteration: (15 * (10^12 DIV 4)) DIV 100, fixed point of the update
    val ranks = Graph.pagerank(verts, noEdges, 3).as[(Long, Long)].collect().toMap
    assert(ranks.keySet == Set(1L, 2L, 3L, 4L))
    assert(ranks.values.toSet == Set(15L * (1000000000000L / 4) / 100))
    assert(Graph.triangleCounts(Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
  }

  test("graph kernels: 4-clique triangle counts and rank ordering on a directed path") {
    import graft.ops.Graph
    // K4: each vertex sits in C(3,2)=3 triangles
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("a", "b")
    val tri = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(tri == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 1→2→3: rank mass accumulates downstream, source keeps teleport only
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pagerank(verts, path, 3).as[(Long, Long)].collect().toMap
    assert(r(1L) < r(2L) && r(2L) < r(3L), r.toString)
  }

  test("jaccard link-prediction kernel: path, clique, and empty degenerate cases") {
    import graft.ops.Graph
    // path 1-2-3: the only candidate is (1,3) with one shared neighbor,
    // deg(1)=deg(3)=1 → jaccard = 1/(1+1-1) = exactly 10^6 ppm
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Graph.jaccardCandidates(path)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 1000000L)), got.toString)
    // K3: every pair is already adjacent → no candidates at all
    val k3 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    assert(Graph.jaccardCandidates(k3).count() == 0)
    // empty input → empty output
    assert(Graph.jaccardCandidates(Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
  }

  test("kmeans kernel: separated clusters assign to their seed, passthrough survives") {
    import graft.ops.TrainingOps
    val vecs = Seq(
      (1L, Seq(0L, 0L), "a"), (2L, Seq(1L, 1L), "b"),
      (3L, Seq(100L, 100L), "c"), (4L, Seq(101L, 99L), "d"))
      .toDF("vec_id", "q", "tag")
    val seeds = Seq((1L, Seq(0L, 0L)), (3L, Seq(100L, 100L))).toDF("cid", "c")
    val out = TrainingOps.kmeans(vecs, seeds, rounds = 1)
      .select("vec_id", "cid", "tag").as[(Long, Long, String)].collect().toSet
    assert(out == Set((1L, 1L, "a"), (2L, 1L, "b"), (3L, 3L, "c"), (4L, 3L, "d")))
  }

  test("format sinks degrade cleanly on empty input: write then schema-first read give zero rows") {
    // a legitimate filter can produce an empty day at scale; the
    // write→read path must yield an empty table, not throw
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    empty.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/p")
    assert(spark.read.schema(schema).parquet(s"$dir/p").count() == 0)
    empty.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    assert(spark.read.schema(schema).option("header", "true").csv(s"$dir/c").count() == 0)
    empty.write.mode("overwrite").json(s"$dir/j")
    assert(spark.read.schema(schema).json(s"$dir/j").count() == 0)
  }

  test("vocab growth: a one-token document is skipped, not an ANSI index crash") {
    // sequence(1, size(ws)-1) with one token is sequence(1, 0) = [1, 0]
    // (DESCENDING), so an unguarded transform evaluates ws[-1] →
    // INVALID_ARRAY_INDEX under ANSI mode; the fixture just happens to
    // have no such docs, so this synthetic corpus pins the guard
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-vocab").toString
    Seq((0L, "solo", "en", "web", 4L), (1L, "", "en", "web", 0L),
        (2L, "a b c", "en", "web", 5L), (3L, "d e", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.ops.Mining.queries("q_text_vocab_growth")(spark, dir)
      .as[(Long, Long, Long)].collect()
    // bigrams: doc2 → "a b","b c" (decile 5), doc3 → "d e" (decile 7);
    // docs 0/1 contribute nothing and must not throw
    assert(out.toSeq == Seq((5L, 2L, 2L), (7L, 1L, 3L)))
  }

  test("score decay: age >= 64 days weighs exactly zero, not a wrapped shift") {
    // Java shifts mask the count mod 64: unclamped, 1048576L >> 84 =
    // 1048576 >> 20 = 1, silently resurrecting year-old events; the
    // clamp must zero everything past the 20-bit budget
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-decay").toString
    Seq((0L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), 1L, "view", 100.0, "{}"),
        (1L, java.sql.Timestamp.valueOf("2024-03-09 00:00:00"), 1L, "view", 500.0, "{}"), // age 84
        (2L, java.sql.Timestamp.valueOf("2024-05-31 00:00:00"), 2L, "view", 10.0, "{}"))  // age 1
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val byUser = graft.ops.Warehouse.queries("q_score_decay")(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // user 1: age-0 event 100.00 → 10000¢ * 2^20; age-84 event MUST be 0
    assert(byUser(1L) == ((2L, 10000L * 1048576L)),
      s"age-84 event must decay to exactly zero, got ${byUser(1L)}")
    // user 2: age 1 → 1000¢ * 2^19
    assert(byUser(2L) == ((1L, 1000L * 524288L)))
  }

  test("shingle arrays: doc shorter than k yields no row; duplicates collapse") {
    val docs = Seq((1L, "a b"), (2L, "x y z x y z")).toDF("doc_id", "text")
    val arr = Dedup.docShingleArrays(docs).as[(Long, Seq[String], Long)].collect()
      .map { case (k, v, n) => k -> (v, n) }.toMap
    assert(!arr.contains(1L), "2-token doc has no 3-shingles")
    assert(arr(2L)._1.distinct.size == arr(2L)._1.size, "array holds distinct shingles")
    assert(arr(2L)._2 == arr(2L)._1.size.toLong)
  }
}
