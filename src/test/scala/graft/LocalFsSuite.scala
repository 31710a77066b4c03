package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.{NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.StreamOps

/** The fork-free local filesystem [[Engine.init]] installs: it answers
  * exactly as Hadoop's `RawLocalFileSystem` does, and a checkpointed
  * stateful stream on it starts no `chmod` or `readlink` process. */
class LocalFsSuite extends SparkSuite {
  import spark.implicits._

  private def local[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration()); fs
  }
  private lazy val raw = local(new RawLocalFileSystem)
  private lazy val nio = local(new NioRawLocalFileSystem)

  private def hpath(p: JPath): Path = new Path(p.toUri)

  test("getFileLinkStatus: same answer as RawLocalFileSystem on files, dirs and symlinks") {
    val dir = Files.createTempDirectory("graft-lfs")
    val file = Files.write(dir.resolve("f"), "twelve bytes".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("x"), dir.resolve("gone"))
    def view(fs: RawLocalFileSystem, p: Path): Either[Class[_], Any] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen))
      } catch { case e: java.io.IOException => Left(e.getClass) }
    // both path forms: the parent hands `readlink` the path's string, so
    // it sees symlinks only in a scheme-less path, and a `file:` one
    // (what FileContext passes) reads as the link's target
    for (p <- Seq(file, sub, link, dangling); hp <- Seq(hpath(p), new Path(p.toString)))
      assert(view(nio, hp) == view(raw, hp), s"$hp")
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    Seq(raw, nio).foreach { fs =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(dir.resolve("missing"))))
    }
  }

  test("setPermission: same POSIX mode as RawLocalFileSystem, sticky bit included") {
    val dir = Files.createTempDirectory("graft-lfs")
    def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    Seq(0x180 /* 0600 */, 0x1a4 /* 0644 */, 0x1c0 /* 0700 */, 0x1ed /* 0755 */,
        0x3ed /* 01755 */).foreach { m =>
      val perm = new FsPermission(m.toShort)
      Seq("file", "dir").foreach { kind =>
        val Seq(a, b) = Seq("raw", "nio").map { side =>
          val p = dir.resolve(f"$kind-$side-$m%o")
          if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
        }
        raw.setPermission(hpath(a), perm)
        nio.setPermission(hpath(b), perm)
        assert((mode(b) & 0xfff) == (mode(a) & 0xfff), f"$kind mode $m%o")
        assert((mode(b) & 0xfff) == m, f"$kind mode $m%o")
      }
    }
  }

  test("Engine.init: streaming checkpoints go through NioLocalFs and fork no chmod/readlink; restart converges") {
    Engine.init(spark)
    val fc = FileContext.getFileContext(new URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])

    val events = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "event_type", "value", "t").cache()
    val rows = events.orderBy("t", "event_id").as[Ev].collect().toSeq
    val n = rows.size
    val chunks = (0 until 4).map(k => rows.slice(k * n / 4, (k + 1) * n / 4))
    val ckpt = Files.createTempDirectory("graft-ckpt")
    val totals = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)]
    val pairs = new java.util.concurrent.atomic.AtomicLong
    val totalsIn = MemoryStream(Encoders.product[Ev], spark.sqlContext)
    val joinIn = MemoryStream(Encoders.product[Ev], spark.sqlContext)
    def start() = {
      val typed = totalsIn.toDS().map(e => StreamOps.EvRow(
        e.event_id, e.user_id, e.event_type, math.round(e.value * 100), e.t))
      val t = StreamOps.statefulPurchaseTotals(typed).toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.resolve("totals").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("user_id", "n_purch", "cents").as[(Long, Long, Long)].collect().foreach {
            case (u, np, c) => totals.updateWith(u)(old => Some(old.filter(_._1 > np).getOrElse((np, c))))
          }
          ()
        }.start()
      val df = joinIn.toDF()
      val j = StreamOps.clickToPurchase(
          StreamOps.withWm(df.filter(col("event_type") === "click")),
          StreamOps.withWm(df.filter(col("event_type") === "purchase")))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.resolve("join").toString)
        .foreachBatch { (b: DataFrame, _: Long) => pairs.addAndGet(b.count()); () }
        .start()
      Seq(t, j)
    }
    def feed(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery], c: Seq[Ev]): Unit = {
      totalsIn.addData(c); joinIn.addData(c)
      qs.foreach(_.processAllAvailable())
    }

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    val q1 = start()
    try {
      rec.start()
      chunks.take(3).foreach(feed(q1, _))
      rec.stop()
      rec.dump(jfr)
    } finally { q1.foreach(_.stop()); rec.close() }
    val forks = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    val tools = forks.map(c => c.split(' ').head.split('/').last).toSet
    assert(!tools.contains("chmod") && !tools.contains("readlink"), s"forked: ${forks.take(5)}")

    val q2 = start() // restart from the same checkpoints
    try feed(q2, chunks(3)) finally q2.foreach(_.stop())
    val want = StreamOps.purchaseTotalsBatch(events).as[(Long, Long, Long)].collect()
      .map { case (u, np, c) => u -> (np, c) }.toMap
    assert(totals.toMap == want && want.nonEmpty)
    val wantPairs = StreamOps.clickToPurchase(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase")).count()
    assert(pairs.get == wantPairs)
    events.unpersist()
  }
}
