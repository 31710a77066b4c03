package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Invariants for the retrieval/feature tier (ops/Features) and the new
  * Graph/Quality round-4 operators. */
class FeaturesSuite extends SparkSuite {

  test("chunk_docs: chunks tile every doc — strides of 24, last chunk short, tokens covered") {
    val out = SparkEntry.queries("q_chunk_docs")(spark, sf0001).cache()
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("ntok"))
    // chunk count per doc = ceil(ntok / 24)
    val bad = out.groupBy("doc_id").agg(count(lit(1)).as("k"))
      .join(docs, "doc_id")
      .filter(col("k") =!= expr("CAST((ntok + 23) DIV 24 AS BIGINT)"))
      .count()
    assert(bad == 0, "chunk count must be ceil(ntok/24) per doc")
    // every chunk holds 1..32 tokens; only the LAST chunk may be < 32...
    assert(out.filter(col("n_tok") < 1 || col("n_tok") > 32).count() == 0)
    val shortNonLast = out.as("a").join(out.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.chunk_id") + 1 === col("b.chunk_id"))
      .filter(col("a.n_tok") < 25).count() // a non-final chunk spans a full stride + overlap window start
    assert(shortNonLast == 0, "only the final chunk of a doc may fall below the stride+overlap span")
    out.unpersist()
  }

  test("embed_pca: L-inf fixed point, shared positive Rayleigh quotient, 64 dims") {
    import spark.implicits._
    val out = SparkEntry.queries("q_embed_pca")(spark, sf0001)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 64 && out.map(_._1).toSeq == (0L until 64L))
    val vL: Array[Long] = out.map(_._2)
    assert(vL.map(math.abs).max == 1000L, "L-inf normalized: some component at ±1000")
    val lam = out.map(_._3).distinct
    assert(lam.length == 1 && lam.head > 0, "one shared positive Rayleigh quotient")
  }

  test("pcaTop kernel: recovers a planted dominant direction (|cos| > 0.999)") {
    import graft.ops.Features
    import spark.implicits._
    // planted model: q_k = s_k · 3d + small deterministic noise, with a
    // fixed 16-dim direction d — the eigengap is wide, so 8 integer
    // rounds MUST align (the fixture embeddings are near-isotropic,
    // which is why alignment is pinned here and not there)
    val dims = 16
    val dir = Array.tabulate(dims)(i => (i % 7 - 3).toLong)
    val rows = (0 until 200).map { k =>
      val s = (k % 5 - 2) * 10L
      Array.tabulate(dims)(i => s * dir(i) * 3 + ((k * dims + i) % 11 - 5))
    }
    val df = rows.map(r => Tuple1(r.toSeq)).toDF("q")
    val got = Features.pcaTop(df, rounds = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == dims)
    val v = got.map(_._2.toDouble)
    val dn = math.sqrt(dir.map(x => (x * x).toDouble).sum)
    val vn = math.sqrt(v.map(x => x * x).sum)
    val cos = math.abs((0 until dims).map(i => v(i) * dir(i)).sum / (vn * dn))
    assert(cos > 0.999, s"planted direction must be recovered (|cos|=$cos)")
    assert(got.map(_._3).distinct.length == 1 && got.head._3 > 0)
  }

  test("pcaTop kernel: one-pass GramSumsAgg matches the historic explode algebra on ragged/null input") {
    // the r12 one-pass moment aggregate must reproduce the OLD
    // three-job formulation (posexplode per-dim sums with ROW-count
    // divisor; centered 64²-explode covariance over rows carrying both
    // dims) bit-for-bit — including null rows (count toward n, emit
    // nothing), empty arrays (likewise) and RAGGED lengths (a pair
    // (i,j) sums only over rows long enough to carry both dims)
    import spark.implicits._
    val rows: Seq[Option[Seq[Long]]] = Seq(
      Some(Seq(3L, -7L, 11L, 2L)),
      Some(Seq(-4L, 5L)),           // ragged: shorter
      None,                         // null row: counts toward n only
      Some(Seq.empty[Long]),        // empty: counts toward n only
      Some(Seq(9L, 0L, -2L, 6L)),
      Some(Seq(1L, 2L, 3L)))        // ragged: mid-length
    val df = rows.map(Tuple1(_)).toDF("q")
    assertHistoricPca(df, rows.map(_.map(_.map(Option(_)))))
  }

  test("pcaTop kernel: null ELEMENTS contribute nothing, as in the historic explode algebra") {
    // the explode summed (x_i−μ_i)(x_j−μ_j), null when either side is
    // null, so a null element drops out of its dim's sum and of every
    // pair it is in, while its row still counts toward n; split over
    // partitions so the null corrections also go through merge
    import spark.implicits._
    val rows: Seq[Option[Seq[Option[Long]]]] = Seq(
      Some(Seq(Some(3L), None, Some(11L), Some(2L))),
      Some(Seq(Some(-4L), Some(5L))),
      None,
      Some(Seq(None, None, Some(-2L))),
      Some(Seq(Some(9L), Some(0L), Some(-2L), Some(6L))),
      Some(Seq(Some(1L), Some(2L), Some(3L), None)),
      Some(Seq(Some(7L), Some(-3L), Some(4L), Some(8L))))
    assertHistoricPca(rows.map(Tuple1(_)).toDF("q").repartition(3), rows)
  }

  /** `Features.pcaTop(df, 8)` equals the historic explode algebra over
    * `rows`, computed directly: per-dim sums over present elements with
    * the ROW-count divisor, and the centered covariance of each pair
    * summed over rows holding both elements. */
  private def assertHistoricPca(df: org.apache.spark.sql.DataFrame,
                                rows: Seq[Option[Seq[Option[Long]]]]): Unit = {
    import graft.ops.Features
    import spark.implicits._
    val got = Features.pcaTop(df, rounds = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val present = rows.flatten.filter(_.nonEmpty)
    val n = rows.size.toLong
    val dims = present.map(_.size).max
    def at(r: Seq[Option[Long]], i: Int): Option[Long] = r.lift(i).flatten
    val mu = Array.tabulate(dims)(i => present.flatMap(at(_, i)).sum / n)
    val c = Array.ofDim[Long](dims, dims)
    for (i <- 0 until dims; j <- 0 until dims) {
      c(i)(j) = present.flatMap(r => for (x <- at(r, i); y <- at(r, j)) yield (x - mu(i)) * (y - mu(j))).sum / n
    }
    var v = Array.fill(dims)(1000L)
    for (_ <- 1 to 8) {
      val r = Array.tabulate(dims)(i => (0 until dims).map(j => c(i)(j) * v(j)).sum)
      val mx = r.map(math.abs).max
      v = r.map(x => if (mx == 0) 0L else x * 1000 / mx)
    }
    val cv = Array.tabulate(dims)(i => (0 until dims).map(j => c(i)(j) * v(j)).sum)
    val num = (0 until dims).map(i => v(i) * cv(i)).sum
    val den = (0 until dims).map(i => v(i) * v(i)).sum
    val lam = if (den == 0) 0L else num * 1000 / den
    assert(got.length == dims)
    (0 until dims).foreach { i =>
      assert(got(i)._2 == v(i), s"dim $i eigenvector component")
      assert(got(i)._3 == lam, s"dim $i Rayleigh quotient")
    }
  }

  test("index_inverted: postings are sorted, bounded at 8, and df >= postings length") {
    val out = SparkEntry.queries("q_index_inverted")(spark, sf0001).cache()
    val rows = out.collect()
    assert(rows.nonEmpty, "fixture vocabulary must yield tokens with df >= 5")
    rows.foreach { r =>
      val df = r.getLong(1)
      val ids = r.getString(2).split(",").map(_.toLong)
      assert(ids.length <= 8, "postings capped at 8")
      assert(ids.sorted.sameElements(ids), "postings sorted ascending")
      assert(df >= ids.length, s"df $df < postings ${ids.length}")
      assert(df >= 5)
    }
    out.unpersist()
  }

  test("event_path: trigram counts conserve the per-user window arithmetic") {
    val out = SparkEntry.queries("q_event_path")(spark, sf0001)
    val total = SparkEntry.queries("q_event_path")(spark, sf0001)
      .agg(sum("cnt")).head.getLong(0)
    // each user with n >= 3 events contributes exactly n-2 trigrams;
    // top-20 can only undercount
    val full = Tables.events(spark, sf0001).groupBy("user_id")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 3)
      .agg(sum(col("n") - 2)).head.getLong(0)
    assert(total <= full)
    assert(out.count() == 20)
  }

  test("feat_scale: normalized values span [0, 1000] and are exact per-mille") {
    val out = SparkEntry.queries("q_feat_scale")(spark, sf0001).cache()
    assert(out.filter(col("norm_x1000") < 0 || col("norm_x1000") > 1000).count() == 0)
    // recompute one group's normalization independently
    val mm = Tables.events(spark, sf0001)
      .filter(col("event_type") === "click")
      .agg(min(expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")).as("mn"),
        max(expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")).as("mx"))
      .head
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val bad = out.filter(col("event_type") === "click")
      .filter(col("norm_x1000") =!= expr(s"((cents - $mn) * 1000) DIV ${mx - mn}")).count()
    assert(bad == 0, "per-mille arithmetic must reproduce independently")
    out.unpersist()
  }

  test("feat_hash: buckets stay in [0, 64) and counts conserve token totals") {
    val out = SparkEntry.queries("q_feat_hash")(spark, sf0001).cache()
    assert(out.filter(col("bucket") < 0 || col("bucket") >= 64).count() == 0)
    val hashed = out.agg(sum("cnt")).head.getLong(0)
    val tokens = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 10 === 0)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).count()
    assert(hashed == tokens, "every token lands in exactly one bucket")
    out.unpersist()
  }

  test("agg_corr: matches Spark's native corr/regr on the same data to 4 dp") {
    val out = SparkEntry.queries("q_agg_corr")(spark, sf0001).cache()
    val native = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag").as("rf"))
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("sl"))
    val joined = out.join(native, "rf").collect()
    joined.foreach { r =>
      val (ours, theirs) = (r.getAs[Double]("corr_qp"), r.getAs[Double]("c"))
      assert(math.abs(ours - theirs) < 5e-4, s"corr drift: $ours vs $theirs")
      val (slope, nslope) = (r.getAs[Double]("slope"), r.getAs[Double]("sl"))
      assert(math.abs(slope - nslope) < 5e-4, s"slope drift: $slope vs $nslope")
    }
    assert(joined.length == 3)
    out.unpersist()
  }

  test("graph_sssp: distances satisfy the triangle inequality over every edge") {
    import spark.implicits._
    // kernel-level check on a hand-built chain + shortcut graph
    val v = (0L to 5L).toDF("id")
    val e = Seq((0L, 1L, 10L), (1L, 2L, 10L), (2L, 3L, 10L), (0L, 3L, 25L), (4L, 5L, 1L))
      .toDF("src", "dst", "cost")
    val d = ops.Graph.shortestPaths(v, e, 0L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(0) == 0 && d(1) == 10 && d(2) == 20 && d(3) == 25)
    assert(d(4) == 1000000000000000L && d(5) == 1000000000000000L, "unreached keeps sentinel")
    // declared query: source at 0, all finite dists obey relaxation on the real graph
    val out = SparkEntry.queries("q_graph_sssp")(spark, sf0001)
    assert(out.filter(col("nationkey") === 0).head.getLong(1) == 0)
    assert(out.filter(col("dist") < -1).count() == 0)
  }

  test("dq_freshness: exactly one type is fully fresh (lag 0) and lags are non-negative") {
    val out = SparkEntry.queries("q_dq_freshness")(spark, sf0001).cache()
    assert(out.filter(col("lag_us") === 0).count() >= 1)
    assert(out.filter(col("lag_us") < 0).count() == 0)
    val n = out.agg(sum("n")).head.getLong(0)
    assert(n == Tables.events(spark, sf0001).count(), "counts conserve")
    out.unpersist()
  }
}
