package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed loop, one client: the analyst-facing query surface. A pass runs
  * the fixed list below and collects every row of every query to the
  * client, so work a `count()` would let the optimizer delete is paid for.
  * Whole passes only, so every query weighs the same.
  *
  * The first pass of a session is measured: it pays the JIT, code
  * generation and the engine's session memos, as a fresh session does; a
  * warm pass on top of it does not fit the run length. Its order is fixed:
  * in a cold pass the queries that run first pay most of the JIT, so a
  * seeded order would make each query's latency a function of the seed.
  * The seed orders any later pass. */
object QueryMix extends Workload {

  /** One or more queries from every `graft.ops` module except
    * `ops.Quality` (its lake lifecycles belong to lake_rw): the job-heavy
    * iterative queries, light relational / TPC-H / window queries, a
    * native `graft.expr` aggregate (q_embed_pca's GramSumsAgg), and queries
    * whose work `count()` elides (q_join_asof_near). */
  val Queries: Seq[String] = Seq(
    // job-heavy iterative (Graph, Warehouse, TextSim)
    "q_graph_kcore", "q_recursive_cte", "q_hybrid_rrf",
    // as-of window that count() never computes (Joins)
    "q_join_asof_near",
    // one light query from each remaining module, TPC-H and windows among them
    "q_project_expr", "q_agg_approx_distinct", "q_win_rank", "q_json_extract", "q_udaf_wavg",
    "q_stream_tumble", "q_dedup_minhash", "q_cep_pattern", "q_agg_sketch_merge",
    "q_tpch_q1", "q_embed_pca", "q_source_csv", "q_text_simpson", "q_fold_assign")

  /** The queries the traced run also times under `count()`: the job-heavy
    * ones and the as-of window, where `count()` can elide the most. */
  val CountChecked: Seq[String] = Queries.take(4)

  /** Sketches with no oracle: checked against exact counts within the
    * bounds their tests pin. */
  val Sketches: Seq[String] = Seq("q_agg_approx_distinct", "q_agg_sketch_merge")

  case class P(spark: SparkSession, fixtures: String)
  type Prepared = P

  private def build(spark: SparkSession, fixtures: String, q: String): DataFrame =
    graft.SparkEntry.queries(q)(spark, fixtures)

  private def collect(df: DataFrame): (Array[Row], StructType) = (df.collect(), df.schema)

  /** Write one execution's rows for the oracle check, outside the timing. */
  private def dump(p: P, ctx: Ctx, q: String, res: (Array[Row], StructType)): Unit =
    p.spark.createDataFrame(java.util.Arrays.asList(res._1: _*), res._2).coalesce(1)
      .write.mode("overwrite").parquet(s"${ctx.root}/results/$q")

  def setup(spark: SparkSession, ctx: Ctx, dir: String): Prepared = {
    graft.Engine.init(spark)
    P(spark, ctx.fixtures)
  }

  /** Table preparation only: open every fixture table through
    * `graft.Tables` (schema and footer reads; no rows are scanned). */
  def warmUp(p: P, ctx: Ctx): Unit =
    graft.Tables.all.foreach(t => graft.Tables(p.spark, p.fixtures, t).schema)

  def teardown(p: Prepared): Unit = ()

  def measure(p: Prepared, ctx: Ctx, tracer: Option[Tracer]): Outcome = {
    val rnd = new Random(ctx.seed)
    val lat = ArrayBuffer.empty[Double]
    val runs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var failed = 0L
    var untimedNs = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0 - untimedNs) / 1e9
    var pass = 0
    while (elapsed < ctx.seconds) {
      (if (pass == 0) Queries else rnd.shuffle(Queries)).foreach { q =>
        val s = System.nanoTime()
        try {
          val res = tracer match {
            case Some(t) => t.op("query")(build(p.spark, p.fixtures, q))(collect)
            case None => collect(build(p.spark, p.fixtures, q))
          }
          lat += (System.nanoTime() - s) / 1e9
          if (runs(q) == 0) {
            val d = System.nanoTime()
            dump(p, ctx, q, res)
            untimedNs += System.nanoTime() - d
          }
          runs(q) += 1
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[query_mix] $q failed: ${e.getMessage}")
        }
      }
      pass += 1
    }
    val wall = elapsed
    val n = lat.size
    val e2e = Map("latency_p50_s" -> Stats.hdMedian(lat.toSeq), "throughput_per_s" -> n / wall)
    val layers = tracer.map { t =>
      val common = Layers.common(t, ctx, wall, n)
      // count() vs collected time per query, once each, after the window
      var countS, collectS = 0.0
      CountChecked.foreach { q =>
        val a = System.nanoTime(); build(p.spark, p.fixtures, q).count()
        val b = System.nanoTime(); collect(build(p.spark, p.fixtures, q))
        countS += (b - a) / 1e9; collectS += (System.nanoTime() - b) / 1e9
      }
      common + ("exec.count_elided_share" -> (1 - countS / collectS))
    }.getOrElse(Map.empty)
    Outcome(n + failed, failed, e2e, layers,
      Map("samples" -> n, "wall_s" -> wall,
        "runs" -> runs.toMap, "queries" -> Queries, "sketches" -> Sketches,
        "oracle" -> Queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }
}
