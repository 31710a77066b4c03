package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.Dsl.dec

/** Retrieval / feature-engineering tier (round 4, SURVEY.md §2.J
  * extension): the operators that sit between a cleaned corpus and a
  * training or serving job —
  *
  *  - context-window CHUNKING of documents (overlapping token windows,
  *    the RAG / pretraining shard-prep step);
  *  - an INVERTED INDEX projection (token → df + bounded postings list,
  *    the batch side of a search/retrieval build);
  *  - user PATH mining over the event stream (top event-type trigrams,
  *    the product-analytics "navigation paths" report);
  *  - per-group MIN-MAX feature scaling to integer per-mille (the
  *    featurization normalizer, exact under any partitioning);
  *  - HASHED feature buckets (the feature-hashing trick, md5-derived so
  *    both engines agree bit-for-bit);
  *  - exact Pearson CORRELATION + OLS regression per group from decimal
  *    sums (the profiling statistics `corr`/`regr_slope`/`regr_intercept`
  *    expose, computed order-independently).
  *
  * Determinism (SURVEY.md §2.0): everything integer or decimal-exact up
  * to a final shared-IEEE double expression (corr/slope/intercept follow
  * the proven q_agg_stats pattern: exact decimal sums, then an identical
  * double formula and round(.,4) on both engines).
  *
  * Scale notes (100 TB):
  *  - chunking and hashing are narrow, shuffle-free, codegen'd projections;
  *  - the inverted index bounds per-token state BEFORE aggregation
  *    (row_number ≤ 8 under the token partitioning, which the df count
  *    and the join then REUSE — one exchange for the whole build);
  *  - min-max scaling broadcasts a groups-sized aggregate back over the
  *    fact table — the fact side never shuffles;
  *  - path mining shuffles once by user (the window), then the trigram
  *    count is map-side combinable and the top-20 is TakeOrdered.
  */
object Features {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk_docs" -> qChunkDocs,
    "q_index_inverted" -> qIndexInverted,
    "q_event_path" -> qEventPath,
    "q_feat_scale" -> qFeatScale,
    "q_feat_hash" -> qFeatHash,
    "q_feat_target_encode" -> qFeatTargetEncode,
    "q_agg_corr" -> qAggCorr,
    "q_embed_pca" -> qEmbedPca
  )

  /** Truncate-TOWARD-ZERO integer division text: Spark's `DIV` truncates
    * toward zero while DuckDB's `//` floors toward −∞, so the two differ
    * by one on negative numerators — this CASE pins both engines to the
    * toward-zero convention. `b` must be positive. `op` is `DIV` when
    * compiled by Spark, `//` when embedded in oracle SQL. */
  private def tdiv(a: String, b: String, op: String = "DIV"): String =
    s"(CASE WHEN ($a) >= 0 THEN ($a) $op ($b) ELSE -((-($a)) $op ($b)) END)"

  /** Shared IEEE-double formula text for corr/slope/intercept — the SAME
    * string is compiled by Spark and DuckDB, so every multiply/divide/sqrt
    * happens in the same order on the same correctly-rounded doubles. */
  private val covTxt = "(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
  private val varxTxt = "(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))"
  private val varyTxt = "(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))"
  private val corrTxt = s"round($covTxt / sqrt($varxTxt * $varyTxt), 4)"
  private val slopeTxt = s"round($covTxt / $varxTxt, 4)"
  private val interceptTxt =
    s"round((CAST(sy AS DOUBLE) - ($covTxt / $varxTxt) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4)"

  private def pcaStepSql(prev: String, k: Int): String =
    s"""r$k AS (SELECT cov.i, SUM(cov.c * pv.v) AS r
               FROM cov JOIN $prev pv ON pv.i = cov.j GROUP BY 1),
        m$k AS (SELECT MAX(ABS(r)) AS mx FROM r$k),
        v$k AS MATERIALIZED (
          SELECT i, CAST(CASE WHEN mx = 0 THEN 0
                              ELSE ${tdiv("r * 1000", "mx", "//")} END AS BIGINT) AS v
          FROM r$k, m$k)"""

  val oracle: Map[String, String] = Map(
    "q_embed_pca" ->
      s"""WITH e AS (SELECT vec_id,
                            list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 127) AS BIGINT)) AS q
                     FROM embeddings),
          nn AS (SELECT count(*) AS n FROM e),
          ds AS (SELECT unnest(generate_series(1, 64)) AS ii),
          el AS (SELECT vec_id, ii - 1 AS i, q[ii] AS v FROM e CROSS JOIN ds),
          mu AS (SELECT i, ${tdiv("SUM(v)", "(SELECT n FROM nn)", "//")} AS mu
                 FROM el GROUP BY i),
          ce AS MATERIALIZED (
            SELECT el.vec_id, el.i, el.v - mu.mu AS cq
            FROM el JOIN mu USING (i)),
          cov AS MATERIALIZED (
            SELECT a.i, b.i AS j,
                   ${tdiv("SUM(a.cq * b.cq)", "(SELECT n FROM nn)", "//")} AS c
            FROM ce a JOIN ce b ON a.vec_id = b.vec_id GROUP BY 1, 2),
          v0 AS (SELECT i, CAST(1000 AS BIGINT) AS v FROM mu),
          ${pcaStepSql("v0", 1)},
          ${pcaStepSql("v1", 2)},
          ${pcaStepSql("v2", 3)},
          ${pcaStepSql("v3", 4)},
          ${pcaStepSql("v4", 5)},
          ${pcaStepSql("v5", 6)},
          ${pcaStepSql("v6", 7)},
          ${pcaStepSql("v7", 8)},
          cv AS (SELECT cov.i, SUM(cov.c * pv.v) AS cv
                 FROM cov JOIN v8 pv ON pv.i = cov.j GROUP BY 1),
          lam AS (SELECT SUM(v8.v * cv.cv) AS num, SUM(v8.v * v8.v) AS den
                  FROM cv JOIN v8 ON cv.i = v8.i)
          SELECT CAST(i AS BIGINT) AS dim, v AS v_x1000,
                 (SELECT CAST(CASE WHEN den = 0 THEN 0
                              ELSE ${tdiv("num * 1000", "den", "//")} END AS BIGINT)
                  FROM lam) AS lambda_x1000
          FROM v8 ORDER BY dim""",
    "q_chunk_docs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         c AS (SELECT doc_id, w, len(w) AS ntok,
                      unnest(generate_series(0, (len(w) + 23) // 24 - 1)) AS ci
               FROM d)
         SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
                CAST(least(32, ntok - ci * 24) AS BIGINT) AS n_tok,
                w[ci * 24 + 1] AS first_tok,
                w[ci * 24 + least(32, ntok - ci * 24)] AS last_tok
         FROM c ORDER BY doc_id, chunk_id""",
    "q_index_inverted" ->
      """WITH words AS (SELECT DISTINCT doc_id, w FROM
                          (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                        WHERE len(w) > 0),
         df AS (SELECT w, count(*) AS df FROM words GROUP BY w),
         p AS (SELECT w, array_to_string(list_slice(array_agg(doc_id ORDER BY doc_id), 1, 8), ',') AS postings
               FROM words GROUP BY w)
         SELECT df.w AS token, CAST(df.df AS BIGINT) AS df, p.postings
         FROM df JOIN p ON df.w = p.w
         WHERE df.df >= 5 ORDER BY df.df DESC, token LIMIT 100""",
    "q_event_path" ->
      """WITH s AS (SELECT user_id, event_type,
                           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
                           lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
                    FROM events)
         SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS cnt
         FROM s WHERE e3 IS NOT NULL
         GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20""",
    "q_feat_scale" ->
      """WITH c AS (SELECT event_id, event_type,
                           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                    FROM events),
         mm AS (SELECT event_type, MIN(cents) AS mn, MAX(cents) AS mx FROM c GROUP BY 1)
         SELECT c.event_id, c.event_type, c.cents,
                CASE WHEN mm.mx = mm.mn THEN CAST(0 AS BIGINT)
                     ELSE ((c.cents - mm.mn) * 1000) // (mm.mx - mm.mn) END AS norm_x1000
         FROM c JOIN mm ON c.event_type = mm.event_type
         WHERE c.event_id % 20 = 0 ORDER BY c.event_id""",
    "q_feat_hash" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents WHERE doc_id % 10 = 0)
         SELECT doc_id,
                CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT) % 64 AS bucket,
                count(*) AS cnt
         FROM w WHERE len(w) > 0
         GROUP BY 1, 2 ORDER BY doc_id, bucket""",
    "q_feat_target_encode" ->
      """WITH o AS (
           SELECT o_orderpriority AS category,
                  CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 3)) AS BIGINT) % 5 AS fold,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
           FROM orders),
         pf AS (SELECT fold, category, count(*) AS n_f,
                       CAST(SUM(cents) AS BIGINT) AS s_f
                FROM o GROUP BY 1, 2),
         c AS (SELECT category, CAST(SUM(n_f) AS BIGINT) AS n_c,
                      CAST(SUM(s_f) AS BIGINT) AS s_c FROM pf GROUP BY 1),
         t AS (SELECT CAST(SUM(n_f) AS BIGINT) AS nt,
                      CAST(SUM(s_f) AS BIGINT) AS st FROM pf)
         SELECT pf.fold, pf.category AS category, (c.n_c - pf.n_f) AS n_out,
                (c.s_c - pf.s_f + 10 * (t.st // t.nt)) // (c.n_c - pf.n_f + 10)
                  AS enc_cents
         FROM pf JOIN c ON pf.category = c.category, t
         ORDER BY pf.fold, pf.category""",
    "q_agg_corr" ->
      s"""WITH s AS (SELECT l_returnflag AS rf, count(*) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
                   SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
                   SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
            FROM lineitem GROUP BY 1)
         SELECT rf, CAST(n AS BIGINT) AS n, $corrTxt AS corr_qp,
                $slopeTxt AS slope, $interceptTxt AS intercept
         FROM s ORDER BY rf"""
  )

  /** Overlapping token chunks: 32-token windows on a 24-token stride
    * (8-token overlap), one chunk per stride start below ntok — the
    * context-window prep a pretraining/RAG shard writer runs. Pure
    * narrow projection (split → sequence → explode): no shuffle at all
    * before the output sort, so at 100 TB it scales linearly with input
    * bytes and pipelines into the shard write. */
  private def qChunkDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("ntok"))
      .select(col("doc_id"), col("w"), col("ntok"),
        explode(expr("sequence(0, CAST((ntok + 23) DIV 24 AS INT) - 1)")).as("ci"))
      .select(
        col("doc_id"),
        col("ci").cast(LongType).as("chunk_id"),
        expr("CAST(least(32, ntok - ci * 24) AS BIGINT)").as("n_tok"),
        expr("element_at(w, CAST(ci * 24 + 1 AS INT))").as("first_tok"),
        expr("element_at(w, CAST(ci * 24 + least(32, ntok - ci * 24) AS INT))").as("last_tok"))
      .orderBy("doc_id", "chunk_id")

  /** Inverted-index projection: token → document frequency + the first 8
    * posting doc_ids, for tokens with df ≥ 5, top-100 by df. The posting
    * list is bounded BEFORE aggregation: row_number ≤ 8 under the token
    * partitioning caps per-token state at 8 rows no matter how skewed the
    * token distribution is (a stopword with 10⁹ postings would otherwise
    * OOM a collect_list). The df count and the final join both reuse the
    * same token hash partitioning — one exchange end-to-end. */
  private def qIndexInverted(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    val byTok = Window.partitionBy(col("w")).orderBy(col("doc_id"))
    val posts = words
      .withColumn("rn", row_number().over(byTok))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .filter(col("rn") <= 8)
      .groupBy(col("w"), col("df"))
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
    posts
      .filter(col("df") >= 5)
      .select(col("w").as("token"), col("df"), col("postings"))
      .orderBy(col("df").desc, col("token"))
      .limit(100)
  }

  /** Top-20 event-type trigram paths across all users — the product-
    * analytics navigation-paths report. Ordering inside a user is raw
    * nanosecond `ts` then event_id (both engines see identical int64 ns,
    * so ties are impossible to diverge on). One shuffle by user for the
    * window; the path count is map-side combinable; top-20 is
    * TakeOrderedAndProject. */
  private def qEventPath(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .filter(col("e3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path"))
      .limit(20)
  }

  /** Per-event-type min-max scaling of the value column to integer
    * per-mille — the deterministic featurization normalizer (float
    * (x−min)/(max−min) would be engine-identical here too, but the
    * integer form survives ANY reordering and re-quantization). The
    * min/max aggregate is groups-sized and broadcasts back over the fact
    * table: the fact side never shuffles. Output sliced to 5 % of events
    * (event_id % 20) to keep the declared result bounded. */
  private def qFeatScale(s: SparkSession, d: String): DataFrame = {
    val c = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        (dec(col("value"), 12, 2) * 100).cast(LongType).as("cents"))
    val mm = c.groupBy(col("event_type").as("et"))
      .agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    c.join(broadcast(mm), col("event_type") === col("et"))
      .filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("event_type"), col("cents"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr("((cents - mn) * 1000) DIV (mx - mn)")).as("norm_x1000"))
      .orderBy("event_id")
  }

  /** Feature hashing: tokens → 64 hash buckets (md5-derived, so Spark and
    * DuckDB agree on every bucket id), per-doc bucket counts — the sparse
    * fixed-width featurization used when a vocabulary is unbounded.
    * Narrow explode + one map-combinable aggregate; output restricted to
    * every 10th doc to bound the declared result. */
  private def qFeatHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 4), 16, 10).cast(LongType) % 64).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "bucket")

  /** Leakage-safe K-FOLD TARGET ENCODING (the CatBoost/Kaggle feature
    * for high-cardinality categoricals): a category's encoding for fold
    * f is the smoothed target mean computed over the OTHER folds only —
    * enc = (sum_cat − sum_fold + m·prior) DIV (n_cat − n_fold + m),
    * m = 10 — so a row never sees its own fold's labels (the leak the
    * naive per-category mean bakes in). Folds come from the same
    * salt-free md5 draw as q_fold_assign (docs never migrate; both
    * engines agree bit-for-bit), money is integer cents, and the
    * smoothing prior is the global integer-cents mean — every division
    * truncating, so the encoding is exact.
    *
    * Scale: ONE map-side-combinable aggregate over the fact table down
    * to |folds|·|cats| rows; category totals and the global prior are
    * window/rollups OVER THAT TINY TABLE, never a second fact pass. */
  private def qFeatTargetEncode(s: SparkSession, d: String): DataFrame = {
    val cents = (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType)
    val perFold = Tables.orders(s, d)
      .select(col("o_orderpriority").as("category"),
        (conv(substring(md5(col("o_orderkey").cast("string")), 1, 3), 16, 10)
          .cast(LongType) % 5).as("fold"),
        cents.as("cents"))
      .groupBy(col("fold"), col("category"))
      .agg(count(lit(1)).as("n_f"), sum(col("cents")).as("s_f"))
    val wCat = Window.partitionBy(col("category"))
    // constant partition key instead of a bare global window: identical
    // semantics over this |folds|·|cats| (~25-row) aggregate, but an
    // EMPTY partition spec makes WindowExec log a "No Partition Defined
    // ... serious performance degradation" warning on EVERY run —
    // Verify's logs drowned in it (r11 verdict item 9). The key must be
    // NON-FOLDABLE — a literal (or any expression the optimizer proves
    // constant) is folded back out of the spec; pmod(xxhash64(fold), 1)
    // is always 0 and survives (the Dist.fencesX discipline).
    val wAll = Window.partitionBy(pmod(xxhash64(col("fold")), lit(1L)))
    perFold
      .withColumn("n_c", sum(col("n_f")).over(wCat))
      .withColumn("s_c", sum(col("s_f")).over(wCat))
      .withColumn("nt", sum(col("n_f")).over(wAll))
      .withColumn("st", sum(col("s_f")).over(wAll))
      .select(col("fold"), col("category"),
        (col("n_c") - col("n_f")).cast(LongType).as("n_out"),
        expr("(s_c - s_f + 10 * (st DIV nt)) DIV (n_c - n_f + 10)")
          .cast(LongType).as("enc_cents"))
      .orderBy("fold", "category")
  }

  /** Exact Pearson correlation + OLS slope/intercept of extendedprice on
    * quantity per returnflag. All five sums are exact decimals (order-
    * independent under any partitioning — engine-native corr() on doubles
    * is NOT); the final formula is one shared IEEE-double expression
    * (identical text compiled by both engines) rounded to 4 dp. One
    * map-combinable aggregate over the fact table — the profiling shape
    * that still works when lineitem is 100 TB. */
  private def qAggCorr(s: SparkSession, d: String): DataFrame = {
    val q = dec(col("l_quantity"), 12, 2)
    val p = dec(col("l_extendedprice"), 12, 2)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("rf"))
      .agg(
        count(lit(1)).as("n"),
        sum(q).as("sx"), sum(p).as("sy"),
        sum(q * p).as("sxy"), sum(q * q).as("sxx"), sum(p * p).as("syy"))
      .select(col("rf"), col("n").cast(LongType).as("n"),
        expr(corrTxt).as("corr_qp"),
        expr(slopeTxt).as("slope"),
        expr(interceptTxt).as("intercept"))
      .orderBy("rf")
  }

  /** TOP PRINCIPAL COMPONENT of the embedding corpus by INTEGER-EXACT
    * power iteration — the dimensionality-reduction step real vector
    * pipelines run before quantization/whitening, here made
    * oracle-checkable end to end. Embeddings quantize to int8 range
    * (`floor(x·127)`, the q_sim_quant convention), means truncate toward
    * zero, and the centered 64×64 covariance accumulates as exact int64
    * pair products DIV n. Eight power-iteration rounds follow, each
    * re-normalized to ±1000 fixed point by the L∞ norm (no square roots
    * — integer arithmetic only), with every division pinned to
    * truncate-toward-zero in BOTH engines ([[tdiv]]: Spark `DIV`
    * truncates, DuckDB `//` floors — they disagree on negatives, the
    * cross-engine trap this operator exists to document). The fixed
    * round count is the declared contract (like the graph kernels); the
    * Rayleigh quotient ships as `lambda_x1000`.
    *
    * Scale (100 TB): the ONLY corpus-sized work is the pair-product
    * explode (64² per vector) feeding one map-side-combinable
    * 4096-group aggregate — no self-join, no shuffle of the embedding
    * table itself; means arrive as a broadcast 64-long array, and the
    * whole iteration runs on the matrix-sized (64×64, checkpointed)
    * covariance. Driver-free: n, means, and norms are 1-row broadcast
    * scalars. */
  private def qEmbedPca(s: SparkSession, d: String): DataFrame =
    pcaTop(Tables.embeddings(s, d).select(
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127D) AS BIGINT))").as("q")),
      rounds = 8)

  /** The power-iteration kernel behind [[qEmbedPca]] — see that query's
    * Scaladoc for the integer-exactness and scale contract. Exposed so
    * the suite can verify eigenvector ALIGNMENT on planted anisotropic
    * data: the fixture embeddings are near-isotropic (λ₂/λ₁ ≈ 0.93), so
    * no finite fixed-round iteration aligns there and the declared
    * query's value is the exact fixed-round contract itself.
    *
    * @param emb one column `q: array<long>`, all rows the same length
    * @return `(dim, v_x1000, lambda_x1000)` */
  def pcaTop(emb: DataFrame, rounds: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // ONE distributed pass, then the ITERATION LIVES ON THE DRIVER: the
    // native GramSumsAgg accumulates row count, per-(dim, length) sums
    // and the raw Gram matrix in a single scan (guide §2.3 — the
    // historic shape was THREE corpus jobs: a per-dim-sum collect, a
    // count, and a 64²-struct explode into a 4096-group hash aggregate;
    // the explode manufactured D² rows per vector just to sum them).
    // The CENTERED covariance follows by exact integer algebra:
    //   Σ_R (x_i−μ_i)(x_j−μ_j)
    //     = G_ij − μ_j·S_i|R − μ_i·S_j|R + |R|·μ_i·μ_j
    // over the contributing row set R (rows long enough to carry both
    // dims and holding no null in either — recovered exactly from the
    // length histogram / per-length sums less the null-element
    // corrections, so ragged and null-holding inputs reproduce the
    // historic explode semantics bit-for-bit; equivalence is pinned in
    // FeaturesSuite). μ stays the truncated per-dim mean with the
    // ROW-count divisor (null/empty rows shift the mean exactly as they
    // always did), and every division is Scala Long division —
    // toward-zero, the oracle's DIV.
    // 8 rounds of power iteration on a 64×64 LONG matrix are pure local
    // arithmetic — the parameter-server shape (same as
    // q_train_perceptron's loop).
    import org.apache.spark.sql.graft.Bridge
    val momAgg = Bridge.column(
      graft.expr.GramSumsAgg(Bridge.expression(col("q"))).toAggregateExpression())
    val row = emb.agg(momAgg.as("m")).select(
      col("m.n"), col("m.hist"), col("m.sl"), col("m.gram"), col("m.np"), col("m.ns")).head()
    val n = row.getLong(0)
    val hist = row.getSeq[Long](1).toArray
    val slF = row.getSeq[Long](2).toArray
    val gramF = row.getSeq[Long](3).toArray
    val npF = row.getSeq[Long](4).toArray
    val nsF = row.getSeq[Long](5).toArray
    val dims = hist.length
    if (dims == 0)
      return Seq.empty[(Long, Long, Long)].toDF("dim", "v_x1000", "lambda_x1000")
    // suffix sums over length: rows long enough to carry dim k and
    // beyond — rsuf(i)(k) = Σ x_i over rows of length > k; msuf(k) =
    // #rows of length > k
    val msuf = new Array[Long](dims + 1)
    val rsuf = Array.ofDim[Long](dims, dims + 1)
    for (l <- dims - 1 to 0 by -1) {
      msuf(l) = msuf(l + 1) + hist(l)
      var i = 0
      while (i < dims) { rsuf(i)(l) = rsuf(i)(l + 1) + slF(i * dims + l); i += 1 }
    }
    val mu: Array[Long] = Array.tabulate(dims)(i => rsuf(i)(0) / n)
    val c = Array.ofDim[Long](dims, dims)
    for (i <- 0 until dims; j <- 0 until dims) {
      val (k, ij, ji) = (math.max(i, j), i * dims + j, j * dims + i)
      val sp = gramF(ij) - mu(j) * (rsuf(i)(k) - nsF(ij)) - mu(i) * (rsuf(j)(k) - nsF(ji)) +
        (msuf(k) - npF(ij)) * mu(i) * mu(j)
      c(i)(j) = sp / n
    }
    var v = Array.fill(dims)(1000L)
    for (_ <- 1 to rounds) {
      val r = Array.tabulate(dims)(i => (0 until dims).map(j => c(i)(j) * v(j)).sum)
      val mx = r.map(math.abs).max
      v = r.map(x => if (mx == 0) 0L else x * 1000 / mx)
    }
    val cv = Array.tabulate(dims)(i => (0 until dims).map(j => c(i)(j) * v(j)).sum)
    val num = (0 until dims).map(i => v(i) * cv(i)).sum
    val den = (0 until dims).map(i => v(i) * v(i)).sum
    // den = 0 iff the covariance degenerated to zero (constant corpus) —
    // same guard as the per-round mx = 0 case
    val lam = if (den == 0) 0L else num * 1000 / den
    (0 until dims).map(i => (i.toLong, v(i), lam))
      .toDF("dim", "v_x1000", "lambda_x1000").orderBy("dim")
  }
}
