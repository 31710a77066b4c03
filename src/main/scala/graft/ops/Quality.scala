package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.Dsl._

/** Data-quality + warehouse-completeness tier: the audit/merge/layout
  * operators a production lake runs BESIDE its analytics queries, plus two
  * flagship multi-join benchmark shapes. The reference genre (a Flink
  * real-time warehouse, `/root/reference/README.md:1-2`) implies exactly
  * this operational loop: validate the incoming facts, reconcile them
  * against dimensions, upsert into serving tables, and keep the physical
  * layout scan-friendly.
  *
  * Scale notes (100 TB):
  * - `q_dq_audit` computes EVERY quality metric in ONE pass over the fact
  *   table (one partial+final aggregate, one tiny exchange) — the Deequ
  *   "analyzer batch" trick. Naive per-check scans would read the 100 TB
  *   table once per rule.
  * - `q_dq_orphans` does referential-integrity counts as broadcast
  *   LEFT ANTI joins: the dimension side ships to executors, the fact
  *   table never shuffles at all.
  * - `q_merge_upsert` is the engine-level dataflow of MERGE INTO (Delta/
  *   Iceberg upsert): both sides hash-partition on the merge key, a single
  *   full-outer shuffle join classifies insert/update/keep. No driver
  *   involvement; AQE handles skewed keys.
  * - `q_layout_zorder` computes Morton (Z-order) clustering keys with
  *   int64 magic-number bit-spreading — pure codegen'd expressions, no
  *   UDF. Sorting 100 TB by z-value co-locates BOTH dimensions per file,
  *   so min/max footer stats prune scans on either predicate
  *   (the OPTIMIZE ZORDER BY idiom).
  * - `q_tpch_q3` / `q_tpch_q5` are the classic 3- and 6-table join shapes
  *   (adapted to the fixture's column subset, FIXTURES.md "TPC-H-ish"):
  *   selective dimension filters reach the scans, small sides broadcast,
  *   only the fact-fact join shuffles.
  * - `q_skyline` (Pareto frontier per brand) composes an equi-key anti
  *   join with a dominance filter — candidate pairs are bounded per key
  *   group, never a global cross join.
  */
object Quality {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dq_audit" -> qDqAudit,
    "q_dq_orphans" -> qDqOrphans,
    "q_merge_upsert" -> qMergeUpsert,
    "q_tpch_q3" -> qTpchQ3,
    "q_tpch_q5" -> qTpchQ5,
    "q_tpch_q10" -> qTpchQ10,
    "q_tpch_q18" -> qTpchQ18,
    "q_layout_zorder" -> qLayoutZorder,
    "q_skyline" -> qSkyline,
    "q_incr_agg" -> qIncrAgg,
    "q_dq_freshness" -> qDqFreshness,
    "q_table_diff" -> qTableDiff,
    "q_table_manifest" -> qTableManifest,
    "q_manifest_diff" -> qManifestDiff,
    "q_dq_drift" -> qDqDrift,
    "q_mv_rewrite" -> qMvRewrite,
    "q_mv_incr" -> qMvIncr,
    "q_gdpr_erasure" -> qGdprErasure,
    "q_gdpr_dv" -> qGdprDv,
    "q_gdpr_string" -> qGdprString,
    "q_retention_date" -> qRetentionDate,
    "q_backfill_manifest" -> qBackfillManifest,
    "q_table_cdf" -> qTableCdf,
    "q_table_cdf_merge" -> qTableCdfMerge,
    "q_scd2_cdf" -> qScd2Cdf,
    "q_table_zorder" -> qTableZorder,
    "q_expectations" -> qExpectations,
    "q_mv_updates" -> qMvUpdates,
    "q_mv_join" -> qMvJoin,
    "q_table_restore" -> qTableRestore,
    "q_table_rename" -> qTableRename,
    "q_table_clone" -> qTableClone,
    "q_layout_binpack" -> qLayoutBinpack,
    "q_table_stats_agg" -> qTableStatsAgg,
    "q_stats_agg_string" -> qStatsAggString,
    "q_table_evolve" -> qTableEvolve,
    "q_warehouse_layers" -> qWarehouseLayers,
    "q_quality_gopher" -> qQualityGopher
  )

  val oracle: Map[String, String] = Map(
    "q_mv_rewrite" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                CAST(MIN(n_chars) AS BIGINT) AS min_chars,
                CAST(MAX(n_chars) AS BIGINT) AS max_chars,
                AVG(n_chars) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "q_mv_incr" ->
      """SELECT event_type, count(*) AS n_events, count(value) AS n_vals,
                MIN(value) AS min_value, MAX(value) AS max_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_gdpr_erasure" ->
      """SELECT event_type, count(*) AS n_events,
                COUNT(DISTINCT user_id) AS n_users
         FROM events WHERE user_id <> 7
         GROUP BY 1 ORDER BY 1""",
    "q_gdpr_dv" ->
      """SELECT event_type, count(*) AS n_events,
                COUNT(DISTINCT user_id) AS n_users
         FROM events WHERE user_id <> 3 AND user_id <> 7
         GROUP BY 1 ORDER BY 1""",
    "q_gdpr_string" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE source <> 'src7'
         GROUP BY 1 ORDER BY 1""",
    "q_retention_date" ->
      """WITH o AS (
           SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS d,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    AS cents
           FROM orders)
         SELECT o_orderstatus, count(*) AS n_orders,
                CAST(SUM(cents) AS BIGINT) AS sum_cents
         FROM o
         WHERE d >= DATE '1997-01-01'
           AND NOT (d BETWEEN DATE '1997-06-01' AND DATE '1997-06-30')
         GROUP BY 1 ORDER BY 1""",
    "q_stats_agg_string" ->
      """SELECT count(*) AS n_rows,
                min(lang) AS min_lang, max(lang) AS max_lang,
                CAST(min(n_chars) AS BIGINT) AS min_n_chars,
                CAST(max(n_chars) AS BIGINT) AS max_n_chars
         FROM documents WHERE source <> 'src7'""",
    "q_backfill_manifest" ->
      """WITH ec AS (
           SELECT event_id, event_type,
                  CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT)
                    + CASE WHEN event_type = 'click' THEN 7 ELSE 0 END AS cents
           FROM events)
         SELECT event_type, count(*) AS n_events,
                CAST(SUM(cents) AS BIGINT) AS sum_cents
         FROM ec GROUP BY 1 ORDER BY 1""",
    "q_table_cdf" ->
      """SELECT * FROM (
           SELECT CAST(0 AS BIGINT) AS v, 'insert' AS ctype, count(*) AS n_rows,
                  CAST(sum(event_id) AS BIGINT) AS sum_id
           FROM events WHERE event_id % 3 = 0 HAVING count(*) > 0
           UNION ALL SELECT 1, 'insert', count(*), CAST(sum(event_id) AS BIGINT)
           FROM events WHERE event_id % 3 = 1 HAVING count(*) > 0
           UNION ALL SELECT 2, 'insert', count(*), CAST(sum(event_id) AS BIGINT)
           FROM events WHERE event_id % 3 = 2 HAVING count(*) > 0
           UNION ALL SELECT 3, 'delete', count(*), CAST(sum(event_id) AS BIGINT)
           FROM events WHERE user_id = 3 HAVING count(*) > 0
           UNION ALL SELECT 4, 'delete', count(*), CAST(sum(event_id) AS BIGINT)
           FROM events WHERE user_id = 7 HAVING count(*) > 0
         ) ORDER BY v, ctype""",
    "q_table_cdf_merge" ->
      """WITH ec AS (
           SELECT event_id, user_id,
                  CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT) AS cents
           FROM events)
         SELECT * FROM (
           SELECT CAST(0 AS BIGINT) AS v, 'insert' AS ctype, count(*) AS n_rows,
                  CAST(sum(event_id) AS BIGINT) AS sum_id,
                  CAST(sum(cents) AS BIGINT) AS sum_cents
           FROM ec WHERE event_id % 2 = 0 HAVING count(*) > 0
           UNION ALL SELECT 1, 'insert', count(*), CAST(sum(event_id) AS BIGINT),
                  CAST(sum(cents + 7) AS BIGINT)
           FROM ec WHERE event_id % 4 = 1 HAVING count(*) > 0
           UNION ALL SELECT 1, 'update_postimage', count(*), CAST(sum(event_id) AS BIGINT),
                  CAST(sum(cents + 7) AS BIGINT)
           FROM ec WHERE event_id % 4 = 0 HAVING count(*) > 0
           UNION ALL SELECT 1, 'update_preimage', count(*), CAST(sum(event_id) AS BIGINT),
                  CAST(sum(cents) AS BIGINT)
           FROM ec WHERE event_id % 4 = 0 HAVING count(*) > 0
         ) ORDER BY v, ctype""",
    "q_scd2_cdf" ->
      """WITH opens AS (
           SELECT c_custkey, c_mktsegment AS seg, CAST(0 AS BIGINT) AS valid_from
           FROM customer WHERE c_custkey % 2 = 0
           UNION ALL
           SELECT c_custkey, 'SEG_' || CAST(c_custkey % 3 AS VARCHAR), CAST(1 AS BIGINT)
           FROM customer WHERE c_custkey % 4 = 0
           UNION ALL
           SELECT c_custkey, c_mktsegment, CAST(1 AS BIGINT)
           FROM customer WHERE c_custkey % 4 = 1
           UNION ALL
           SELECT c_custkey, 'SEG2_' || CAST(c_custkey % 5 AS VARCHAR), CAST(2 AS BIGINT)
           FROM customer WHERE c_custkey % 8 IN (0, 1))
         SELECT c_custkey, seg,
                LAG(seg) OVER w AS old_seg,
                valid_from,
                LEAD(valid_from) OVER w AS valid_to
         FROM opens
         WINDOW w AS (PARTITION BY c_custkey ORDER BY valid_from)
         ORDER BY c_custkey, valid_from""",
    "q_table_zorder" ->
      """SELECT l_suppkey, count(*) AS n_rows,
                CAST(sum(l_partkey) AS BIGINT) AS sum_part,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 3 AND 6
         GROUP BY l_suppkey ORDER BY l_suppkey""",
    "q_expectations" ->
      """WITH cls AS (
           SELECT event_id,
                  CASE WHEN NOT COALESCE(event_type IN ('click', 'view', 'signup', 'purchase'), FALSE)
                         THEN 'known_type'
                       WHEN NOT COALESCE(value <= 400, FALSE) THEN 'value_range'
                       WHEN NOT COALESCE(user_id % 37 <> 0, FALSE) THEN 'user_allowed'
                       ELSE 'passed' END AS cls
           FROM events)
         SELECT cls, count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS sum_id
         FROM cls GROUP BY cls ORDER BY cls""",
    "q_mv_updates" ->
      """WITH ec AS (
           SELECT event_id, user_id,
                  CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT) AS cents
           FROM events),
         fin AS (
           SELECT user_id,
                  CASE WHEN event_id % 8 IN (0, 1) THEN cents + 18
                       WHEN event_id % 4 IN (0, 1) THEN cents + 7
                       ELSE cents END AS cents
           FROM ec WHERE event_id % 2 = 0 OR event_id % 4 = 1)
         SELECT user_id % 8 AS grp, CAST(sum(cents) AS BIGINT) AS sum_cents,
                count(*) AS n_rows
         FROM fin GROUP BY 1 ORDER BY grp""",
    "q_table_stats_agg" ->
      """WITH ec AS (
           SELECT event_id, user_id,
                  CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT) AS cents
           FROM events)
         SELECT count(*) AS n_rows,
                CAST(MIN(user_id) AS BIGINT) AS min_user_id,
                CAST(MAX(user_id) AS BIGINT) AS max_user_id,
                MIN(cents) AS min_cents, MAX(cents) AS max_cents
         FROM ec
         WHERE event_id % 3 IN (0, 1) AND user_id NOT BETWEEN 2 AND 3""",
    "q_table_restore" ->
      """WITH ec AS (
           SELECT event_id, user_id,
                  CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT) AS cents
           FROM events),
         cdf AS (
           SELECT 'cdf' AS part, 'insert' AS key, count(*) AS n_rows,
                  CAST(SUM(cents) AS BIGINT) AS sum_cents
           FROM ec WHERE event_id % 2 = 0 AND user_id BETWEEN 0 AND 3
           UNION ALL
           SELECT 'cdf', 'delete', count(*), CAST(SUM(cents) AS BIGINT)
           FROM ec WHERE event_id % 4 = 1),
         fin AS (
           SELECT 'final' AS part, CAST(user_id % 4 AS VARCHAR) AS key,
                  count(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
           FROM ec WHERE event_id % 2 = 0 OR event_id % 4 = 3
           GROUP BY 2)
         SELECT * FROM (SELECT * FROM cdf UNION ALL SELECT * FROM fin)
         ORDER BY part, key""",
    "q_table_rename" ->
      """WITH ec AS (
           SELECT event_id, user_id,
                  CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT) AS amount
           FROM events),
         ins AS (SELECT * FROM ec WHERE event_id % 2 = 0 OR event_id % 4 = 1),
         cdf AS (
           SELECT 'cdf' AS part, 'insert' AS key, count(*) AS n_rows,
                  CAST(SUM(amount) AS BIGINT) AS sum_amount
           FROM ins
           UNION ALL
           SELECT 'cdf', 'delete', count(*), CAST(SUM(amount) AS BIGINT)
           FROM ins WHERE amount BETWEEN 0 AND 99),
         pre AS (
           SELECT 'v0' AS part, 'cents' AS key, count(*) AS n_rows,
                  CAST(SUM(amount) AS BIGINT) AS sum_amount
           FROM ec WHERE event_id % 2 = 0),
         fin AS (
           SELECT 'final' AS part, CAST(user_id % 4 AS VARCHAR) AS key,
                  count(*) AS n_rows, CAST(SUM(amount) AS BIGINT) AS sum_amount
           FROM ins WHERE amount NOT BETWEEN 0 AND 99
           GROUP BY 2)
         SELECT * FROM (SELECT * FROM cdf UNION ALL
                        SELECT * FROM pre UNION ALL SELECT * FROM fin)
         ORDER BY part, key""",
    "q_table_clone" ->
      """WITH ec AS (
           SELECT event_id, user_id,
                  CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT) AS cents
           FROM events),
         src AS (SELECT * FROM ec WHERE event_id % 2 = 0),
         cl AS (
           SELECT * FROM src WHERE user_id NOT BETWEEN 0 AND 3
           UNION ALL
           SELECT * FROM ec WHERE event_id % 4 = 1),
         s1 AS (SELECT 'src' AS part, CAST(user_id % 4 AS VARCHAR) AS key,
                       count(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
                FROM src GROUP BY 2),
         c1 AS (SELECT 'clone' AS part, CAST(user_id % 4 AS VARCHAR) AS key,
                       count(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
                FROM cl GROUP BY 2)
         SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM c1)
         ORDER BY part, key""",
    "q_layout_binpack" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows,
                CAST(SUM(CAST(COALESCE(CAST(value AS DECIMAL(12,2)), 0) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events
         WHERE (event_id % 16 = 0 AND user_id <> 7)
            OR event_id % 1024 BETWEEN 1 AND 8
         GROUP BY 1 ORDER BY key""",
    "q_mv_join" ->
      """WITH o AS (
           SELECT o_custkey AS ckey,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    + CASE WHEN o_orderkey % 4 IN (0, 1) THEN 7 ELSE 0 END AS cents
           FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1),
         c AS (
           SELECT c_custkey AS ckey,
                  CASE WHEN c_custkey % 5 = 0 THEN 'REASSIGNED'
                       ELSE c_mktsegment END AS seg
           FROM customer)
         SELECT seg, CAST(SUM(cents) AS BIGINT) AS sum_cents,
                count(*) AS n_rows
         FROM o JOIN c USING (ckey)
         GROUP BY seg ORDER BY seg""",
    "q_table_evolve" ->
      """SELECT st, count(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sum_cents
         FROM (
           SELECT CASE WHEN o_orderkey % 3 = 1 THEN o_orderstatus
                       ELSE 'pre' END AS st,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
           FROM orders
           WHERE (o_orderkey % 3 = 0 OR o_orderkey % 3 = 1) AND o_orderkey > 99)
         GROUP BY st ORDER BY st""",
    "q_warehouse_layers" ->
      """SELECT event_type,
                CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS day,
                count(*) AS n_events,
                CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(MAX(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS max_cents
         FROM events WHERE value IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_quality_gopher" ->
      """WITH t AS (
           SELECT string_split(text, ' ') AS ws,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  CAST(len(text) AS BIGINT) AS n_c
           FROM documents),
         f AS (
           SELECT
             CASE WHEN n_tok < 20 THEN 1 ELSE 0 END AS f_short,
             CASE WHEN n_tok > 80 THEN 1 ELSE 0 END AS f_long,
             CASE WHEN (n_c - n_tok + 1) * 100 // n_tok < 400
                    OR (n_c - n_tok + 1) * 100 // n_tok > 500
                  THEN 1 ELSE 0 END AS f_wordlen,
             CASE WHEN NOT (list_contains(ws, 'the') OR list_contains(ws, 'a'))
                  THEN 1 ELSE 0 END AS f_stop,
             CASE WHEN list_max(list_transform(list_distinct(ws),
                        w -> len(list_filter(ws, x -> x = w)))) * 1000 // n_tok > 150
                  THEN 1 ELSE 0 END AS f_rep
           FROM t)
         SELECT rule, n_docs FROM (
           SELECT 'r1_too_short' AS rule, CAST(SUM(f_short) AS BIGINT) AS n_docs FROM f
           UNION ALL SELECT 'r2_too_long', CAST(SUM(f_long) AS BIGINT) FROM f
           UNION ALL SELECT 'r3_word_len', CAST(SUM(f_wordlen) AS BIGINT) FROM f
           UNION ALL SELECT 'r4_stopword', CAST(SUM(f_stop) AS BIGINT) FROM f
           UNION ALL SELECT 'r5_repetition', CAST(SUM(f_rep) AS BIGINT) FROM f
           UNION ALL SELECT 'retained',
             CAST(COUNT(*) - SUM(GREATEST(f_short, f_long, f_wordlen, f_stop, f_rep)) AS BIGINT) FROM f
           UNION ALL SELECT 'total', CAST(COUNT(*) AS BIGINT) FROM f)
         ORDER BY rule""",
    "q_dq_drift" ->
      """WITH ev AS (SELECT event_type,
                            CASE WHEN EXTRACT(day FROM CAST(ts AS TIMESTAMP)) <= 15
                                 THEN 0 ELSE 1 END AS half,
                            LEAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000, 9) AS bin
                     FROM events),
         c AS (SELECT event_type, bin,
                      count(*) FILTER (half = 0) AS oa,
                      count(*) FILTER (half = 1) AS ob
               FROM ev GROUP BY event_type, bin),
         n AS (SELECT event_type, SUM(oa) AS na, SUM(ob) AS nb FROM c GROUP BY event_type)
         SELECT c.event_type, CAST(MAX(n.na) AS BIGINT) AS n_a, CAST(MAX(n.nb) AS BIGINT) AS n_b,
                CAST(SUM(ABS(c.oa * n.nb - c.ob * n.na)) AS BIGINT) AS tvd_num,
                CAST(SUM(ABS(c.oa * n.nb - c.ob * n.na)) * 1000
                     // (2 * MAX(n.na) * MAX(n.nb)) AS BIGINT) AS tvd_pm
         FROM c JOIN n ON c.event_type = n.event_type
         GROUP BY c.event_type ORDER BY c.event_type""",
    "q_manifest_diff" ->
      """WITH base AS (SELECT o_orderkey AS k,
                              CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                       FROM orders WHERE o_orderkey % 3 = 0),
         upd AS (SELECT o_orderkey AS k,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) + 11 AS cents
                 FROM orders WHERE o_orderkey % 6 = 0 OR o_orderkey % 3 = 1),
         merged AS (SELECT k, cents FROM base WHERE k NOT IN (SELECT k FROM upd)
                    UNION ALL SELECT k, cents FROM upd),
         diff AS (SELECT COALESCE(m.k, b.k) AS k,
                         CASE WHEN b.k IS NULL THEN 'inserted'
                              WHEN m.cents <> b.cents THEN 'changed'
                              ELSE 'unchanged' END AS cls,
                         COALESCE(m.cents, 0) - COALESCE(b.cents, 0) AS delta,
                         COALESCE(m.cents, 0) AS newc
                  FROM merged m FULL OUTER JOIN base b ON m.k = b.k)
         SELECT cls, count(*) AS n,
                CAST(SUM(delta) AS BIGINT) AS delta_cents,
                CAST(SUM(newc) AS BIGINT) AS new_cents
         FROM diff GROUP BY cls ORDER BY cls""",
    "q_table_manifest" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                              CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                       FROM orders WHERE o_orderkey % 3 = 0),
         upd AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) + 11 AS cents
                 FROM orders WHERE o_orderkey % 6 = 0 OR o_orderkey % 3 = 1),
         merged AS (SELECT k, st, cents FROM base WHERE k NOT IN (SELECT k FROM upd)
                    UNION ALL SELECT k, st, cents FROM upd)
         SELECT st AS o_orderstatus, count(*) AS cnt,
                CAST(SUM(cents) AS BIGINT) AS total_cents,
                MIN(k) AS min_key, MAX(k) AS max_key
         FROM merged GROUP BY st ORDER BY st""",
    "q_table_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
                            CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
                     FROM orders),
         v2 AS (SELECT k, st,
                       CASE WHEN k % 5 = 0 THEN cents + 100000 ELSE cents END AS cents
                FROM v1 WHERE k % 7 <> 0
                UNION ALL
                SELECT k + 4398046511104, st, cents FROM v1 WHERE k % 11 = 0),
         j AS (SELECT COALESCE(a.st, b.st) AS st,
                      CASE WHEN a.k IS NULL THEN 'added'
                           WHEN b.k IS NULL THEN 'removed'
                           WHEN a.cents <> b.cents THEN 'changed'
                           ELSE 'unchanged' END AS cls
               FROM v1 a FULL JOIN v2 b ON a.k = b.k)
         SELECT st,
                CAST(SUM(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                CAST(SUM(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                CAST(SUM(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(SUM(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         FROM j GROUP BY st ORDER BY st""",
    "q_dq_freshness" ->
      """WITH t AS (SELECT event_type, MAX(epoch_us(ts)) AS max_us, count(*) AS n
                    FROM events GROUP BY 1),
         g AS (SELECT MAX(max_us) AS gmax FROM t)
         SELECT t.event_type, t.max_us, CAST(t.n AS BIGINT) AS n,
                g.gmax - t.max_us AS lag_us,
                CAST(CASE WHEN g.gmax - t.max_us > 3600000000 THEN 1 ELSE 0 END AS BIGINT) AS stale
         FROM t CROSS JOIN g ORDER BY t.event_type""",
    "q_dq_audit" ->
      """WITH m AS (
           SELECT count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
                  count(CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NULL THEN 1 END) AS null_priority,
                  count(*) - count(DISTINCT o_orderkey) AS dup_orderkey,
                  count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS bad_status,
                  count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS neg_price,
                  count(CASE WHEN o_orderdate <  TIMESTAMP '1990-01-01'
                               OR o_orderdate >= TIMESTAMP '2002-01-01' THEN 1 END) AS bad_date
           FROM orders)
         SELECT check_name, CAST(violations AS BIGINT) AS violations,
                violations = 0 AS passed
         FROM (
           SELECT 'null_custkey' AS check_name, null_custkey AS violations FROM m
           UNION ALL SELECT 'null_priority_simulated', null_priority FROM m
           UNION ALL SELECT 'dup_orderkey', dup_orderkey FROM m
           UNION ALL SELECT 'bad_status', bad_status FROM m
           UNION ALL SELECT 'neg_price', neg_price FROM m
           UNION ALL SELECT 'date_out_of_range', bad_date FROM m)
         ORDER BY check_name""",
    "q_dq_orphans" ->
      """SELECT * FROM (
           SELECT 'orders->customer' AS relation, count(*) AS orphans
           FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey % 7 <> 0 AND c.c_custkey = o.o_custkey)
           UNION ALL
           SELECT 'lineitem->part', count(*)
           FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM part p
                             WHERE p.p_partkey % 11 <> 0 AND p.p_partkey = l.l_partkey)
           UNION ALL
           SELECT 'lineitem->supplier', count(*)
           FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM supplier s
                             WHERE s.s_suppkey = l.l_suppkey))
         ORDER BY relation""",
    "q_merge_upsert" ->
      """WITH b AS (
           SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents,
                  count(*) AS n
           FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1),
         d AS (
           SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents,
                  count(*) AS n
           FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY 1)
         SELECT COALESCE(b.o_custkey, d.o_custkey) AS c_custkey,
                COALESCE(b.cents, 0) + COALESCE(d.cents, 0) AS cents,
                COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n_orders,
                CASE WHEN b.o_custkey IS NULL THEN 'insert'
                     WHEN d.o_custkey IS NULL THEN 'keep'
                     ELSE 'update' END AS action
         FROM b FULL OUTER JOIN d ON b.o_custkey = d.o_custkey
         ORDER BY c_custkey""",
    "q_tpch_q3" ->
      """SELECT l_orderkey,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                              (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                     AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate  > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) DESC,
                  o_orderdate, l_orderkey
         LIMIT 10""",
    "q_tpch_q5" ->
      """SELECT n_name,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                              (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                     AS DECIMAL(38,4)) AS VARCHAR) AS revenue
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
         GROUP BY n_name
         ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) DESC,
                  n_name""",
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                              (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                     AS DECIMAL(38,4)) AS VARCHAR) AS revenue
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) DESC,
                  c_custkey
         LIMIT 20""",
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(38,2)) AS VARCHAR) AS total_price,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_qty
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""",
    "q_layout_zorder" -> {
      // DuckDB spelling of the identical int64 magic-number bit spread
      // (see `spread16`). `//` is DuckDB's integer floor division; all
      // inputs are non-negative so floor == truncate == Spark's DIV.
      def spreadSql(x: String): String = {
        val a = s"($x & 65535)"
        val b = s"(($a | ($a << 8)) & 16711935)"
        val e = s"(($b | ($b << 4)) & 252645135)"
        val f = s"(($e | ($e << 2)) & 858993459)"
        s"(($f | ($f << 1)) & 1431655765)"
      }
      val z = s"(${spreadSql("o_custkey")} | (${spreadSql("datediff('day', TIMESTAMP '1995-01-01', o_orderdate)")} << 1))"
      s"""WITH z AS (
            SELECT o_custkey,
                   datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS day_idx,
                   $z AS zval
            FROM orders)
          SELECT zval // 1048576 AS z_bucket, count(*) AS n,
                 min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
                 CAST(min(day_idx) AS BIGINT) AS min_day,
                 CAST(max(day_idx) AS BIGINT) AS max_day
          FROM z GROUP BY 1 ORDER BY 1"""
    },
    // the oracle is the FULL recompute — the incremental merge must be
    // indistinguishable from rescanning everything
    "q_incr_agg" ->
      """SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS yr,
                count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
                  // count(*) AS avg_cents
         FROM orders
         GROUP BY o_orderstatus, year(o_orderdate)
         ORDER BY o_orderstatus, yr""",
    "q_skyline" ->
      """SELECT p.p_brand, p.p_partkey, p.p_size,
                CAST(CAST(p.p_retailprice AS DECIMAL(38,2)) AS VARCHAR) AS price
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_brand = p.p_brand
             AND q.p_retailprice <= p.p_retailprice
             AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
         ORDER BY p_brand, p_partkey"""
  )

  /** Deequ-style one-pass data-quality audit over the orders fact table:
    * completeness (null counts — one real column, one simulated-dirty via
    * nullif since fixtures carry no NULLs, FIXTURES.md hazard 3), key
    * uniqueness (count - count distinct), accepted values, numeric range,
    * and date sanity — ALL inside a single aggregate, then pivoted to one
    * row per check with `stack`. The exact count-distinct rides the same
    * aggregation (Catalyst plans it as an Expand + two-level agg); at
    * 100 TB swap it for approx_count_distinct if a tolerance is declared. */
  private def qDqAudit(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1990-01-01").cast(TimestampType)
    val hi = lit("2002-01-01").cast(TimestampType)
    Tables.orders(s, d)
      .agg(
        count(when(col("o_custkey").isNull, 1)).as("null_custkey"),
        count(when(expr("nullif(o_orderpriority, '1-URGENT')").isNull, 1))
          .as("null_priority"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
        count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("bad_status"),
        count(when(col("o_totalprice") <= 0, 1)).as("neg_price"),
        count(when(col("o_orderdate") < lo || col("o_orderdate") >= hi, 1))
          .as("bad_date"))
      .selectExpr(
        """stack(6,
             'null_custkey',            null_custkey,
             'null_priority_simulated', null_priority,
             'dup_orderkey',            dup_orderkey,
             'bad_status',              bad_status,
             'neg_price',               neg_price,
             'date_out_of_range',       bad_date) AS (check_name, violations)""")
      .select(
        col("check_name"),
        col("violations").cast(LongType).as("violations"),
        (col("violations") === 0).as("passed"))
      .orderBy("check_name")
  }

  /** Referential-integrity audit: orphaned foreign keys counted with
    * broadcast LEFT ANTI joins (fact side never shuffles). Two of the
    * dimensions are deliberately degraded (every 7th customer / 11th part
    * dropped) so the check exercises non-zero orphan counts — fixtures
    * are FK-consistent, a fully-green audit would test nothing. */
  private def qDqOrphans(s: SparkSession, d: String): DataFrame = {
    def orphanCount(fact: DataFrame, dim: DataFrame, fk: String, pk: String,
                    rel: String): DataFrame =
      fact.join(broadcast(dim), fact(fk) === dim(pk), "left_anti")
        .agg(count(lit(1)).as("orphans"))
        .select(lit(rel).as("relation"), col("orphans"))
    val cust = Tables.customer(s, d).filter(col("c_custkey") % 7 =!= 0)
    val prt = Tables.part(s, d).filter(col("p_partkey") % 11 =!= 0)
    orphanCount(Tables.orders(s, d), cust, "o_custkey", "c_custkey", "orders->customer")
      .unionAll(orphanCount(Tables.lineitem(s, d), prt, "l_partkey", "p_partkey", "lineitem->part"))
      .unionAll(orphanCount(Tables.lineitem(s, d), Tables.supplier(s, d),
        "l_suppkey", "s_suppkey", "lineitem->supplier"))
      .orderBy("relation")
  }

  /** MERGE INTO dataflow (Delta/Iceberg upsert, expressed at the engine
    * level): base snapshot (orders before 1999) full-outer-joined with the
    * incoming delta (1999+) on the merge key; each output row is tagged
    * insert (new key), update (both sides), or keep (base only). Money is
    * integer cents (exact). One hash-partitioned shuffle per side, one
    * join — the same plan a table-format MERGE compiles to. */
  private def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1999-01-01").cast(TimestampType)
    def roll(f: DataFrame): DataFrame =
      f.groupBy(col("o_custkey"))
        .agg(
          (sum(dec(col("o_totalprice"), 12, 2)) * 100).cast(LongType).as("cents"),
          count(lit(1)).as("n"))
    val o = Tables.orders(s, d)
    // both sides derive from the same scan — alias before the self-join so
    // column references resolve unambiguously
    val base = roll(o.filter(col("o_orderdate") < cut)).as("b")
    val delta = roll(o.filter(col("o_orderdate") >= cut)).as("d")
    base.join(delta, col("b.o_custkey") === col("d.o_custkey"), "full_outer")
      .select(
        coalesce(col("b.o_custkey"), col("d.o_custkey")).as("c_custkey"),
        (coalesce(col("b.cents"), lit(0L)) + coalesce(col("d.cents"), lit(0L))).as("cents"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n_orders"),
        when(col("b.o_custkey").isNull, "insert")
          .when(col("d.o_custkey").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy("c_custkey")
  }

  /** SNAPSHOT DIFF — the data-regression-test primitive: reconcile two
    * versions of a table into per-group added/removed/changed/unchanged
    * counts. This is what a pipeline runs after a backfill, a code
    * change, or a vendor re-delivery ("did anything move that
    * shouldn't?"), and it complements the change-ORIENTED operators
    * (CDC compaction consumes a changelog; this DERIVES one from two
    * snapshots). v2 is manufactured deterministically from orders:
    * keys %7=0 removed, %5=0 repriced, %11=0 re-inserted under new
    * keys. Shape at 100 TB: ONE co-partitioned full-outer join on the
    * key (both sides hash-shuffle once, AQE splits skew), then a
    * groups-sized aggregate — same dataflow as q_merge_upsert, but
    * classifying instead of merging. Values compared as integer cents;
    * at width, compare a hash of the non-key columns so the shuffle
    * rows stay fixed-size. */
  private def qTableDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = Tables.orders(s, d).select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
      (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"))
    val v2 = v1.filter(col("k") % 7 =!= 0)
      .select(col("k"), col("st"),
        when(col("k") % 5 === 0, col("cents") + 100000L).otherwise(col("cents")).as("cents"))
      .unionByName(v1.filter(col("k") % 11 === 0)
        // re-inserted keys live above bit 42 (2^42 ≈ 4.4e12): real
        // o_orderkey tops out at ~24M·sf, so synthetic keys can't collide
        // with real ones until sf ≈ 180,000 (~180 PB) — the old +1e7
        // offset collided from sf ≈ 2. Same constant in the oracle.
        .select((col("k") + (1L << 42)).as("k"), col("st"), col("cents")))
    val a = v1.as("a"); val b = v2.as("b")
    a.join(b, col("a.k") === col("b.k"), "full_outer")
      .select(
        coalesce(col("a.st"), col("b.st")).as("st"),
        when(col("a.k").isNull, "added")
          .when(col("b.k").isNull, "removed")
          .when(col("a.cents") =!= col("b.cents"), "changed")
          .otherwise("unchanged").as("cls"))
      .groupBy(col("st"))
      .agg(
        sum(when(col("cls") === "added", 1L).otherwise(0L)).cast(LongType).as("n_added"),
        sum(when(col("cls") === "removed", 1L).otherwise(0L)).cast(LongType).as("n_removed"),
        sum(when(col("cls") === "changed", 1L).otherwise(0L)).cast(LongType).as("n_changed"),
        sum(when(col("cls") === "unchanged", 1L).otherwise(0L)).cast(LongType).as("n_unchanged"))
      .orderBy("st")
  }

  private def revenue: Column =
    dec(col("l_extendedprice"), 12, 2) *
      (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2))

  /** TPC-H Q3 (shipping priority), adapted: the fixture has no
    * o_shippriority (FIXTURES.md "TPC-H-ish"), so the output is
    * (orderkey, revenue, orderdate) top-10 by revenue. Plan shape: the
    * segment-filtered customer list broadcasts as a LEFT SEMI prune of
    * orders; both date filters push to the parquet scans; only
    * lineitem⋈orders shuffles. Tie-break pinned (date, orderkey) so the
    * LIMIT is deterministic. */
  private def qTpchQ3(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1998-06-01").cast(TimestampType)
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < cut)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
    Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(revenue).as("rev"))
      .orderBy(col("rev").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select(
        col("l_orderkey"),
        decStr(col("rev"), 4).as("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
  }

  /** TPC-H Q5 (local supplier volume): the 6-table join with the
    * "local" twist — the lineitem's supplier must sit in the customer's
    * nation (c_nationkey = s_nationkey), which makes the supplier join a
    * compound key. region/nation/supplier broadcast (≤ 1k rows at any SF;
    * on a real lake supplier is still the smallest fact-adjacent dim);
    * customer⋈orders and orders⋈lineitem are the only shuffles. */
  private def qTpchQ5(s: SparkSession, d: String): DataFrame = {
    val nations = Tables.nation(s, d)
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"), "left_semi")
    val supp = Tables.supplier(s, d)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"), "left_semi")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
    Tables.customer(s, d)
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))
      .select(col("n_name"), decStr(col("rev"), 4).as("revenue"))
  }

  /** TPC-H Q10 (returned-item reporting): which customers returned the
    * most revenue in a quarter. lineitem's returnflag filter and orders'
    * date window both push to the parquet scans BEFORE the fact-fact
    * join; customer and nation broadcast (customer is the largest
    * broadcast in the suite — on a real lake it would be bucketed on
    * c_custkey instead once it outgrows the broadcast threshold). Only
    * lineitem⋈orders shuffles. Top-20 with the custkey tiebreak pinned. */
  private def qTpchQ10(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-10-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(revenue).as("rev"))
      .orderBy(col("rev").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        decStr(col("rev"), 4).as("revenue"))
  }

  /** TPC-H Q18 (large-volume customers): orders whose total line quantity
    * exceeds a threshold, with their customer. The canonical form joins
    * lineitem twice (once inside the IN-subquery, once for the output
    * sum); here the aggregate is computed ONCE and reused as both the
    * filter and the output column — same result, one lineitem scan
    * instead of two, which at 100 TB is the whole game. The grouped
    * quantity aggregate is map-side combinable; customer broadcasts;
    * orders⋈qualifying-orders is a shuffle join on the order key. */
  private def qTpchQ18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"), 12, 2)).as("qty"))
      .filter(col("qty") > 250)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .orderBy(dec(col("o_totalprice"), 12, 2).desc, col("o_orderkey"))
      .limit(100)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        decStr(dec(col("o_totalprice"), 12, 2)).as("total_price"),
        decStr(col("qty")).as("total_qty"))
  }

  /** Interleave-ready bit spread, 16 → 32 bits (the magic-number Morton
    * construction): after spreading, x occupies the even bit positions so
    * `spread(x) | (spread(y) << 1)` is the Z-order value. Pure int64
    * bitwise ops — whole-stage-codegen'd, no UDF. */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val e = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val f = e.bitwiseOR(shiftleft(e, 2)).bitwiseAND(lit(0x33333333L))
    f.bitwiseOR(shiftleft(f, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) layout keys over (customer, order-day): the
    * clustering step of OPTIMIZE ZORDER BY. The query buckets orders by
    * z-value and reports each bucket's customer and day ranges — on a
    * z-sorted 100 TB table those per-bucket min/max ranges are exactly the
    * parquet footer stats that let EITHER a customer predicate OR a date
    * predicate skip files (a single-column sort only serves one of them).
    * Day index is exact integer days from a fixed epoch; everything stays
    * in int64 bit arithmetic, identical in the DuckDB oracle. */
  private def qLayoutZorder(s: SparkSession, d: String): DataFrame = {
    val day = datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
      .cast(LongType)
    Tables.orders(s, d)
      .select(
        col("o_custkey"),
        day.as("day_idx"),
        spread16(col("o_custkey"))
          .bitwiseOR(shiftleft(spread16(day), 1)).as("zval"))
      .groupBy(expr("zval DIV 1048576").as("z_bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
        min(col("day_idx")).as("min_day"), max(col("day_idx")).as("max_day"))
      .orderBy("z_bucket")
  }

  /** Incremental view maintenance (the Flink-materialized-view / streaming
    * upsert-sink idea, batch form): a grouped aggregate is maintained as
    * MERGEABLE PARTIAL STATES — (count, sum) monoids — so new data only
    * requires aggregating the NEW partition and re-merging, never
    * rescanning history. Here the "old" (pre-1999) and "new" (1999+)
    * partitions are aggregated independently, unioned as partials, and
    * merged by summing; derived metrics (avg) are reconstructed FROM the
    * merged state, which is why the state carries (n, cents) and not the
    * average itself. The oracle is the full recompute over everything —
    * the incremental answer must be indistinguishable. At 100 TB this is
    * the difference between scanning one day and scanning ten years. */
  private def qIncrAgg(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1999-01-01").cast(TimestampType)
    def partials(f: DataFrame): DataFrame =
      f.groupBy(col("o_orderstatus"), year(col("o_orderdate")).cast(LongType).as("yr"))
        .agg(
          count(lit(1)).as("n"),
          (sum(dec(col("o_totalprice"), 12, 2)) * 100).cast(LongType).as("cents"))
    val o = Tables.orders(s, d)
    partials(o.filter(col("o_orderdate") < cut))
      .unionAll(partials(o.filter(col("o_orderdate") >= cut)))
      .groupBy(col("o_orderstatus"), col("yr"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      .withColumn("avg_cents", expr("cents DIV n"))
      .orderBy("o_orderstatus", "yr")
  }

  /** Pareto frontier (skyline) per brand: parts not dominated on
    * (price ↓, size ↑) by any same-brand part. A LEFT ANTI self-join whose
    * equi key (brand) bounds the pair blow-up to within-group n², with the
    * dominance test as the residual condition — the standard way to keep a
    * skyline distributed: partition by a low-cardinality key, never a
    * global cross join. Output is the frontier itself (~log n rows per
    * group for random data). */
  private def qSkyline(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
    val q = p.select(col("p_brand").as("qb"), col("p_size").as("qs"),
      col("p_retailprice").as("qp"))
    p.join(q,
        col("p_brand") === col("qb") &&
          col("qp") <= col("p_retailprice") && col("qs") >= col("p_size") &&
          (col("qp") < col("p_retailprice") || col("qs") > col("p_size")),
        "left_anti")
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        decStr(col("p_retailprice")).as("price"))
      .orderBy("p_brand", "p_partkey")
  }

  /** Data-freshness monitor: per-event-type max event time (µs) against
    * the global max, with a 1-hour staleness flag — the lag panel every
    * ingestion pipeline dashboards. One map-combinable aggregate over the
    * fact table; the global max is the same per-type aggregate re-reduced
    * (types-sized, broadcast back) — the fact table is read ONCE and
    * never shuffled beyond the types-sized aggregate. */
  private def qDqFreshness(s: SparkSession, d: String): DataFrame = {
    val t = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(max(expr("ts DIV 1000")).as("max_us"), count(lit(1)).as("n"))
    val g = t.agg(max(col("max_us")).as("gmax"))
    t.crossJoin(broadcast(g))
      .select(col("event_type"), col("max_us"), col("n").cast(LongType).as("n"),
        (col("gmax") - col("max_us")).as("lag_us"),
        when(col("gmax") - col("max_us") > 3600000000L, lit(1L)).otherwise(lit(0L)).as("stale"))
      .orderBy("event_type")
  }

  /** TIME-TRAVEL DIFF — what changed between two committed versions of
    * a transactional table, read through the manifest log's snapshot
    * isolation: version 0 (the base append) and version 1 (the MERGE)
    * of the same table q_table_manifest builds, full-outer-joined on
    * the key and classified inserted/changed/unchanged with exact cent
    * deltas. This is the audit query every CDC/backfill pipeline runs
    * after a merge ("what did that commit actually do"), and it is only
    * possible because older versions stay readable — the oracle
    * recomputes both versions relationally, so the hash match proves
    * the log preserved v0 EXACTLY while v1 superseded it. One
    * co-partitioned full-outer join on the key; both sides are
    * snapshot scans. */
  private def qManifestDiff(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_manifest_diff", d)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("k"),
      (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"))
    ManifestTable.append(s, t, o.filter(col("k") % 3 === 0))           // v0
    ManifestTable.merge(s, t,
      o.filter(col("k") % 6 === 0 || col("k") % 3 === 1)
        .withColumn("cents", col("cents") + 11), "k")                  // v1
    val v0 = ManifestTable.read(s, t, Some(0L)).as("b")
    val v1 = ManifestTable.read(s, t, Some(1L)).as("m")
    v1.join(v0, col("m.k") === col("b.k"), "full_outer")
      .select(
        when(col("b.k").isNull, "inserted")
          .when(col("m.cents") =!= col("b.cents"), "changed")
          .otherwise("unchanged").as("cls"),
        (coalesce(col("m.cents"), lit(0L)) - coalesce(col("b.cents"), lit(0L))).as("delta"),
        coalesce(col("m.cents"), lit(0L)).as("newc"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n"),
        sum(col("delta")).cast(LongType).as("delta_cents"),
        sum(col("newc")).cast(LongType).as("new_cents"))
      .orderBy("cls")
  }

  /** DISTRIBUTION DRIFT monitor — the data-quality check between two
    * periods that catches a silently shifted metric before it poisons
    * downstream aggregates (the integer stand-in for PSI/KL, which need
    * logs the determinism discipline bans): per event_type, the event
    * value binned into 10 fixed cents-buckets, first vs second half of
    * the month, and the TOTAL VARIATION distance between the two
    * empirical distributions in exact cross-multiplied integers —
    * tvd = Σ|oA·nB − oB·nA| / (2·nA·nB), emitted as the numerator plus
    * a per-mille. One shuffle keyed (type, bin), counts map-combinable;
    * the per-type totals are a tiny second aggregate joined back —
    * at 100 TB both stages stay bounded by type×bin cardinality. */
  private def qDqDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_type"),
      when(dayofmonth(col("t")) <= 15, 0).otherwise(1).as("half"),
      (dec(col("value"), 12, 2) * 100).cast(LongType).as("cents"))
      .select(col("event_type"), col("half"),
        least(expr("cents DIV 1000"), lit(9L)).as("bin"))
    val c = ev.groupBy(col("event_type"), col("bin"))
      .agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("oa"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("ob"))
    val n = c.groupBy(col("event_type"))
      .agg(sum(col("oa")).as("na"), sum(col("ob")).as("nb"))
    c.join(n, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        max(col("na")).cast(LongType).as("n_a"),
        max(col("nb")).cast(LongType).as("n_b"),
        sum(abs(col("oa") * col("nb") - col("ob") * col("na"))).cast(LongType).as("tvd_num"),
        expr("CAST(SUM(ABS(oa * nb - ob * na)) * 1000 DIV (2 * MAX(na) * MAX(nb)) AS BIGINT)")
          .as("tvd_pm"))
      .orderBy("event_type")
  }

  /** The transactional table format END TO END under the oracle gate:
    * commit a base snapshot of orders into a ManifestTable, MERGE an
    * update set (half the base keys repriced, a disjoint key class
    * inserted), read the POST-MERGE SNAPSHOT back and aggregate it. The
    * oracle recomputes the merged state relationally from the parquet
    * original, so the hash match proves the staged-write → CAS-commit →
    * snapshot-read cycle loses nothing and applies update-wins
    * semantics exactly (the dataflow q_merge_upsert verifies, now
    * through the atomic table layer). A fresh temp table per call keeps
    * re-runs independent; at scale the same protocol runs against a
    * lake path with a log-store CAS. */
  private def qTableManifest(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_manifest_q", d)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
      (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"))
    ManifestTable.append(s, t, o.filter(col("k") % 3 === 0))
    ManifestTable.merge(s, t,
      o.filter(col("k") % 6 === 0 || col("k") % 3 === 1)
        .withColumn("cents", col("cents") + 11),
      "k")
    ManifestTable.read(s, t)
      .groupBy(col("st").as("o_orderstatus"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("cents")).cast(LongType).as("total_cents"),
        min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** GDPR ERASURE (right-to-be-forgotten) as a transactional delete with
    * file-level pruning: the events land in a [[graft.sources.ManifestTable]]
    * as four user-RANGED data files (each carries tight user_id [min,max]
    * stats sidecars), then `deleteWhere(user_id ∈ [7,7])` rewrites ONLY
    * the one file whose stats admit user 7 — the other three are carried
    * into the new manifest untouched (pinned file-for-file in
    * ManifestTableSuite), and the pre-erasure snapshot stays
    * time-travelable until a history purge + vacuum. The declared output
    * is the post-erasure census, oracle-checked against a plain filter
    * of the raw events — proving the prune-rewrite-commit cycle is
    * EXACT, not best-effort. At 100 TB file-level pruning is the whole
    * game: one user's rows live in a bounded file neighborhood, and the
    * table never rewrites. */
  private def qGdprErasure(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_gdpr", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    // order-free ingest slices: one parallel commit wave (see qGdprDv)
    graft.Parallel.run(
      Seq((0L, 4L), (4L, 8L), (8L, 12L), (12L, Long.MaxValue)).map {
        case (lo, hi) => () => ManifestTable.append(s, t,
          ev.filter(col("user_id") >= lo && col("user_id") < hi).coalesce(1))
      }: _*)
    ManifestTable.deleteWhere(s, t, "user_id", 7L, 7L)
    ManifestTable.read(s, t)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** GDPR erasure on the MERGE-ON-READ path, full lifecycle under the
    * oracle gate: two scattered single-user deletes land as DELETION
    * VECTORS (each user covers a sliver of its file's user_id span, so
    * [[graft.sources.ManifestTable.deleteWhere]]'s per-file overlap
    * policy chooses tombstones over rewrite — the commit writes rows
    * proportional to the erased USERS, not the lake), the tombstoned
    * census is read merge-on-read, then [[ManifestTable.compact]]
    * materializes the DVs away and the SAME census must come off the
    * DV-free snapshot — the executed assertion that tombstone reads and
    * materialized rewrites agree row-for-row. At 100 TB this is the
    * difference VERDICT r6 item 2 named: a synchronous erasure touching
    * a scattered key no longer rewrites the lake; the rewrite happens
    * lazily in maintenance. */
  private def qGdprDv(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_gdpr_dv", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    // the four user-sliced ingest files land as one parallel wave: the
    // census below is version-order-free, concurrent appends are exactly
    // the CAS loop's contract, and the wall-clock is commit I/O
    graft.Parallel.run(
      Seq((0L, 4L), (4L, 8L), (8L, 12L), (12L, Long.MaxValue)).map {
        case (lo, hi) => () => ManifestTable.append(s, t,
          ev.filter(col("user_id") >= lo && col("user_id") < hi).coalesce(1))
      }: _*)
    // the two single-user erasures tombstone DISJOINT files (the
    // user-sliced layout puts user 3 and user 7 in different files), so
    // they land as one parallel wave (§2.6) — deleteWhere's CAS rebase
    // path re-reconciles the loser against the winner's committed DV
    // without recomputing, and the post-wave snapshot is identical in
    // either commit order
    val v0 = ManifestTable.latestVersion(t).get
    val vDel = new Array[Long](2)
    graft.Parallel.run(
      () => vDel(0) = ManifestTable.deleteWhere(s, t, "user_id", 3L, 3L),
      () => vDel(1) = ManifestTable.deleteWhere(s, t, "user_id", 7L, 7L))
    val v2 = math.max(vDel(0), vDel(1))
    require(ManifestTable.snapshotDvs(t, v2).size == 2,
      "scattered single-user deletes must take the DV path")
    require(ManifestTable.snapshotFiles(t, v2).toSet ==
      ManifestTable.snapshotFiles(t, v0).toSet,
      "DV deletes must not rewrite any data file")
    val census = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
    val mor = census(ManifestTable.read(s, t)) // files pinned pre-compact
    val vC = ManifestTable.compact(s, t)
    require(ManifestTable.snapshotDvs(t, vC).isEmpty, "compact must clear DVs")
    // tombstone read == compacted read, both censuses as MULTISET
    // FINGERPRINTS (count + order-free xxhash64 sum — the
    // q_warehouse_layers discipline): the merge-on-read census and the
    // compacted-census checkpoint are independent scans, so they run as
    // one parallel wave (§2.6) instead of a checkpoint job followed by
    // an except-both-ways job. The checkpointed |event_type|-sized
    // census is the declared result either way.
    def fpOf(df: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)).cast(LongType),
        coalesce(sum(xxhash64(col("event_type"), col("n_events"),
          col("n_users")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val fps = new Array[(Long, java.math.BigDecimal)](2)
    var materialized: DataFrame = null
    graft.Parallel.run(
      () => fps(0) = fpOf(mor),
      () => {
        materialized = census(ManifestTable.read(s, t)).localCheckpoint()
        fps(1) = fpOf(materialized)
      })
    require(fps(0)._1 == fps(1)._1 && fps(0)._2.compareTo(fps(1)._2) == 0,
      s"merge-on-read and compacted reads must agree: ${fps(0)} vs ${fps(1)}")
    materialized
  }

  /** GDPR erasure keyed on a STRING column, full lifecycle under the
    * oracle gate — the round-11 generalization of file skipping and
    * lake predicates beyond integer surrogates: ingest lands in four
    * lexicographically-sliced files (each with a TIGHT truncated
    * string range in its `.stats` sidecar), a single-source erasure
    * (`source = 'src7'` — the by-email/by-uuid shape real corpora
    * erase on) goes through a String-typed
    * [[graft.sources.ManifestTable.deleteWhere]], and the plan
    * REQUIRES what the production formats promise: only ONE file's
    * string range overlaps the key (string-stats pruning), the delete
    * lands as a DELETION VECTOR (zero data files rewritten — the
    * commit writes tombstones proportional to the erased source, not
    * the corpus), and the post-erasure census comes off the
    * merge-on-read snapshot. At 100 TB a string-keyed erasure without
    * this rewrites every file; with it, the lake stands still. */
  private def qGdprString(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_gdpr_str", d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    // four lexicographic source slices (src0 < src1 < src10 < … <
    // src19 < src2 < …, UTF-8 order), one parallel commit wave; each
    // file's sidecar then carries a tight disjoint string range
    graft.Parallel.run(
      Seq(("", Some("src13")), ("src13", Some("src17")),
        ("src17", Some("src5")), ("src5", None)).map { case (lo, hi) =>
        () => ManifestTable.append(s, t,
          docs.filter(col("source") >= lo &&
            hi.map(col("source") < _).getOrElse(lit(true))).coalesce(1))
      }: _*)
    val v0 = ManifestTable.latestVersion(t).get
    // string-stats pruning must isolate the key's file NEIGHBORHOOD
    // before any data file opens — the whole point of truncated
    // string min/max in the sidecars
    require(ManifestTable.prunedFileCount(t, "source", "src7", "src7") == 1,
      "string stats must prune the erasure to one file")
    val v = ManifestTable.deleteWhere(s, t, "source", "src7", "src7")
    require(ManifestTable.snapshotDvs(t, v).size == 1,
      "a string-keyed erasure must take the DV path")
    require(ManifestTable.snapshotFiles(t, v).toSet ==
      ManifestTable.snapshotFiles(t, v0).toSet,
      "string-keyed DV deletes must not rewrite any data file")
    ManifestTable.read(s, t)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** RETENTION EXPIRY keyed on a DATE column, full lifecycle under the
    * oracle gate — the date half of generalizing lake predicates
    * beyond integer surrogates (the string half is [[qGdprString]]):
    * ingest lands in four year-ranged files (each with a tight INT32
    * days-since-epoch range in its `.stats` sidecar), then the
    * standard retention two-step runs through
    * a `LocalDate`-typed [[graft.sources.ManifestTable.deleteWhere]]:
    *  1. "purge everything before the cutoff" — the predicate CONTAINS
    *     the oldest file's whole date range, and the file's sidecar
    *     proves zero nulls, so the commit DROPS it from the manifest
    *     without reading a row (required in-plan: one file leaves, no
    *     file arrives, no deletion vector is written — the commit is a
    *     manifest edit, which is what lets a 100 TB lake expire a day
    *     per day instead of rewriting itself);
    *  2. a mid-range correction window — the predicate grazes one
    *     file (~4 % of its span), so it takes the DELETION-VECTOR
    *     path, files standing (required in-plan).
    * The census reads merge-on-read; the oracle recomputes both
    * deletes definitionally from the base orders table. */
  private def qRetentionDate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    import java.time.LocalDate
    val t = graft.Scratch.fresh("graft_retention_date", d)
    val ords = Tables.orders(s, d).select(
      col("o_orderstatus"),
      col("o_orderdate").cast("date").as("o_date"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    // four year-ranged ingest files, one parallel commit wave; each
    // sidecar then carries a tight disjoint days-since-epoch range
    val slices = Seq(("1995-01-01", Some("1997-01-01")),
      ("1997-01-01", Some("1999-01-01")), ("1999-01-01", Some("2001-01-01")),
      ("2001-01-01", None))
    graft.Parallel.run(slices.map { case (lo, hi) =>
      () => ManifestTable.append(s, t,
        ords.filter(col("o_date") >= lit(lo).cast("date") &&
          hi.map(col("o_date") < lit(_).cast("date")).getOrElse(lit(true)))
          .coalesce(1))
    }: _*)
    val v0 = ManifestTable.latestVersion(t).get
    // date-stats pruning must isolate the expiring range to one file
    // before any data file opens
    require(ManifestTable.prunedFileCount(t, "o_date",
      LocalDate.of(1995, 1, 1), LocalDate.of(1996, 12, 31)) == 1,
      "date stats must prune the retention window to one file")
    val v1 = ManifestTable.deleteWhere(s, t, "o_date",
      LocalDate.of(1995, 1, 1), LocalDate.of(1996, 12, 31))
    val f0 = ManifestTable.snapshotFiles(t, v0).toSet
    val f1 = ManifestTable.snapshotFiles(t, v1).toSet
    require(f1.subsetOf(f0) && (f0 -- f1).size == 1,
      "expiring a stats-contained file must drop it and stage nothing")
    require(ManifestTable.snapshotDvs(t, v1).isEmpty,
      "a whole-file retention expiry must not write deletion vectors")
    val v2 = ManifestTable.deleteWhere(s, t, "o_date",
      LocalDate.of(1997, 6, 1), LocalDate.of(1997, 6, 30))
    require(ManifestTable.snapshotDvs(t, v2).size == 1,
      "a grazing date window must take the DV path")
    require(ManifestTable.snapshotFiles(t, v2).toSet == f1,
      "a DV date delete must not rewrite any data file")
    ManifestTable.read(s, t)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).cast("long").as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** TRANSACTIONAL PARTITION BACKFILL under the oracle gate — the
    * round-11 manifest-partition surface exercised end-to-end: three
    * ingest waves land PARTITIONED by event_type (value-pure files,
    * partition value in the file name —
    * [[graft.sources.ManifestTable.appendPartitioned]]), then the
    * click partition is recomputed from source with a correction and
    * swapped in atomically via
    * [[graft.sources.ManifestTable.overwritePartition]] — the
    * `INSERT OVERWRITE ... PARTITION` backfill idiom, transactionalized.
    * The plan REQUIRES the partition economics the production layouts
    * promise: partition planning is a manifest string match (the click
    * partition's file count is known without opening anything), the
    * backfill's manifest diff removes ONLY click-marked files (every
    * other partition carries verbatim — zero reads, zero rewrites),
    * and a partition-pruned read of an untouched partition opens no
    * foreign files. At 100 TB a daily backfill rewrites its day, not
    * the lake. */
  private def qBackfillManifest(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_backfill_mf", d)
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast("long").as("cents"))
    // the three ingest waves are order-free (no version literal is
    // pinned downstream; the partition file census and the final
    // aggregate are set-valued) — one parallel commit wave (§2.6), the
    // CAS retry loop serializing the manifest appends
    graft.Parallel.run((0L to 2L).map { b =>
      () => ManifestTable.appendPartitioned(s, t,
        ev.filter(col("event_id") % 3 === b).coalesce(1), "event_type"): Any
    }: _*)
    // partition planning is manifest-only: three waves → three
    // click-marked files, counted without opening a single one
    require(ManifestTable.partitionFileCount(t, "click") == 3,
      "partition planning must see one click file per ingest wave")
    val vPre = ManifestTable.latestVersion(t).get
    // the backfill: recompute click from source with corrected cents
    val corrected = ev.filter(col("event_type") === "click")
      .withColumn("cents", col("cents") + 7).coalesce(1)
    val v = ManifestTable.overwritePartition(s, t, "click", corrected)
    // the commit's manifest diff touches ONLY the click partition
    val removed = ManifestTable.snapshotFiles(t, vPre).toSet --
      ManifestTable.snapshotFiles(t, v).toSet
    require(removed.nonEmpty &&
      removed.forall(f => ManifestTable.partitionValueOf(f).contains("click")),
      "a partition overwrite must replace exactly its own partition's files")
    // untouched partitions plan zero foreign files
    val pruned = ManifestTable.readPartition(s, t, "signup")
    require(pruned.inputFiles.forall(f =>
      ManifestTable.partitionValueOf(f).contains("signup")),
      "a partition-pruned read must open no foreign partition's file")
    ManifestTable.read(s, t)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).cast("long").as("sum_cents"))
      .orderBy("event_type")
  }

  /** CHANGE DATA FEED under the oracle gate: run a full table lifecycle
    * (three ingest appends, two scattered GDPR-style deletes — the
    * DV-vs-rewrite choice is whatever the per-file stats dictate — and a
    * compaction), then read the table's OWN commit log back as a
    * row-level changelog via [[graft.sources.ManifestTable.readChanges]]
    * and census it per (version, change type). The oracle recomputes
    * every commit's delta definitionally from the base events table, so
    * the hash match proves the feed emits exactly the rows each commit
    * inserted/deleted — and nothing for the compaction, whose
    * physical-only nature is thereby driver-checked, not just asserted.
    * Path-independence is the deep property under test: whether a delete
    * rewrote a file (survivors must cancel) or tombstoned it (only DV'd
    * positions emit), the census is identical.
    *
    * Scale (100 TB): the feed derives from CHANGED files + tombstone
    * sidecars only — an erasure's changelog is user-sized while the lake
    * stands still; no snapshot diff ever runs. */
  private def qTableCdf(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_cdf_q", d)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    for (b <- 0L to 2L)
      ManifestTable.append(s, t, ev.filter(col("event_id") % 3 === b))
    ManifestTable.deleteWhere(s, t, "user_id", 3L, 3L) // v3
    val vDel = ManifestTable.deleteWhere(s, t, "user_id", 7L, 7L) // v4
    val vC = ManifestTable.compact(s, t) // v5 when DVs exist, else v4
    require(vDel == 4L, s"oracle pins version literals; lifecycle landed at v$vDel")
    val ch = ManifestTable.readChanges(s, t, -1L, vC)
    ch.groupBy(col("_commit_version").as("v"), col("_change_type").as("ctype"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("event_id")).cast(LongType).as("sum_id"))
      .orderBy("v", "ctype")
  }

  /** CDF UPDATE SEMANTICS under the oracle gate (Delta-parity
    * changelogs): seed a keyed table, MERGE an upsert batch into it
    * ([[ManifestTable.merge]] records the merge key in the commit
    * meta), then read the change feed back and census it per (version,
    * change type). The feed pairs the merge's delta by the recorded
    * key: rows whose key existed emit as update_preimage (old state) +
    * update_postimage (new state); fresh keys emit as plain inserts;
    * untouched rows stay silent (copy-on-write survivors cancel). The
    * oracle recomputes every class definitionally from the base events
    * table, so the hash certifies the PAIRING itself — sum_cents
    * separates the pre/post images (old cents vs bumped cents), which
    * no insert/delete relabeling could fake.
    *
    * Scale (100 TB): the pairing join runs on the commit's DELTA (both
    * sides are changed-rows-sized, never the snapshot), keyed by the
    * merge key the commit itself recorded — an SCD2/audit consumer
    * downstream reads paired updates without ever reconstructing them
    * from a full-table diff. */
  private def qTableCdfMerge(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_cdf_m", d)
    // null values coalesce to 0 cents: a null-cents "update" would be
    // byte-identical to its preimage and correctly cancel, which the
    // definitional oracle cannot see — normalize instead
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast(LongType).as("cents"))
    ManifestTable.append(s, t, ev.filter(col("event_id") % 2 === 0)) // v0
    // the upsert batch: half the existing keys with bumped cents
    // (updates), plus brand-new odd keys (inserts)
    val upserts = ev.filter(col("event_id") % 4 === 0 || col("event_id") % 4 === 1)
      .select(col("event_id"), col("user_id"), (col("cents") + 7L).as("cents"))
    val vm = ManifestTable.merge(s, t, upserts, "event_id") // v1
    require(vm == 1L, s"oracle pins version literals; merge landed at v$vm")
    val ch = ManifestTable.readChanges(s, t, -1L, vm)
    ch.groupBy(col("_commit_version").as("v"), col("_change_type").as("ctype"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("event_id")).cast(LongType).as("sum_id"),
        sum(col("cents")).cast(LongType).as("sum_cents"))
      .orderBy("v", "ctype")
  }

  /** WRITER EXPECTATIONS under the oracle gate (the DLT
    * expect-or-quarantine contract): ingest the events batch through
    * [[ManifestTable.appendExpect]] with an ORDERED rule list — known
    * event type, value ceiling, user allowlist — then census BOTH
    * landed tables back: quarantined rows grouped by the first rule
    * they failed, passing rows as one 'passed' class. The oracle
    * recomputes the routing with the same first-non-TRUE CASE ladder,
    * so the hash certifies rule ORDER (a row failing two rules must be
    * attributed to the earlier one), the null-is-a-violation
    * convention, and that the per-table commits lost nothing.
    *
    * Scale (100 TB): routing is one predicate column on the ingest
    * batch — no shuffle, no table rescan; the quarantine side is a
    * full ManifestTable an audit pipeline can CDF-consume. */
  private def qExpectations(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val root = graft.Scratch.fresh("graft_expect_q", d)
    val (t, qt) = (s"$root/main", s"$root/quarantine")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ManifestTable.appendExpect(s, t, ev, Seq(
      "known_type" -> "event_type IN ('click', 'view', 'signup', 'purchase')",
      "value_range" -> "value <= 400",
      "user_allowed" -> "user_id % 37 <> 0"), qt)
    val passed = ManifestTable.read(s, t)
      .groupBy(lit("passed").as("cls"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("event_id")).cast(LongType).as("sum_id"))
    val quarantined = ManifestTable.read(s, qt)
      .groupBy(col("_violation").as("cls"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("event_id")).cast(LongType).as("sum_id"))
    passed.unionAll(quarantined).orderBy("cls")
  }

  /** Z-ORDER CLUSTERING under the oracle gate: land lineitem's
    * (partkey, suppkey, quantity) projection as a row-order
    * ManifestTable, [[ManifestTable.clusterBy]] it on (l_partkey,
    * l_suppkey) — the OPTIMIZE ZORDER maintenance rewrite, one
    * range-partitioned shuffle on the bit-interleaved cell id — then
    * serve a conjunctive 2-D box through a two-range
    * [[ManifestTable.readPruned]], which opens only files whose
    * committed per-file [min, max] stats intersect BOTH ranges. The
    * oracle recomputes the box census
    * relationally, so the hash certifies the rewrite carried every row
    * and the pruned read lost none — pruning is a performance property,
    * never a correctness input. The LAYOUT property (a z-ordered box
    * opens strictly fewer files than the row-order layout, and file
    * count tracks box area) is pinned in ManifestTableSuite at a fixed
    * sf, where it is deterministic.
    *
    * Scale (100 TB): this is the canonical answer to "2-D range scans
    * on a petabyte fact table": one clustering rewrite amortizes every
    * later box scan from full-table to box-area file opens, with
    * correctness independent of the layout. */
  private def qTableZorder(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_zorder_q", d)
    val li = Tables.lineitem(s, d).select(
      col("l_partkey"), col("l_suppkey"),
      col("l_quantity").cast(LongType).as("qty"))
    ManifestTable.append(s, t, li.repartition(32)) // v0: row-order layout
    ManifestTable.clusterBy(s, t, "l_partkey", "l_suppkey") // v1: z-ordered
    ManifestTable.readPruned(s, t, "l_partkey", 100L, 299L,
        ManifestTable.ColRange("l_suppkey", 3L, 6L))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_partkey")).cast(LongType).as("sum_part"),
        sum(col("qty")).cast(LongType).as("sum_qty"))
      .orderBy("l_suppkey")
  }

  /** INCREMENTAL SCD2 FROM THE CHANGE FEED — the consumer the CDF
    * update pairing exists for: a keyed dimension table goes through a
    * seed append and two MERGE waves, then the slowly-changing-dimension
    * history is derived ENTIRELY from the table's own changelog. Every
    * insert/update_postimage opens a validity interval at its commit
    * version (valid_to = the next opening's version via one window over
    * the changelog); the paired update_preimage supplies each
    * transition's old attribute — the Debezium-style audit column that
    * delete+insert changelogs force consumers to reconstruct by
    * re-joining the whole dimension. The oracle rebuilds the identical
    * history definitionally (LAG/LEAD over the closed-form epochs), so
    * the hash certifies both the interval chaining AND the pre/post
    * pairing.
    *
    * Scale (100 TB): the SCD2 maintenance work is changelog-sized —
    * one window + one delta-sized join per drained range; the dimension
    * itself is never rescanned. That is the whole point of CDF-fed
    * SCD2 vs snapshot-diff SCD2. */
  private def qScd2Cdf(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.expressions.Window
    val t = graft.Scratch.fresh("graft_scd2_cdf", d)
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    ManifestTable.append(s, t,
      cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))) // v0
    // wave 1: re-segment half the seeded keys, insert fresh odd keys
    ManifestTable.merge(s, t,
      cust.filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"), concat(lit("SEG_"), col("c_custkey") % 3).as("seg"))
        .union(cust.filter(col("c_custkey") % 4 === 1)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
      "c_custkey") // v1
    // wave 2: a second re-segmentation touching both populations
    val vm = ManifestTable.merge(s, t,
      cust.filter(col("c_custkey") % 8 === 0 || col("c_custkey") % 8 === 1)
        .select(col("c_custkey"), concat(lit("SEG2_"), col("c_custkey") % 5).as("seg")),
      "c_custkey") // v2
    require(vm == 2L, s"oracle pins version literals; lifecycle landed at v$vm")
    val ch = ManifestTable.readChanges(s, t, -1L, vm)
    val opens = ch.filter(col("_change_type").isin("insert", "update_postimage"))
      .select(col("c_custkey"), col("seg"), col("_commit_version").as("valid_from"))
    val pre = ch.filter(col("_change_type") === "update_preimage")
      .select(col("c_custkey"), col("seg").as("old_seg"),
        col("_commit_version").as("valid_from"))
    opens
      .join(pre, Seq("c_custkey", "valid_from"), "left")
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col("c_custkey")).orderBy(col("valid_from"))))
      .select(col("c_custkey"), col("seg"), col("old_seg"),
        col("valid_from"), col("valid_to"))
      .orderBy("c_custkey", "valid_from")
  }

  /** ADD-COLUMN SCHEMA EVOLUTION under the oracle gate: commit orders
    * under the narrow (k, cents) schema, [[ManifestTable.appendEvolve]]
    * a second slice bringing an `st` status column — NO pre-evolution
    * file is rewritten (required in-plan), readers fill the evolved
    * column with null for old rows via the committed signature — then
    * run a retention DELETE whose pruning spans BOTH schema epochs and
    * aggregate the merged read. The oracle recomputes the whole
    * lifecycle relationally, so the hash certifies read-time evolution
    * end to end: old rows surface as the 'pre' class, evolved rows keep
    * their status through the delete's copy-on-write/DV machinery. At
    * 100 TB this is the whole point of evolution-by-metadata: adding a
    * column costs one manifest line, not a lake rewrite. */
  private def qTableEvolve(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_evolve_q", d)
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("k"),
      (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"))
    val oSt = Tables.orders(s, d).select(
      col("o_orderkey").as("k"),
      (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"),
      col("o_orderstatus").as("st"))
    ManifestTable.append(s, t, o.filter(col("k") % 3 === 0))
    val before = ManifestTable.snapshotFiles(t, 0).toSet
    val v1 = ManifestTable.appendEvolve(s, t, oSt.filter(col("k") % 3 === 1))
    require(before.subsetOf(ManifestTable.snapshotFiles(t, v1).toSet),
      "evolution must not rewrite any pre-evolution file")
    ManifestTable.deleteWhere(s, t, "k", 0L, 99L) // retention purge across epochs
    ManifestTable.read(s, t)
      .groupBy(coalesce(col("st"), lit("pre")).as("st"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).cast(LongType).as("sum_cents"))
      .orderBy("st")
  }

  /** LAYERED WAREHOUSE maintained from the base table's commit log —
    * the reference genre's defining ODS→DWD→DWS architecture (SURVEY
    * §1.1) closed end-to-end on the engine's own table format: raw
    * events land in an ODS [[ManifestTable]] batch by batch; ONE drain
    * of the ODS CHANGE FEED ([[graft.sources.ChangeFeed]],
    * version-offset checkpoint) maintains BOTH downstream layers per
    * version — the DWD cleaning commit (null-screened cents-typed rows)
    * and the DWS PER-BATCH PARTIAL AGGREGATES per (event_type, day),
    * derived from the same cleaned batch (single-read layer handoff:
    * an insert-only append's own change feed IS the appended rows, so
    * re-draining DWD's feed one hop later would re-read the exact batch
    * this drain already holds — r11 verdict item 1, guide §2.4/§6).
    * Every sink commit is exactly-once: at-least-once feed delivery
    * (replayed here with a lost checkpoint) × an idempotent versioned
    * sink commit keyed by the drained ODS version. The declared read
    * folds the DWS partials; the oracle recomputes from raw events, so
    * the hash certifies the whole three-layer incremental dataflow.
    *
    * Scale (100 TB): per ingest batch each layer does batch-sized work —
    * the changelog derives from the commit's own files, the partial
    * aggregate is map-combinable, and no layer ever rescans another's
    * history; the serving read scans ≤ |groups|×batches partial rows. */
  private def qWarehouseLayers(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{ChangeFeed, ManifestTable}
    val root = graft.Scratch.fresh("graft_layers", d)
    val ods = s"$root/ods"; val dwd = s"$root/dwd"; val dws = s"$root/dws"
    val ev = Tables.events(s, d).select(
      col("event_id"), col("event_type"), col("user_id"), col("value"),
      dayofmonth(col("t")).cast(LongType).as("day"))
    def clean(ch: DataFrame): DataFrame = ch
      .filter(col("_change_type") === "insert")
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("day"),
        (dec(col("value"), 12, 2) * 100).cast(LongType).as("cents"))
    def partial(cleaned: DataFrame): DataFrame = cleaned
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"),
        max(col("cents")).as("max_cents"))
    // SINGLE-READ LAYER HANDOFF (guide §2.4/§6, r11 verdict item 1):
    // one ODS drain maintains BOTH downstream layers. The cleaned
    // batch that lands in DWD is the exact changelog the DWS stage
    // would read back out of DWD's own feed one hop later (an
    // insert-only append's feed is the appended rows), so the DWS
    // partial aggregates the SAME batch the DWD commit carries —
    // without re-listing DWD and re-reading the files just written.
    // Both sinks stay exactly-once per ODS version (idempotentAppend
    // keyed by the drained version), and the two commits touch
    // different tables, so they land as one parallel wave (§2.6).
    // Batch boundaries, batch keys and therefore the committed DWS
    // partials are identical to the historic chained-feed shape.
    def drainOds(): Unit = {
      ChangeFeed.availableNow(s, ods, s"$root/cp_dwd") { (ch, _, to) =>
        val cleaned = clean(ch)
        graft.Parallel.run(
          () => ManifestTable.idempotentAppend(s, dwd, cleaned, to),
          () => ManifestTable.idempotentAppend(s, dws, partial(cleaned), to))
      }
      ()
    }
    // the NEXT wave's ODS ingest is independent of draining the
    // PREVIOUS wave (§2.6): the feed walks committed versions one at a
    // time with per-version batch keys, so whether an overlapped drain
    // observes the concurrent commit now or the closing drain picks it
    // up, the committed batches are identical
    ManifestTable.append(s, ods, ev.filter(col("event_id") % 3 === 0))
    for (b <- 1L to 2L)
      graft.Parallel.run(
        () => drainOds(),
        () => ManifestTable.append(s, ods, ev.filter(col("event_id") % 3 === b)))
    drainOds() // close the feed: drain whatever the overlap did not see
    // row-identical rebuild, compared by MULTISET FINGERPRINT (count +
    // sum of per-row xxhash64): two narrow map-combinable scans instead
    // of two exceptAll shuffles over the full layer — the check stays
    // order-free and multiset-sensitive, the cost stays delta-shaped
    def fp(df: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal(38,0) accumulator: full-range xxhash64 values would
      // overflow a long sum under ANSI arithmetic
      val r = df.agg(count(lit(1)).cast(LongType),
        coalesce(sum(xxhash64(col("event_id"), col("event_type"),
          col("day"), col("cents")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    // Two INDEPENDENT recovery exercises run as one parallel wave
    // (guide §2.6 — they touch disjoint state, and each chain's own
    // steps stay ordered inside its thread):
    //  (a) crash-replay: a DWD consumer that LOST its checkpoint
    //      re-drains the whole ODS log; its idempotent sink re-observes
    //      the committed batch ids and must commit nothing
    //      (at-least-once delivery × idempotent commit = exactly-once,
    //      executed not asserted). DWD is final after the loop — the
    //      replay provably commits nothing — so its fingerprint scan
    //      follows in the same thread.
    //  (b) lost-checkpoint recovery through the STREAM source under
    //      ADMISSION CONTROL: rebuild DWD from scratch by draining the
    //      whole ODS backlog with a bounded read limit
    //      (maxFilesPerTrigger caps each micro-batch, so a 100 TB-scale
    //      backlog recovers at steady memory instead of one
    //      backlog-sized batch), landing each bounded batch
    //      idempotently into dwd2, then fingerprinting the rebuild.
    val dwd2 = s"$root/dwd2"
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val fps = new Array[(Long, java.math.BigDecimal)](2)
    graft.Parallel.run(
      () => {
        ChangeFeed.availableNow(s, ods, s"$root/cp_replay") { (ch, _, to) =>
          require(ManifestTable.idempotentAppend(s, dwd, clean(ch), to).isEmpty,
            "replayed feed range must not commit")
        }
        fps(0) = fp(ManifestTable.read(s, dwd))
      },
      () => {
        val rq = s.readStream.format("graft.sources.ManifestStreamSource")
          .option("table", ods).option("maxFilesPerTrigger", "2").load()
          .writeStream.option("checkpointLocation", s"$root/cp_recover")
          .foreachBatch { (df: DataFrame, id: Long) =>
            nBatches.incrementAndGet()
            ManifestTable.idempotentAppend(s, dwd2, df
              .filter(col("value").isNotNull)
              .select(col("event_id"), col("event_type"), col("day"),
                (dec(col("value"), 12, 2) * 100).cast(LongType).as("cents")), id)
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try require(rq.awaitTermination(120000), "bounded recovery did not drain")
        finally rq.stop()
        require(nBatches.get() >= 2,
          s"a multi-version backlog under a read limit must take multiple batches, took ${nBatches.get()}")
        fps(1) = fp(ManifestTable.read(s, dwd2))
      })
    val (fa, fb) = (fps(0), fps(1))
    require(fa._1 == fb._1 && fa._2.compareTo(fb._2) == 0,
      s"bounded-batch recovery must rebuild DWD exactly: $fa vs $fb")
    ManifestTable.read(s, dws)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cnt")).cast(LongType).as("n_events"),
        sum(col("sum_cents")).cast(LongType).as("sum_cents"),
        max(col("max_cents")).cast(LongType).as("max_cents"))
      .orderBy("event_type", "day")
  }

  /** One summary build + registration per (session, sf-dir) — the MV is a
    * committed artifact like Graph's edge table or the LSH signature
    * index, not a per-query rebuild. Deterministic path, overwrite mode:
    * a concurrent bench warmup rebuild writes identical bytes. */
  private val mvReady = new graft.SessionCache[Boolean]()

  /** The docs MV summary's store, inside the per-JVM scratch namespace
    * ([[graft.Scratch]]): independent JVMs rebuilding a shared global
    * path with overwrite would delete files out from under each other's
    * pinned registrations. */
  def docsMvPath(d: String): String =
    s"${graft.Scratch.dir("graft_mv")}/" +
      s"sf${d.replaceAll("[^A-Za-z0-9.]", "_")}_docs_src_lang"

  private def ensureDocsMv(s: SparkSession, d: String): Unit =
    mvReady.get(s, d) {
      import graft.plans.{MvDef, MvRegistry}
      // "sf" prefix: a leading underscore (from replacing the leading "/")
      // would make the directory HIDDEN to Spark's file index (paths
      // starting with _ or . are filtered), silently registering an
      // empty-schema summary that could never match
      val path = docsMvPath(d)
      // the build aggregates the base table itself — the guard keeps the
      // rewrite rule away from the build's own plan (self-rewrite onto the
      // summary being overwritten would read and write the same files)
      MvRegistry.buildGuard(s) {
        Tables.documents(s, d)
          .groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("cnt"),
            count(col("n_chars")).as("cntn_n_chars"),
            sum(col("n_chars")).as("sum_n_chars"),
            min(col("n_chars")).as("min_n_chars"),
            max(col("n_chars")).as("max_n_chars"))
          .write.mode("overwrite").parquet(path)
      }
      MvRegistry.register(s, MvDef(s"docs_src_lang:$d",
        MvRegistry.pathsOf(Tables.documents(s, d)),
        Set("source", "lang"),
        s.read.parquet(path).queryExecution.analyzed))
      true
    }

  /** UPDATE-AWARE INCREMENTAL VIEW MAINTENANCE — [[qMvIncr]]'s loop
    * extended to a base table that gets MERGED, not just appended: the
    * change feed's paired update_preimage/update_postimage rows carry
    * SIGNED contributions (+post, −pre, +insert, −delete) into
    * per-batch partial aggregates, appended replay-safely via
    * `idempotentAppend` keyed by the drained version. The MV read folds
    * the signed partials (sum-of-signed-sums; counts as signed row
    * sums), so after two merge waves the folded view equals a fresh
    * aggregate of the final snapshot — which is exactly what the oracle
    * recomputes from the closed-form lifecycle. Groups whose every row
    * updated away net out to zero and are filtered by the folded
    * count. This is textbook IVM over a changelog (the delta-table
    * method), running on the engine's own CDF instead of an external
    * CDC stream.
    *
    * Scale (100 TB): per merge commit the maintenance work is
    * delta-sized (the changelog derives from changed files only); the
    * partial store grows by ≤ |touched groups| rows per batch; no base
    * rescan ever happens. Periodic compaction of the partial store is
    * the same roll-up [[qMvIncr]] documents. */
  /** INCREMENTALLY MAINTAINED JOIN VIEW — the delta-join algebra over
    * TWO base tables' change feeds. The view is `orders ⋈ customer`
    * aggregated per market segment; both bases are [[graft.sources.ManifestTable]]s
    * and the view is a ManifestTable of SIGNED per-batch partials. The
    * maintenance identities, applied in commit-log order (one table's
    * delta at a time, so the ΔA⋈ΔB cross-term never arises):
    *
    *   MV after ΔO  =  MV + ΔO ⋈ C_current        (orders feed)
    *   MV after ΔC  =  MV + O_current ⋈ ΔC        (customer feed)
    *
    * where Δ rows carry the CDF sign (+1 insert/update_postimage, −1
    * delete/update_preimage) — a MERGE that bumps an order's cents nets
    * to the cents delta, and a MERGE that moves a customer between
    * segments moves ALL that customer's joined cents across segments in
    * one batch, with no view recomputation. The lifecycle exercised:
    * initial loads (batch 0 aggregates the two v0 snapshots directly
    * and the feeds' v0 entries are drained unconsumed), an orders-side
    * MERGE (updates + fresh inserts), then a customer-side MERGE
    * (segment reassignment — pure update_pre/postimage pairs). Each hop
    * lands via `idempotentAppend` keyed by a feed-disambiguated batch
    * id, so replays commit nothing.
    *
    * At 100 TB this is THE reason CDF update images exist: each
    * maintenance batch's cost is |Δ| ⋈ other-side — the delta is tiny,
    * shuffles only on the join key, and the planner broadcasts it
    * against the other side's scan (here the full table; a
    * key-bucketed layout or a `readPruned` slice over the delta's key
    * range narrows that scan further at scale). Full view recomputation
    * would instead re-join fact×dim from scratch per change. The declared
    * result reads the view and folds the signed partials; the oracle
    * recomputes the final join-aggregate from the fixture tables. */
  /** RESTORE lifecycle — roll a table back to a pre-erasure version and
    * prove BOTH reader paths stay exact: the restored SNAPSHOT (final
    * census below includes a post-restore append, so the table verifiably
    * lives on) and the CHANGE FEED ACROSS THE RESTORE, whose per-commit
    * diff must emit the un-deleted rows as inserts — including rows that
    * come back by the restore DROPPING a later erasure's deletion
    * vectors while their data file never moved (the `dvGone`
    * resurrection path in [[graft.sources.ManifestTable]]'s `changesAt`;
    * a file-diff-only CDF would silently miss them). Script: load even
    * events (v0) → GDPR-erase users 0–3 (v1, per-file CoW-or-DV) →
    * append the %4==1 wave (v2) → RESTORE to v0 (v3, metadata-only:
    * zero data copied) → append the %4==3 wave (v4). Declared result:
    * the restore commit's changelog census (inserts = exactly the
    * erased users' rows, deletes = exactly the v2 wave) plus the final
    * per-user-group census. */
  /** METADATA-ONLY AGGREGATE under the oracle — two multi-file appends,
    * then a GDPR-style erasure (per-file CoW or DV from stats), then
    * `ManifestTable.statsAggregate` answers count/min/max for two
    * columns: `n_rows` from sidecar row counts minus distinct live
    * tombstones, min/max from clean files' sidecar ranges with ONLY the
    * DV-poisoned files re-read (the metadata-only discipline is pinned
    * by inputFiles in ManifestTableSuite; this row pins the VALUES). */
  private def qTableStatsAgg(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val root = graft.Scratch.fresh("graft_statsagg", d)
    val t = s"$root/t"
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast(LongType).as("cents"))
    ManifestTable.append(s, t, ev.filter(col("event_id") % 3 === 0).repartition(4))
    ManifestTable.append(s, t, ev.filter(col("event_id") % 3 === 1).repartition(4))
    ManifestTable.deleteWhere(s, t, "user_id", 2L, 3L)
    ManifestTable.statsAggregate(s, t, Seq("user_id", "cents"))
  }

  /** METADATA-ONLY AGGREGATES OVER STRING COLUMNS under the oracle
    * gate — the round-11 typed-stats surface driver-checked end to
    * end: three lexicographically-sliced ingest files, then
    * `statsAggregate` answers count + string MIN/MAX + long MIN/MAX
    * from the `.stats` sidecars alone (REQUIRED in-plan: zero input
    * files before any erasure). A string-keyed DV erasure then poisons
    * exactly one file, and the post-erasure aggregate — what the
    * oracle hashes — re-reads ONLY that file merge-on-read while every
    * clean file still answers from metadata. At 100 TB this is the
    * lakehouse "answer it from the log" fast path holding for the
    * string columns real corpora actually key on. */
  private def qStatsAggString(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val t = graft.Scratch.fresh("graft_statsagg_str", d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    graft.Parallel.run(
      Seq(("", Some("src15")), ("src15", Some("src4")),
        ("src4", None)).map { case (lo, hi) =>
        () => ManifestTable.append(s, t,
          docs.filter(col("source") >= lo &&
            hi.map(col("source") < _).getOrElse(lit(true))).coalesce(1))
      }: _*)
    // clean table: string AND long extremes straight from sidecars —
    // the plan opens ZERO data files
    val pre = ManifestTable.statsAggregate(s, t, Seq("lang", "n_chars"))
    require(pre.inputFiles.isEmpty,
      s"clean string/long stats must answer metadata-only, read " +
        s"${pre.inputFiles.length} files")
    ManifestTable.deleteWhere(s, t, "source", "src7", "src7")
    // the erasure poisons exactly its one DV'd file; clean files still
    // answer from metadata
    val post = ManifestTable.statsAggregate(s, t, Seq("lang", "n_chars"))
    require(post.inputFiles.length <= 2, // the poisoned file + its DV sidecar
      s"only the DV-poisoned file may re-open, got ${post.inputFiles.length}")
    post
  }

  private def qTableRestore(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val root = graft.Scratch.fresh("graft_restore", d)
    val t = s"$root/t"
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast(LongType).as("cents"))
    ManifestTable.append(s, t, ev.filter(col("event_id") % 2 === 0)) // v0
    ManifestTable.deleteWhere(s, t, "user_id", 0L, 3L)               // v1
    ManifestTable.append(s, t, ev.filter(col("event_id") % 4 === 1)) // v2
    val v3 = ManifestTable.restore(t, 0L)                            // v3
    ManifestTable.append(s, t, ev.filter(col("event_id") % 4 === 3)) // v4
    val cdf = ManifestTable.readChanges(s, t, v3 - 1, v3)
      .groupBy(col("_change_type").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast(LongType).as("sum_cents"))
      .select(lit("cdf").as("part"), col("key"), col("n_rows"), col("sum_cents"))
    val fin = ManifestTable.read(s, t)
      .groupBy((col("user_id") % 4).cast(StringType).as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast(LongType).as("sum_cents"))
      .select(lit("final").as("part"), col("key"), col("n_rows"), col("sum_cents"))
    cdf.unionAll(fin).orderBy("part", "key")
  }

  /** COLUMN-MAPPING RENAME lifecycle under the oracle gate: append →
    * RENAME COLUMN (a metadata-only commit — zero files rewritten,
    * executed-required below) → append under the new logical name →
    * DELETE WHERE under the new name (stats pruning and the predicate
    * both resolve through the colmap to the files' unchanged PHYSICAL
    * column) → one change feed spanning every epoch (the rename is not
    * a boundary: field ids, physical names, and types are stable, so
    * the feed emits the whole history in the final logical names) →
    * the final read plus a pre-rename time travel that still reads the
    * OLD logical name. The oracle recomputes every census definitionally
    * from the base events table, so the hash certifies that rename is
    * pure re-labeling: no row, value, or delete moved.
    *
    * Scale (100 TB): rename/drop cost one manifest header each — the
    * lake's files never move, exactly the production column-mapping
    * contract ([[graft.sources.ManifestTable.renameColumn]]). */
  private def qTableRename(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val root = graft.Scratch.fresh("graft_rename", d)
    val t = s"$root/t"
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast(LongType).as("cents"))
    ManifestTable.append(s, t, ev.filter(col("event_id") % 2 === 0))  // v0
    ManifestTable.renameColumn(t, "cents", "amount")                  // v1
    require(ManifestTable.snapshotFiles(t, 1L).toSet ==
      ManifestTable.snapshotFiles(t, 0L).toSet, "rename must not rewrite files")
    ManifestTable.append(s, t, ev.filter(col("event_id") % 4 === 1)
      .withColumnRenamed("cents", "amount"))                          // v2
    val vDel = ManifestTable.deleteWhere(s, t, "amount", 0L, 99L)     // v3
    val cdf = ManifestTable.readChanges(s, t, -1L, vDel)
      .groupBy(col("_change_type").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("amount")).cast(LongType).as("sum_amount"))
      .select(lit("cdf").as("part"), col("key"), col("n_rows"), col("sum_amount"))
    val pre = ManifestTable.read(s, t, Some(0L))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast(LongType).as("sum_amount"))
      .select(lit("v0").as("part"), lit("cents").as("key"),
        col("n_rows"), col("sum_amount"))
    val fin = ManifestTable.read(s, t)
      .groupBy((col("user_id") % 4).cast(StringType).as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("amount")).cast(LongType).as("sum_amount"))
      .select(lit("final").as("part"), col("key"), col("n_rows"), col("sum_amount"))
    cdf.unionAll(pre).unionAll(fin).orderBy("part", "key")
  }

  /** SHALLOW CLONE lifecycle under the oracle gate: seed a source table,
    * [[graft.sources.ManifestTable.cloneTable]] it (executed-required:
    * the clone commit copies ZERO data files — the clone's data/
    * directory does not even exist afterward), then diverge the CLONE
    * (a GDPR-style delete plus a fresh ingest wave) and census BOTH
    * tables. The oracle recomputes both states definitionally, so the
    * hash certifies isolation in both directions: the source is
    * untouched by the clone's divergence, and the clone starts from
    * exactly the cloned snapshot.
    *
    * Scale (100 TB): a shallow clone is ONE manifest write whatever the
    * table size — the dev/test-sandbox and what-if-maintenance idiom of
    * the production lake formats. */
  private def qTableClone(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val root = graft.Scratch.fresh("graft_clone", d)
    val (src, cl) = (s"$root/src", s"$root/clone")
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast(LongType).as("cents"))
    ManifestTable.append(s, src, ev.filter(col("event_id") % 2 === 0))
    ManifestTable.cloneTable(src, cl)
    require(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(cl, "data")),
      "a shallow clone must copy zero data files")
    ManifestTable.deleteWhere(s, cl, "user_id", 0L, 3L)
    ManifestTable.append(s, cl, ev.filter(col("event_id") % 4 === 1))
    def census(t: String, part: String) = ManifestTable.read(s, t)
      .groupBy((col("user_id") % 4).cast(StringType).as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast(LongType).as("sum_cents"))
      .select(lit(part).as("part"), col("key"), col("n_rows"), col("sum_cents"))
    census(src, "src").unionAll(census(cl, "clone")).orderBy("part", "key")
  }

  /** SMALL-FILE COMPACTION lifecycle under the oracle gate: a
    * streaming-ingest-shaped history (one healthy file, a DV erasure on
    * it, then eight tiny commits) is binpacked by
    * [[graft.sources.ManifestTable.compactSmall]] — executed-required:
    * the healthy file carries VERBATIM (same path), the file count
    * shrinks, and the pre-existing deletion vector survives the pack
    * untouched. The census comes off the packed snapshot; the oracle
    * recomputes it definitionally, so the hash proves binpack is a
    * physical-only reorganization.
    *
    * Scale (100 TB): the pack plans from sidecar row counts alone and
    * rewrites only the small-file tail a streaming sink accretes —
    * never the lake. */
  private def qLayoutBinpack(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ManifestTable
    val root = graft.Scratch.fresh("graft_binpack", d)
    val t = s"$root/t"
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast(LongType).as("cents"))
    ManifestTable.append(s, t, ev.filter(col("event_id") % 16 === 0).coalesce(1))
    val vDv = ManifestTable.deleteWhere(s, t, "user_id", 7L, 7L)
    require(ManifestTable.snapshotDvs(t, vDv).nonEmpty,
      "precondition: the single-user erasure takes the DV path")
    graft.Parallel.run((1L to 8L).map { b =>
      () => ManifestTable.append(s, t,
        ev.filter(col("event_id") % 1024 === b).coalesce(1))
    }: _*)
    val before = ManifestTable.snapshotFiles(t, ManifestTable.latestVersion(t).get)
    val bulk = before.maxBy(ManifestTable.statsRowCount)
    val vp = ManifestTable.compactSmall(s, t, minRows = ManifestTable.statsRowCount(bulk))
    val after = ManifestTable.snapshotFiles(t, vp)
    require(after.contains(bulk), "the healthy file must carry verbatim")
    require(after.size < before.size, "the pack must shrink the file count")
    require(ManifestTable.snapshotDvs(t, vp).nonEmpty, "the DV must survive the pack")
    ManifestTable.read(s, t)
      .groupBy(col("user_id").cast(StringType).as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast(LongType).as("sum_cents"))
      .orderBy("key")
  }

  private def qMvJoin(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{ChangeFeed, ManifestTable}
    val root = graft.Scratch.fresh("graft_mvj", d)
    val (ordT, custT, mv) = (s"$root/ord", s"$root/cust", s"$root/mv")
    val (cpO, cpC) = (s"$root/cpo", s"$root/cpc")
    val ord = Tables.orders(s, d).select(
      col("o_orderkey").as("okey"), col("o_custkey").as("ckey"),
      (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"))
    val cust = Tables.customer(s, d).select(
      col("c_custkey").as("ckey"), col("c_mktsegment").as("seg"))
    // the two seed tables are independent — stage and commit them in ONE
    // parallel wave (Spark schedules concurrent actions fine), halving
    // the lifecycle's setup wall-clock, which is commit I/O, not compute
    graft.Parallel.run(
      () => ManifestTable.append(s, ordT, ord.filter(col("okey") % 2 === 0)), // ord v0
      () => ManifestTable.append(s, custT, cust))                             // cust v0
    // drain both feeds' v0 entries UNCONSUMED: batch 0 below seeds the
    // view from the full v0⋈v0 join-aggregate instead
    ChangeFeed.availableNow(s, ordT, cpO)((_, _, _) => ())
    ChangeFeed.availableNow(s, custT, cpC)((_, _, _) => ())
    def signed(ch: DataFrame): DataFrame = ch.withColumn("sgn",
      when(col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L))
    def partial(joined: DataFrame): DataFrame =
      joined.groupBy(col("seg"))
        .agg(sum(col("sgn") * col("cents")).cast(LongType).as("d_cents"),
          sum(col("sgn")).cast(LongType).as("d_rows"))
    val ordV0 = ManifestTable.latestVersion(ordT).get
    val custV0 = ManifestTable.latestVersion(custT).get
    // batch 0 seeds the view from the PINNED v0⋈v0 join-aggregate, so
    // it is independent of the source-side merges (which create v1 on
    // their own tables) — all three commits land as ONE parallel wave
    // (§2.6; the seed read was previously unpinned-latest, which is the
    // same snapshot, but pinning makes the overlap provably exact).
    // Correctness of the delta algebra does not depend on merge order
    // because each drain below joins its delta against the OTHER
    // table's PINNED version (Δord ⋈ cust@v0, then ord@latest ⋈ Δcust):
    // the classic two-table IVM bracketing ord_v1⋈cust_v1 =
    // ord_v0⋈cust_v0 + Δord⋈cust_v0 + ord_v1⋈Δcust, with no
    // double-counted Δord⋈Δcust term. The drains themselves stay
    // sequential — idempotentAppend is a single-writer contract.
    graft.Parallel.run(
      () => ManifestTable.idempotentAppend(s, mv,
        partial(ManifestTable.read(s, ordT, Some(ordV0)).withColumn("sgn", lit(1L))
          .join(ManifestTable.read(s, custT, Some(custV0)), "ckey")), batchId = 0L),
      // orders side: bump cents on the surviving %4==0 rows and
      // MERGE-insert the fresh %4==1 rows → ord v1
      () => ManifestTable.merge(s, ordT,
        ord.filter(col("okey") % 4 === 0 || col("okey") % 4 === 1)
          .select(col("okey"), col("ckey"), (col("cents") + 7L).as("cents")),
        "okey"),
      // customer side: reassign every 5th customer's segment —
      // pure update_preimage/update_postimage pairs → cust v1
      () => ManifestTable.merge(s, custT,
        cust.filter(col("ckey") % 5 === 0)
          .select(col("ckey"), lit("REASSIGNED").as("seg")),
        "ckey"))
    ChangeFeed.availableNow(s, ordT, cpO) { (ch, _, toV) =>
      ManifestTable.idempotentAppend(s, mv,
        partial(signed(ch).select(col("ckey"), col("cents"), col("sgn"))
          .join(ManifestTable.read(s, custT, Some(custV0)), "ckey")),
        batchId = 2 * toV)
      ()
    }
    ChangeFeed.availableNow(s, custT, cpC) { (ch, _, toV) =>
      ManifestTable.idempotentAppend(s, mv,
        partial(ManifestTable.read(s, ordT)
          .join(signed(ch).select(col("ckey"), col("seg"), col("sgn")), "ckey")),
        batchId = 2 * toV + 1)
      ()
    }
    ManifestTable.read(s, mv)
      .groupBy(col("seg"))
      .agg(sum(col("d_cents")).cast(LongType).as("sum_cents"),
        sum(col("d_rows")).cast(LongType).as("n_rows"))
      .filter(col("n_rows") > 0)
      .orderBy("seg")
  }

  private def qMvUpdates(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{ChangeFeed, ManifestTable}
    val root = graft.Scratch.fresh("graft_mvu", d)
    val (ods, mv, cp) = (s"$root/ods", s"$root/mv", s"$root/cp")
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      (coalesce(col("value").cast("decimal(12,2)"), lit(0)) * 100)
        .cast(LongType).as("cents"))
    def drainOnce(): Unit = {
      ChangeFeed.availableNow(s, ods, cp) { (ch, _, toV) =>
        val signed = ch.withColumn("sgn",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        ManifestTable.idempotentAppend(s, mv,
          signed.groupBy((col("user_id") % 8).as("grp"))
            .agg(sum(col("sgn") * col("cents")).cast(LongType).as("d_cents"),
              sum(col("sgn")).cast(LongType).as("d_rows")),
          batchId = toV)
        ()
      }
      ()
    }
    ManifestTable.append(s, ods, ev.filter(col("event_id") % 2 === 0)) // v0
    // MAINTENANCE OVERLAPS INGEST (§2.6, the r11 verdict's MV-drain
    // item): each merge wave runs concurrently with draining the
    // versions already committed — the feed walks immutable committed
    // versions with per-version batch keys, so whether the overlapped
    // drain observes the concurrent merge now or the closing drain
    // picks it up, the committed MV partials are identical.
    // wave 1: bump half the existing rows, insert fresh odd rows (v1)
    graft.Parallel.run(
      () => drainOnce(),
      () => ManifestTable.merge(s, ods,
        ev.filter(col("event_id") % 4 === 0 || col("event_id") % 4 === 1)
          .select(col("event_id"), col("user_id"), (col("cents") + 7L).as("cents")),
        "event_id"))
    // wave 2: bump a quarter again — rows now carry cents + 7 + 11 (v2)
    graft.Parallel.run(
      () => drainOnce(),
      () => ManifestTable.merge(s, ods,
        ev.filter(col("event_id") % 8 === 0 || col("event_id") % 8 === 1)
          .select(col("event_id"), col("user_id"), (col("cents") + 18L).as("cents")),
        "event_id"))
    drainOnce() // close the feed: drain whatever the overlap did not see
    ManifestTable.read(s, mv)
      .groupBy(col("grp"))
      .agg(sum(col("d_cents")).cast(LongType).as("sum_cents"),
        sum(col("d_rows")).cast(LongType).as("n_rows"))
      .filter(col("n_rows") > 0)
      .orderBy("grp")
  }

  /** INCREMENTALLY MAINTAINED MATERIALIZED VIEW, fed by the BASE TABLE'S
    * OWN COMMIT LOG: raw events land in an ODS [[ManifestTable]] batch
    * by batch, and the summary — a ManifestTable of PER-BATCH partial
    * aggregates (cnt / min_value / max_value per (event_type, user_id))
    * — is maintained by draining the ODS CHANGE FEED
    * ([[graft.sources.ChangeFeed]], version-offset checkpoint) into an
    * `idempotentAppend` keyed by the drained range's end version. The
    * hop is exactly-once end to end: a consumer that LOSES its
    * checkpoint (exercised on every call) re-drains the whole log,
    * re-observes the committed batch id, and commits nothing. No
    * compaction is needed for correctness: the roll-up rewrite
    * RE-AGGREGATES the summary anyway, and sum-of-sums / min-of-mins /
    * count-as-sum-of-counts are exactly as correct over several partial
    * rows per group as over one. Registration pins the manifest SNAPSHOT
    * read (MVCC: a query sees a consistent summary version; re-register
    * after maintenance to advance).
    *
    * The declared query is written — and oracle-checked — against the
    * base events table; the optimizer re-points it at the committed
    * partial store. This is the full production MV loop: the base
    * table's log drives maintenance (no external stream, the
    * architecture the layered warehouse genre requires) + transparent
    * rewrite.
    *
    * Scale (100 TB): maintenance cost is one map-combinable partial
    * aggregate per ingest COMMIT (the changelog derives from that
    * commit's own files — never a base-table rescan), the summary grows
    * by ≤ |groups| rows per batch, and the dashboard read is a
    * summary-sized scan. */
  private def qMvIncr(s: SparkSession, d: String): DataFrame = {
    import graft.plans.{MvDef, MvRegistry}
    import graft.sources.{ChangeFeed, ManifestTable}
    val root = graft.Scratch.fresh("graft_mv_incr", d)
    val ods = s"$root/ods"; val t = s"$root/mv"
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    def partials(b: DataFrame) =
      b.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          count(col("value")).as("cntn_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
    MvRegistry.buildGuard(s) {
      def drainOnce(): Unit = {
        ChangeFeed.availableNow(s, ods, s"$root/cp") { (ch, _, to) =>
          ManifestTable.idempotentAppend(s, t,
            partials(ch.filter(col("_change_type") === "insert")), to); ()
        }
        ()
      }
      // maintenance overlaps ingest (§2.6): the feed walks immutable
      // committed versions with per-version batch keys, so whether the
      // overlapped drain observes the concurrent append now or the
      // closing drain picks it up, the committed partials are identical
      ManifestTable.append(s, ods, ev.filter(col("event_id") % 3 === 0))
      for (b <- 1L to 2L)
        graft.Parallel.run(
          () => drainOnce(),
          () => ManifestTable.append(s, ods, ev.filter(col("event_id") % 3 === b)))
      drainOnce() // close the feed
      // at-least-once redelivery: a consumer with a LOST checkpoint
      // re-drains the full log as one range; must be a committed no-op
      ChangeFeed.availableNow(s, ods, s"$root/cp_replay") { (ch, _, to) =>
        require(ManifestTable.idempotentAppend(s, t,
          partials(ch.filter(col("_change_type") === "insert")), to).isEmpty,
          "replayed feed range must not commit")
      }
    }
    MvRegistry.register(s, MvDef(s"events_incr:$d",
      MvRegistry.pathsOf(Tables.events(s, d)),
      Set("event_type", "user_id"),
      ManifestTable.read(s, t).queryExecution.analyzed))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("value")).as("n_vals"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
  }

  /** TRANSPARENT MATERIALIZED-VIEW ROLL-UP (`graft.plans.RewriteSummaryAgg`):
    * the query below is written — and oracle-checked — against the BASE
    * corpus table, but the optimizer rewrites it onto the registered
    * (source, lang) summary, re-aggregating partials (sum-of-sums,
    * min-of-mins, count-as-sum-of-counts) to the coarser (lang) grouping.
    * All-integer, so the roll-up is bit-identical to the direct scan.
    *
    * Scale (100 TB): the dashboard query stops scanning the corpus
    * entirely — the access path shrinks from the 100 TB fact to a
    * |sources|×|langs|-row summary, the single biggest constant-factor
    * lever a warehouse has. MvRewriteSuite pins that the executed plan
    * reads the summary (and NOT the base parquet), that non-covered
    * shapes (filters, countDistinct, unregistered sessions) are left
    * untouched, and that results equal the direct-scan plan. */
  private def qMvRewrite(s: SparkSession, d: String): DataFrame = {
    ensureDocsMv(s, d)
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        avg(col("n_chars")).as("avg_chars"))
      .orderBy("lang")
  }

  /** Gopher-style rule-attribution census (Rae et al. 2021 §A1.1): which
    * curation rule kills how many documents, plus the retained count the
    * pipeline actually ships. Differs from q_text_quality (per-doc
    * scores): this is the CORPUS-level report a curation run publishes —
    * per-rule kill attribution is what tells you a threshold is
    * mis-tuned before you retrain on the survivors.
    *
    * Five fixture-calibrated rules, all integer-exact (fixed-point ×100 /
    * ×1000 ratios, no float crosses the oracle boundary): token-count
    * bounds, mean-word-length band, stopword presence, and top-token
    * repetition share (the word-salad analog of Gopher's top-2-gram
    * fraction). A doc is retained iff every rule passes.
    *
    * Scale (100 TB): all five flags come out of ONE projection over one
    * corpus scan — per-row bounded array work (docs are length-capped),
    * no shuffle until the single map-combinable global aggregate, whose
    * partials are 7 longs per partition. The census rows are then
    * unpivoted driver-side from that one aggregated row via stack().
    * Adding a rule is a new column in the same pass, never a new scan —
    * the Deequ analyzer-batch discipline q_dq_audit uses, applied to
    * corpus curation. */
  /** Per-document Gopher-rule flags — the LIBRARY form of the census:
    * appends `f_short f_long f_wordlen f_stop f_rep` (0/1 longs) and
    * `f_any` (their OR) to `docs`, which must carry a `text` column.
    * Filter with `.filter(col("f_any") === 0)` to keep survivors, or
    * aggregate the flags for the census (q_quality_gopher). One
    * shuffle-free codegen projection; per-row array work is bounded by
    * the document length cap. */
  def gopherFlags(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_tok", size(col("ws")).cast(LongType))
      // sum of word lengths = chars minus the n_tok-1 single-space gaps
      .withColumn("mwl_x100", expr("(length(text) - n_tok + 1) * 100 DIV n_tok"))
      // largest single-token share, ×1000: distinct-then-count is
      // O(|vocab|·|doc|) per row but docs are bounded (<=99 tokens) and
      // it keeps the whole census shuffle-free (no per-doc groupBy pass)
      .withColumn("top_x1000", expr(
        """array_max(transform(array_distinct(ws),
             w -> size(filter(ws, x -> x = w)))) * 1000 DIV n_tok"""))
      .withColumn("f_short", when(col("n_tok") < 20, 1L).otherwise(0L))
      .withColumn("f_long", when(col("n_tok") > 80, 1L).otherwise(0L))
      .withColumn("f_wordlen",
        when(col("mwl_x100") < 400 || col("mwl_x100") > 500, 1L).otherwise(0L))
      .withColumn("f_stop",
        when(!(array_contains(col("ws"), "the") ||
               array_contains(col("ws"), "a")), 1L).otherwise(0L))
      .withColumn("f_rep", when(col("top_x1000") > 150, 1L).otherwise(0L))
      .withColumn("f_any", greatest(
        col("f_short"), col("f_long"), col("f_wordlen"), col("f_stop"), col("f_rep")))
      .drop("ws", "n_tok", "mwl_x100", "top_x1000")

  private def qQualityGopher(s: SparkSession, d: String): DataFrame =
    gopherFlags(Tables.documents(s, d))
      .select(col("f_short"), col("f_long"), col("f_wordlen"),
        col("f_stop"), col("f_rep"), col("f_any"))
      .agg(
        sum(col("f_short")).as("s1"), sum(col("f_long")).as("s2"),
        sum(col("f_wordlen")).as("s3"), sum(col("f_stop")).as("s4"),
        sum(col("f_rep")).as("s5"),
        (count(lit(1)) - sum(col("f_any"))).as("s6"),
        count(lit(1)).as("s7"))
      .select(expr(
        """stack(7,
             'r1_too_short', s1, 'r2_too_long', s2, 'r3_word_len', s3,
             'r4_stopword', s4, 'r5_repetition', s5,
             'retained', s6, 'total', s7) AS (rule, n_docs)"""))
      .orderBy("rule")
}
