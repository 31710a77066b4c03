#!/usr/bin/env bash
# Full local gate, in driver order: compile (the engine with its tests,
# then the benchmark against the engine sources, and its own tests),
# unit/plan/stream tests, the DuckDB oracle compare at the gate sf, then
# both mechanical determinism sweeps (partition count, join strategy) at
# the small sf.
# Usage: scripts/ci.sh [gateSfDir] [sweepSfDir]
set -euo pipefail
cd "$(dirname "$0")/.."
GATE_SF="${1:-/root/testdata/sf0.01}"
SWEEP_SF="${2:-/root/testdata/sf0.001}"

sbt -batch Test/compile
# the benchmark compiles the engine sources with its own harness: an
# engine API change must not break its build unnoticed
(cd perfbench && sbt -batch compile)
# and its own tests (StatsSuite: the pair statistics its verdicts rest on)
(cd perfbench && sbt -batch test)
sbt -batch test

rm -rf /tmp/graft_ci_dump
sbt -batch "runMain graft.Verify $GATE_SF /tmp/graft_ci_dump"
python3 scripts/oracle_check.py "$GATE_SF" /tmp/graft_ci_dump

# sf0.1 oracle sweep for the SUPERLINEAR families (bounded-pair dedup,
# cell-bucketed ANN, pruned retrieval): their candidate-generation designs
# are size-dependent, so the t2-gate sf alone could mask scale-dependent
# hash drift (VERDICT r7 item 5). The ManifestTable-writing queries ride
# along, so every table writer runs under the no-dump guard below.
# Subset dump + --only-present compare.
SUPERLINEAR="q_dedup_exact q_dedup_url q_dedup_near q_dedup_minhash q_dedup_prefix q_dedup_simhash q_dedup_contain q_dedup_span q_dedup_cluster q_dedup_purge q_dedup_incr q_dedup_embed q_dedup_semantic q_prune_proto q_sim_knn q_sim_label q_sim_quant q_sim_recall q_index_cells q_index_inverted q_hybrid_rrf q_text_bm25 q_decontam q_decontam_semantic q_basket_lift q_lsh_recall q_dsir_weights q_sim_pq q_mv_updates q_mv_incr q_warehouse_layers q_scd2_cdf q_table_cdf_merge q_table_zorder q_expectations q_mv_join q_table_restore q_graph_kcore q_attribution_markov q_embed_pca q_text_textrank q_table_stats_agg q_train_perceptron q_sim_ivfpq q_table_rename q_table_clone q_layout_binpack q_gdpr_string q_backfill_manifest q_stats_agg_string q_retention_date q_table_manifest q_manifest_diff q_gdpr_erasure q_gdpr_dv q_table_cdf q_table_evolve"
rm -rf /tmp/graft_ci_sf01
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/graft_ci_sf01 $SUPERLINEAR"
# a query that THREW leaves no result dir and Verify still exits 0 —
# --only-present would silently skip it, masking exactly the
# scale-dependent failure this sweep exists to catch; require every dump
for q in $SUPERLINEAR; do
  [ -d "/tmp/graft_ci_sf01/$q" ] || { echo "sf0.1 sweep: $q produced no dump (threw?)"; exit 1; }
done
python3 scripts/oracle_check.py /root/testdata/sf0.1 /tmp/graft_ci_sf01 --only-present

python3 scripts/oracle_check.py --partition-sweep "$SWEEP_SF"
python3 scripts/oracle_check.py --strategy-sweep "$SWEEP_SF"

echo "CI GREEN"
