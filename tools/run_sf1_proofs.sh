#!/usr/bin/env bash
# Regenerate the sf1 hash-proof capture at HEAD (round-15 verdict ask
# #7: CORRECTNESS_SF1.md was hand-run prose; this folds
# Soak make-sf1 → Verify → check_oracle into one committed entrypoint so the
# sf1 proofs regenerate at every round close).
#
#   tools/run_sf1_proofs.sh              # reuse /tmp/graft_sf1 if present
#   REBUILD_SF1=1 tools/run_sf1_proofs.sh  # force fixture rebuild
#
# The query list below is the CANONICAL sf1-proven set — every query
# whose integer/decimal-widening/log-space contract exists for
# magnitudes beyond sf0.1, plus the stored-index/clustering family and
# the production retrieval tiers. Additions: append here (and nowhere
# else); the doc regenerates wholesale.
set -euo pipefail
cd "$(dirname "$0")/.."

SF1_DIR=${SF1_DIR:-/tmp/graft_sf1}
OUT_DIR=${OUT_DIR:-/tmp/verify_sf1_all}

QUERIES="q54_tfidf_topk,q74_outliers,q81_pmi_collocations,q90_nb_classifier,\
q92_bm25_topk,q101_group_ols,q115_volume_anomaly,q118_dim_health,\
q124_kmeans_assign,q126_gram_matrix,q130_hier_assign,q131_hier_semdedup,\
q132_cluster_drift,q133_embed_funnel,q134_capped_semdedup,\
q135_pct_capped_semdedup,q136_multiprobe_assign,q137_probe_recall,\
q138_boundary_pairs,q139_semantic_groups,q140_semantic_survivors,\
q141_hier_drift,q142_delta_admission,q143_model_staleness,\
q144_admission_funnel,q145_sq8_topk,q146_hier_staleness,\
q147_hier_admission,q148_sq8_recall,q149_ivf_sq8,q150_kmv_overlap_sketch,\
q152_hybrid_rrf_pruned,q153_recall_audit_sampled,q154_agreement_sampled,\
q155_exact_pruned_topk,q156_exact_pruned_2level,q157_exact_pruned_trained,\
q158_hybrid_exact_pruned,q159_hub_audit_sampled,q160_hybrid_exact_trained,\
q161_bpe_merges,q162_bpe_token_counts,q163_filtered_topk_trained,\
q164_shard_manifest,q165_filtered_hybrid,q166_tokenizer_drift,q167_retracted_manifest,q168_sequence_manifest"

if [ ! -f "$SF1_DIR/lineitem.parquet/_SUCCESS" ] || [ "${REBUILD_SF1:-0}" = 1 ]; then
  echo "== building sf1 fixture at $SF1_DIR"
  sbt -batch "runMain graft.Soak make-sf1 $SF1_DIR 10"
fi

echo "== dumping Spark results for the sf1-proven set"
sbt -batch "runMain graft.Verify $SF1_DIR $OUT_DIR $QUERIES"

echo "== DuckDB cross-check"
RESULT=$(python3 tools/check_oracle.py "$SF1_DIR" "$OUT_DIR")
echo "$RESULT"

HEAD_SHA=$(git rev-parse --short HEAD)
STAMP=$(date -u +%Y-%m-%d)

cat > CORRECTNESS_SF1.md <<EOF
# CORRECTNESS at sf1 — the scale-sensitive subset (generated)

Regenerated by \`tools/run_sf1_proofs.sh\` — do not hand-edit; append
new queries to the script's canonical list instead.

Why this capture exists (round-10 verdict ask #4, grown since):
several queries widen intermediates to DECIMAL(38,0)
(q54/q74/q101/q115/q118) or route through log-space (q81/q90/q92)
specifically for magnitudes BEYOND sf0.1; the stored-index and
clustering families (q124-q150) carry blocking/capping contracts whose
failure mode is scale-dependent; and the production retrieval tiers
(q145/q148/q149/q152) exist precisely because their exact twins go
quadratic at 10×. This capture proves each by MEASUREMENT at 10×
sf0.1 magnitudes (6.0M lineitem, 1.5M orders, 1.0M events, 50k
documents' token mass, 20k vectors).

Deliberately absent: q93/q151 (the UNpruned hybrids) — their sparse
leg materializes ~5.5e8 posting rows at sf1 by design (they are the
exactness baselines); q152 is the form a deployment runs at this
scale and carries the hash gate here.

## How it was produced (reproducible)

\`\`\`bash
tools/run_sf1_proofs.sh          # Soak make-sf1 (if absent) -> Verify -> check_oracle
\`\`\`

\`Soak make-sf1\` replicates the fact tables 10× with offset primary keys
and unchanged foreign keys (dimensions copied at 1×), reading/writing
raw parquet so both engines face identical physical types. The
comparison is the driver's own contract (columns sorted by name, rows
by value, cell-exact — \`tools/check_oracle.py\`), self-consistent
over the same files.

## Result — $STAMP, HEAD at capture $HEAD_SHA

\`\`\`
$RESULT
\`\`\`
EOF

echo "== CORRECTNESS_SF1.md regenerated at $HEAD_SHA"
