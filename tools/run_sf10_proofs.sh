#!/usr/bin/env bash
# Second-decade (sf10 = 100x sf0.1) proofs for the production
# retrieval twins (r16 verdict ask #5). Two gate families:
#
#  - DuckDB hash gates where the oracle stays feasible at sf10: the
#    SAMPLED audit twins (q153/q154/q159 — their oracles are
#    |Q|-bounded: 32-query exact legs) and the df-pruned hybrid
#    (q152 — posting join capped at frac*N per term).
#  - Spark =-to-parent gates where the oracle itself is the
#    bottleneck (the verdict's stated rule): q155/q156/q157/q158
#    against ONE distributed brute-force parent pass (Soak proof-sf10) —
#    the same exactness the DuckDB hash gate proves at sf0.01/sf1.
#
# q149 gets a timing row only here (approximate tier — no exactness
# property to gate; its own hash gate runs at sf0.01 and sf1).
#
#   tools/run_sf10_proofs.sh               # reuse /tmp/graft_sf10 if present
#   REBUILD_SF10=1 tools/run_sf10_proofs.sh  # force fixture rebuild
set -euo pipefail
cd "$(dirname "$0")/.."

SF10_DIR=${SF10_DIR:-/tmp/graft_sf10}
OUT_DIR=${OUT_DIR:-/tmp/verify_sf10}

# q152/q153 are NOT here: their oracles embed the IVF tier SQL, whose
# assignment leg is n x ncells x 64-dim list arithmetic in DuckDB
# (8e10 ops at sf10 — the oracle itself is the bottleneck, the r16
# verdict's stated proviso). Their hash gates live at sf0.01 + sf1;
# here they carry second-decade TIMING rows from Soak proof-sf10.
DUCK_QUERIES="q154_agreement_sampled,q159_hub_audit_sampled"

if [ ! -f "$SF10_DIR/embeddings.parquet/_SUCCESS" ] || [ "${REBUILD_SF10:-0}" = 1 ]; then
  echo "== building sf10 fixture at $SF10_DIR"
  sbt -batch "runMain graft.Soak make-sf10 $SF10_DIR 100"
fi

echo "== Spark exactness gates + timings (Soak proof-sf10)"
# r17 advice: capture to a file and check sbt's own exit status BEFORE
# grep-filtering — `sbt | grep || true` swallowed a failed exactness
# require and the regenerated report silently omitted the failed rows.
PROOF_LOG=$(mktemp)
sbt -batch "runMain graft.Soak proof-sf10 $SF10_DIR all" > "$PROOF_LOG" 2>&1 || {
  echo "Soak proof-sf10 FAILED (exit $?) — full log follows, report NOT regenerated" >&2
  cat "$PROOF_LOG" >&2
  exit 1
}
PROOF=$(grep -E "^(q1|sf10)" "$PROOF_LOG" || true)
rm -f "$PROOF_LOG"
echo "$PROOF"

echo "== dumping Spark results for the DuckDB-feasible sf10 set"
sbt -batch "runMain graft.Verify $SF10_DIR $OUT_DIR $DUCK_QUERIES"

echo "== DuckDB cross-check"
RESULT=$(python3 tools/check_oracle.py "$SF10_DIR" "$OUT_DIR")
echo "$RESULT"

HEAD_SHA=$(git rev-parse --short HEAD)
STAMP=$(date -u +%Y-%m-%d)

cat > CORRECTNESS_SF10.md <<EOF
# CORRECTNESS at sf10 — the second decade (generated)

Regenerated by \`tools/run_sf10_proofs.sh\` — do not hand-edit.

The production twins' growth classes are proven at one decade
(sf0.1 → sf1, CORRECTNESS_SF1.md); this capture adds the second:
100× the sf0.1 \`documents\`/\`embeddings\` tables (500k docs, 200k
vectors — Soak make-sf10, the Soak make-sf1 offset rule). Gates follow the r16
verdict's rule: DuckDB hash gates where the oracle stays feasible
(the |Q|-bounded sampled twins + the df-capped hybrid), Spark
≡-to-parent gates where the brute-force oracle is itself the
bottleneck (the exact-pruned family vs ONE distributed brute pass —
any wrongly pruned cell/group flips a row, same property the hash
gate pins at sf0.01/sf1). q149 is timing-only (approximate tier; its
hash gates live at sf0.01/sf1). The hybrid gate is the FULL q160
listed form (in-query train -> store -> serve -> df-pruned sparse ->
rrfFuse) run through the parameterized verb under the fixture's
first-class 32-row \`queries\` table (r18), gated == the brute-dense
fusion.

## Result — $STAMP, HEAD at capture $HEAD_SHA

Spark gates + second-decade timings:

\`\`\`
$PROOF
\`\`\`

DuckDB gates:

\`\`\`
$RESULT
\`\`\`
EOF

echo "== CORRECTNESS_SF10.md regenerated at $HEAD_SHA"
