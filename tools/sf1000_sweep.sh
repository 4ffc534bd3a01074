#!/bin/bash
# Fourth-decade (sf1000-shape) SELECTED sweep (VERDICT r14 #1), staged
# per table family under this box's two hard walls, both measured and
# recorded in docs/ROUND15.md §8:
#
#   disk  : 78 GB free vs ~170 GB for a monolithic ×10000 fixture
#           (lineitem alone is ~108 GB full-width) — so families are
#           built, swept, and DELETED in stages, and lineitem is
#           column-pruned to exactly the 6 columns its swept rows read.
#   wall  : the full 146-row registry measured ~190 engine-minutes at
#           sf100; ×10 ≈ 31 h engine (plus a comparable oracle bill) —
#           a full-registry sf1000 sweep does not fit ANY session, so
#           rows are SELECTED for live fourth-decade physics:
#           pin-key overflow (l_orderkey 6e9 > 2⁶³/2654435761 ≈ 3.47e9),
#           2⁵³ aggregate margins (q24/q25), hot-bucket hash regimes
#           (q69 — the row whose oracle regime changed at sf100),
#           core dedup/ANN at 50M docs / 20M vectors, and every decade
#           pin at mod=1000.
#
# Usage: tools/sf1000_sweep.sh [stage]   stage ∈ {docs,emb,rel,lineitem,merge}
#        default: all, in order. Results accumulate in
#        tmp/verify_sf1000/sweep_results.json (+ slow lane), merged to
#        docs/artifacts/r15/sweep_sf1000_results.json by `merge`.
set -uo pipefail
cd "$(dirname "$0")/.."

SF=tmp/sf1000
OUT=tmp/verify_sf1000
SLOW=tmp/verify_sf1000_slow
# SF1000_ROUND: artifact round dir (r15 recorded the original sweep;
# a later round can merge its re-swept rows into its own copy)
ART="docs/artifacts/r${SF1000_ROUND:-15}"
mkdir -p "$OUT" "$SLOW" "$ART"
SLOW_PID_FILE=tmp/sf1000_slow_lane.pid

export SPARK_GRAFT_CPUS=32
export SPARK_GRAFT_VERIFY_PARTS=32
export SPARK_GRAFT_SWEEP_SAMPLE_MOD=1000

STAGE="${1:-all}"
has() { [ "$STAGE" = all ] || [ "$STAGE" = "$1" ]; }

DOC_FAST=q34_dedup_exact,q36_source_stats,q44_minhash,q87_dedup_clusters
DOC_SLOW=q69_simhash_neardup,q140_bpe_encode
EMB_ROWS=q40_knn_cosine,q46_lsh_ann,q99_pq_ann,q104_semdedup,q107_random_project,q143_semdedup_scaled,q144_semdedup_probe
REL_ROWS=q04_topk,q05_window,q60b_sliding_window,q61_sessionize
LI_ROWS=q20_xbeta,q24_sse_loss,q25_gram,q26_proba

if has docs; then
  echo "[sf1000] docs: engine rows ($DOC_FAST,$DOC_SLOW)"
  tools/jrun.sh graft.Verify "$SF" "$OUT" "$DOC_FAST,$DOC_SLOW" \
    > tmp/sf1000_verify_docs.log 2>&1 || exit 1
  # slow lane: q69 (oracle ~2300 s at 10× its sf100 replay) + q140
  # (pin-sized but a ~560 s BPE replay) run in their own outDir so the
  # fast lane's incremental sweep_results.json never races them.
  cp "$OUT/oracle_sql.json" "$SLOW/"
  for q in q69_simhash_neardup q140_bpe_encode; do
    rm -rf "$SLOW/$q"; cp -r "$OUT/$q" "$SLOW/$q"
  done
  nohup python3 tools/oracle_sweep.py "$SLOW" "$SF" 2400 "$DOC_SLOW" \
    > tmp/sf1000_sweep_docs_slow.log 2>&1 &
  echo "$!" > "$SLOW_PID_FILE"
  echo "[sf1000] docs slow-lane sweep started (pid $!)"
  python3 tools/oracle_sweep.py "$OUT" "$SF" 900 "$DOC_FAST" \
    > tmp/sf1000_sweep_docs.log 2>&1
  tail -2 tmp/sf1000_sweep_docs.log
fi

if has emb; then
  echo "[sf1000] embeddings: engine rows ($EMB_ROWS)"
  tools/jrun.sh graft.Verify "$SF" "$OUT" "$EMB_ROWS" \
    > tmp/sf1000_verify_emb.log 2>&1 || exit 1
  python3 tools/oracle_sweep.py "$OUT" "$SF" 900 "$EMB_ROWS" \
    > tmp/sf1000_sweep_emb.log 2>&1
  tail -2 tmp/sf1000_sweep_emb.log
fi

if has rel; then
  echo "[sf1000] orders+events: build (docs fixture deleted first for disk)"
  rm -rf "$SF/documents.parquet"
  SPARK_GRAFT_REPLICATE_NO_SHUFFLE=1 \
    tools/jrun.sh graft.examples.ScaleReplicate /root/testdata/sf0.1 "$SF" \
    10000 orders,events > tmp/sf1000_build_rel.log 2>&1 || exit 1
  df -B1G / | tail -1
  echo "[sf1000] orders+events: engine rows ($REL_ROWS)"
  tools/jrun.sh graft.Verify "$SF" "$OUT" "$REL_ROWS" \
    > tmp/sf1000_verify_rel.log 2>&1 || exit 1
  python3 tools/oracle_sweep.py "$OUT" "$SF" 900 "$REL_ROWS" \
    > tmp/sf1000_sweep_rel.log 2>&1
  tail -2 tmp/sf1000_sweep_rel.log
fi

if has lineitem; then
  echo "[sf1000] lineitem: free disk, then build pruned keyed replicas"
  rm -rf "$SF/orders.parquet" "$SF/events.parquet" "$SF/embeddings.parquet"
  # delete big dumps already swept (keep sweep_results.json + oracle_sql)
  for q in $(echo "$DOC_FAST,$EMB_ROWS,$REL_ROWS" | tr , ' '); do
    rm -rf "$OUT/$q"
  done
  df -B1G / | tail -1
  SPARK_GRAFT_REPLICATE_NO_SHUFFLE=1 \
  SPARK_GRAFT_REPLICATE_LINEITEM_KEYED=1 \
  SPARK_GRAFT_REPLICATE_LINEITEM_COLS=l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_discount,l_returnflag \
    tools/jrun.sh graft.examples.ScaleReplicate /root/testdata/sf0.1 "$SF" \
    10000 lineitem > tmp/sf1000_build_lineitem.log 2>&1 || exit 1
  df -B1G / | tail -1
  echo "[sf1000] lineitem: engine rows ($LI_ROWS)"
  tools/jrun.sh graft.Verify "$SF" "$OUT" "$LI_ROWS" \
    > tmp/sf1000_verify_lineitem.log 2>&1 || exit 1
  python3 tools/oracle_sweep.py "$OUT" "$SF" 900 "$LI_ROWS" \
    > tmp/sf1000_sweep_lineitem.log 2>&1
  tail -2 tmp/sf1000_sweep_lineitem.log
fi

if has merge; then
  # ADVICE r15: in `all` mode the docs stage nohup-backgrounds the slow
  # lane and this merge used to read its sweep_results.json without
  # waiting — silently recording a partial or missing slow lane. Block
  # on the recorded pid (a stale pidfile from a dead process is a
  # no-op: kill -0 fails and we proceed).
  if [ -f "$SLOW_PID_FILE" ]; then
    SLOW_PID="$(cat "$SLOW_PID_FILE")"
    if kill -0 "$SLOW_PID" 2>/dev/null; then
      echo "[sf1000] merge: waiting on slow-lane sweep (pid $SLOW_PID) ..."
      while kill -0 "$SLOW_PID" 2>/dev/null; do sleep 10; done
    fi
    rm -f "$SLOW_PID_FILE"
  fi
  ART="$ART" python3 - <<'PYEOF'
import json, os
art = os.environ["ART"]
# Lane layout (the run that actually happened, recorded honestly):
#   verify_sf1000       fast lanes, SWEEP_SAMPLE_MOD=1000 on pinned rows
#   verify_sf1000_slow  q69(full)/q140 slow lane (2400 s cap)
#   verify_sf1000_q34   q34 one-row raised cap (3000 s)
#   verify_sf1000_q44   q44 one-row raised cap (3000 s)
#   verify_sf1000_m100  q69/q87 at mod=100 — mod=1000's 1/mod² pair
#                       survival vacated their graphs (q87: ok with 0
#                       rows), so the meaningful run is mod=100, keyed
#                       "<name>@mod100"; the mod=1000 rows stay under
#                       their plain names.
out = json.load(open("tmp/verify_sf1000/sweep_results.json"))
for path, suffix in [
        ("tmp/verify_sf1000_slow/sweep_results.json", ""),
        ("tmp/verify_sf1000_q34/sweep_results.json", ""),
        ("tmp/verify_sf1000_q44/sweep_results.json", ""),
        ("tmp/verify_sf1000_m100/sweep_results.json", "@mod100")]:
    if os.path.exists(path):
        for k, v in json.load(open(path)).items():
            key = k + suffix
            # a raised-cap retry supersedes the capped-lane timeout row
            if suffix or out.get(key, {}).get("status") != "ok":
                out[key] = v
with open(f"{art}/sweep_sf1000_results.json", "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
ok = sum(1 for v in out.values() if v.get("status") == "ok")
print(f"[sf1000] merged: {ok} ok of {len(out)} -> {art}/sweep_sf1000_results.json")
for k, v in sorted(out.items()):
    print(f"  {k:28s} {v.get('status'):8s} {v.get('secs')}s rows={v.get('rows')}")
PYEOF
fi
