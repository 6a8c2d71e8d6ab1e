#!/usr/bin/env bash
# One-command verify gate: compile -> unit specs -> full oracle drive ->
# bench smoke. Exits non-zero on the first red step, so "ran verify.sh"
# means every gate the external driver applies has already passed locally.
# This exists because round 8 shipped a one-line compile error in a
# snapshot commit: the gate makes that failure mode structurally
# unrepeatable (run it before every snapshot commit; NOTES records runs).
#
# Usage: tools/verify.sh [sf-dir] [out-dir]
#   sf-dir  defaults to /root/testdata/sf0.01 (the driver's t2 gate SF)
#   out-dir defaults to /tmp/verify_gate
# Env: VERIFY_SKIP_TESTS=1 skips the sbt test leg (oracle drive only —
#      for mid-session iteration; the pre-commit run must not set it).
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_gate}"

step() { echo; echo "==== [verify.sh] $* ===="; }

step "1/5 compile"
sbt -batch compile

if [[ "${VERIFY_SKIP_TESTS:-0}" != "1" ]]; then
  step "2/5 unit specs (sbt test)"
  sbt -batch test
else
  step "2/5 unit specs SKIPPED (VERIFY_SKIP_TESTS=1)"
fi

step "3/5 oracle dump (graft.Verify @ $SF_DIR)"
rm -rf "$OUT_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR"

step "4/5 DuckDB oracle compare"
python3 tools/test_oracle_tools.py
python3 tools/check_oracle.py "$SF_DIR" "$OUT_DIR"
(cd tools && python3 check_fads_oracle.py "$SF_DIR" "$OUT_DIR")

step "5/5 bench smoke (sf0.001; asserts the driver-parseable JSON line and every streaming leg)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt -batch "runMain graft.Bench" \
  > /tmp/verify_gate_bench.out 2>&1 || { tail -20 /tmp/verify_gate_bench.out; exit 1; }
python3 - <<'EOF'
import json
with open('bench_out.json') as f:  # Bench writes it into this checkout every run
    d = json.loads(f.readline())
assert d.get('queries'), 'bench JSON has no queries map'
bad = [k for k, v in d['queries'].items()
       if (v[1] if isinstance(v, list) else v) < 0]
assert not bad, f'bench-failed queries: {bad}'
# every streaming leg ran: a failed leg reports 0 rows/s and an empty diag
legs = {'stream_rows_per_sec': 'stream_state_diag',
        'stream_sharded_rows_per_sec': 'stream_sharded_state_diag',
        'stream_rows_per_sec_disk': 'stream_disk_state_diag'}
for rps, diag in legs.items():
    assert d.get(rps, 0) > 0, f'{rps} is {d.get(rps)}: the leg failed'
    missing = {'state_commit_ms', 'rocksdb_fsync_ms', 'state_update_ms'} - set(d.get(diag, {}))
    assert not missing, f'{diag} lacks {sorted(missing)}'
print(f"bench smoke OK: {len(d['queries'])} queries, metric={d.get('value')}, " +
      ", ".join(f"{k}={d[k]}" for k in legs))
EOF

echo
echo "==== [verify.sh] ALL GREEN ===="
