#!/bin/bash
# Round close-out validation chain: Verify + DuckDB differential at three
# SFs, a weather-gated Bench at sf0.1, then the test suite.
# Usage: nohup tools/chain.sh <round> &   (logs in /tmp/r<round>_*.log,
# done marker /tmp/r<round>_chain_done)
set -u
R="${1:?usage: tools/chain.sh <round>}"
cd "$(dirname "$0")/.."
REPO="$PWD"
rm -rf /tmp/v${R}_001 /tmp/v${R}_01 /tmp/v${R}_1 /tmp/r${R}_chain_done /tmp/r${R}_bench_attempt1.json
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/v${R}_01" > /tmp/r${R}_verify01.log 2>&1
python3 tools/diffcheck.py /root/testdata/sf0.01 /tmp/v${R}_01 > /tmp/r${R}_diff01.log 2>&1
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/v${R}_001" > /tmp/r${R}_verify001.log 2>&1
python3 tools/diffcheck.py /root/testdata/sf0.001 /tmp/v${R}_001 > /tmp/r${R}_diff001.log 2>&1
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/v${R}_1" > /tmp/r${R}_verify1.log 2>&1
# Weather-gated bench (BASELINE.md "Weather normalization"): if the run's
# own anchor_drift says the box was unstable (>25% in either direction),
# re-run ONCE and keep the calmer run's artifact.
BENCH_START_FILE=/tmp/r${R}_bench_start
run_bench() {
  touch "$BENCH_START_FILE"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_OUT="$REPO/BENCH_LAST.json" \
    sbt -batch "runMain graft.Bench" > "$1" 2>&1
}
drift_bad() {  # exit 0 when drift is OUTSIDE [1/1.25, 1.25] — FAIL CLOSED:
  # a missing/corrupt/stale artifact (bench crashed) is treated as bad
  # weather, not as calm (ADVICE r14: json.load raising made the chain
  # proceed with a stale artifact the spill gate then validated as fresh)
  python3 - "$BENCH_START_FILE" "$REPO/BENCH_LAST.json" <<'EOF'
import json, math, os, sys
try:
    art = sys.argv[2]
    if os.path.getmtime(art) < os.path.getmtime(sys.argv[1]):
        sys.exit(0)  # artifact predates this bench invocation — stale
    d = json.load(open(art)).get('anchor_drift', 1.0)
    sys.exit(0 if abs(math.log(d)) > math.log(1.25) else 1)
except Exception:
    sys.exit(0)  # unreadable artifact = treat as bad, never as calm
EOF
}
run_bench /tmp/r${R}_bench.log
if drift_bad; then
  echo "anchor_drift out of band; re-running bench once" >> /tmp/r${R}_bench.log
  # snapshot attempt 1 ONLY if its artifact postdates this chain's first
  # bench start (ADVICE r17: a crashed first run leaves a STALE artifact
  # from an earlier round — often with a small drift — which the calmer
  # pick below would then restore over the fresh re-run)
  if [ "$REPO/BENCH_LAST.json" -nt "$BENCH_START_FILE" ]; then
    cp "$REPO/BENCH_LAST.json" /tmp/r${R}_bench_attempt1.json 2>/dev/null
  else
    rm -f /tmp/r${R}_bench_attempt1.json  # stale/missing = drift inf below
  fi
  run_bench /tmp/r${R}_bench2.log
  if drift_bad; then
    echo "WEATHER_UNSTABLE: both bench runs exceeded 25% anchor drift (or artifact unreadable)" > /tmp/r${R}_weather_flag
  fi
  # keep the CALMER run's artifact (review r17: the re-run used to win
  # unconditionally, so a 60%-drift retry could replace a 30%-drift
  # first attempt)
  python3 - "$REPO/BENCH_LAST.json" "/tmp/r${R}_bench_attempt1.json" <<'EOF'
import json, math, shutil, sys
def drift(p):
    try:
        return abs(math.log(json.load(open(p)).get('anchor_drift', 1.0)))
    except Exception:
        return float('inf')
cur, prev = sys.argv[1], sys.argv[2]
if drift(prev) < drift(cur):
    shutil.copy(prev, cur)
    print('restored calmer first attempt')
EOF
fi
sbt -batch test > /tmp/r${R}_test.log 2>&1
python3 tools/diffcheck.py /root/testdata/sf0.1 /tmp/v${R}_1 > /tmp/r${R}_diff1.log 2>&1
echo ALL_DONE > /tmp/r${R}_chain_done
