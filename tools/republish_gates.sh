#!/usr/bin/env bash
# One-command republish of every cert-stamped gate artifact (r8 verdict #5).
#
# The cert ratchet (importer_spark/cert.py + tests/test_cert_sync.py) makes
# any product-code edit invalidate all published gate certificates; this
# script is the whole recertification cycle — regenerate every /tmp data
# dir (they are WIPED between sessions), run all nine sync-enforced gates
# plus the recall curve, and finish with the cert-sync test. Run it AFTER
# the session's product edits are final and BEFORE committing artifacts:
#
#     bash tools/republish_gates.sh            # two 16-CPU lanes (default)
#     SPARK_GRAFT_GATE_CPUS=32 SPARK_GRAFT_GATE_LANES=1 bash tools/republish_gates.sh
#
# Lanes: the quick axes (sf0.01-scale LOCAL/FUZZ/UNICODE/FLOATSPECIAL +
# recall curve) and the heavy sf1 axes (LOCAL sf1, SKEW, SIMILARITY) are
# independent — with LANES=2 (default) they run concurrently on a CPU
# split, each with its own DuckDB spill dir (SPARK_GRAFT_DUCK_TMP), which
# is the measured-fastest layout on the 32-core box. LANES=1 runs
# everything sequentially at full width (debugging, small machines).
#
# Artifacts written (repo root): LOCAL_GATE_sf0.01.json LOCAL_GATE_sf1.json
# FUZZ_GATE.json FUZZ_GATE_sf0.01.json UNICODE_GATE.json
# UNICODE_GATE_sf0.01.json FLOATSPECIAL_SMOKE.json SKEW_GATE.json
# SIMILARITY_GATE_sf1.json RECALL_CURVE.json
set -euo pipefail
cd "$(dirname "$0")/.."

LANES="${SPARK_GRAFT_GATE_LANES:-2}"
if [ "$LANES" = "2" ]; then
  CPUS="${SPARK_GRAFT_GATE_CPUS:-16}"
else
  CPUS="${SPARK_GRAFT_GATE_CPUS:-32}"
fi
LOGDIR="${SPARK_GRAFT_GATE_LOGS:-/tmp/gate_logs}"
mkdir -p "$LOGDIR"

stamp() { date +%H:%M:%S; }
say() { echo "[$(stamp)] $*"; }

# ---- phase 1: regenerate the /tmp data dirs ---------------------------------
say "datagen: /tmp/sf1 (10x scale)"
python tools/make_scaled_data.py 10 /tmp/sf1 > "$LOGDIR/make_sf1.log" 2>&1
say "datagen: /tmp/skew1 (skew-poisoned sf1)"
python tools/make_skewed_data.py /tmp/sf1 /tmp/skew1 > "$LOGDIR/make_skew1.log" 2>&1
say "datagen: NULL-fuzz, float-special, zipf dirs"
python tools/make_fuzzed_data.py /root/testdata/sf0.001 /tmp/fuzz > "$LOGDIR/make_fuzz.log" 2>&1
python tools/make_fuzzed_data.py /root/testdata/sf0.01 /tmp/fuzz0.01 > "$LOGDIR/make_fuzz001.log" 2>&1
python tools/make_float_special_data.py /root/testdata/sf0.01 /tmp/fspec > "$LOGDIR/make_fspec.log" 2>&1
python tools/make_zipf_dup_data.py /tmp/zipfdup > "$LOGDIR/make_zipf.log" 2>&1
# (unicode dirs are regenerated inside run_unicode_gates.sh)

# ---- phase 1.5: fail-fast seams (seconds, vs an abort mid-cycle) ------------
say "pre-flight: PIT oracle-form cross-check (clean + NULL axes)"
python -m pytest tests/test_pit_oracle_crosscheck.py -q > "$LOGDIR/preflight_pit.log" 2>&1

# ---- phase 2: the gates, in two independent lanes ---------------------------
quick_lane() {
  export SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_DUCK_TMP=/tmp/duckdb_gate_spill_q
  say "quick: LOCAL sf0.01"
  python tools/run_local_gate.py /root/testdata/sf0.01 LOCAL_GATE_sf0.01.json \
    > "$LOGDIR/local_sf0.01.log" 2>&1
  say "quick: FUZZ sf0.001 + sf0.01"
  python tools/run_local_gate.py /tmp/fuzz FUZZ_GATE.json > "$LOGDIR/fuzz.log" 2>&1
  python tools/run_local_gate.py /tmp/fuzz0.01 FUZZ_GATE_sf0.01.json \
    > "$LOGDIR/fuzz0.01.log" 2>&1
  say "quick: UNICODE x2 (signatured boundaries)"
  bash tools/run_unicode_gates.sh "$CPUS" > "$LOGDIR/unicode.log" 2>&1
  say "quick: FLOATSPECIAL smoke"
  python tools/run_smoke_gate.py /tmp/fspec FLOATSPECIAL_SMOKE.json \
    > "$LOGDIR/floatspecial.log" 2>&1
  say "quick: recall curve on /tmp/zipfdup"
  python tools/recall_curve.py /tmp/zipfdup RECALL_CURVE.json \
    > "$LOGDIR/recall.log" 2>&1
  say "quick lane done"
}

heavy_lane() {
  export SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_DUCK_TMP=/tmp/duckdb_gate_spill_h
  say "heavy: LOCAL sf1"
  python tools/run_local_gate.py /tmp/sf1 LOCAL_GATE_sf1.json \
    > "$LOGDIR/local_sf1.log" 2>&1
  say "heavy: SKEW sf1 (oracle budget 900s; as-of PIT oracle form)"
  # --pit-oracle asof: the definitional interval-join oracle is
  # quadratic on the hot part key (r8: 22 GiB DuckDB spill, then death);
  # every other axis keeps the independent interval form.
  SPARK_GRAFT_ORACLE_TIMEOUT=900 \
    python tools/run_local_gate.py /tmp/skew1 SKEW_GATE.json \
    --pit-oracle asof > "$LOGDIR/skew.log" 2>&1
  say "heavy: AQE skew-split evidence merge"
  python tools/measure_skew_join.py /tmp/skew1 SKEW_GATE.json \
    > "$LOGDIR/skew_aqe.log" 2>&1
  say "heavy: attribution task-balance evidence merge"
  python tools/measure_attribution_tasks.py /tmp/skew1 SKEW_GATE.json \
    > "$LOGDIR/skew_attr_tasks.log" 2>&1
  say "heavy: SIMILARITY sf1 closure"
  python tools/verify_scaled_similarity.py /root/testdata/sf0.1 /tmp/sf1 \
    SIMILARITY_GATE_sf1.json > "$LOGDIR/similarity.log" 2>&1
  say "heavy lane done"
}

if [ "$LANES" = "2" ]; then
  quick_lane & QPID=$!
  heavy_lane & HPID=$!
  FAIL=0
  wait "$QPID" || FAIL=1
  wait "$HPID" || FAIL=1
  if [ "$FAIL" != "0" ]; then
    say "a lane FAILED — see $LOGDIR"; exit 1
  fi
else
  quick_lane
  heavy_lane
fi

# ---- phase 3: prove the stamps match the working tree -----------------------
say "cert sync check"
python -m pytest tests/test_cert_sync.py tests/test_bench_regression.py -q
say "republish complete — artifacts stamped at the current product tree"
