#!/bin/bash
# End-of-round artifact regeneration (run SEQUENTIALLY from repo root;
# concurrent Spark/pytest processes skew bench medians).
# Usage: tools/close_round.sh r06
#
# Wall-time budgets (round-10 measurements, for anyone wrapping legs
# in `timeout`): the DuckDB baseline runs every oracle 4x (1 warm +
# 3 timed) -> ~4x its ~300 s suite value, ~20+ min; the sf1 bench leg
# is ~25+ min for the same reason.  The DuckDB leg only NEEDS a rerun
# when oracle SQL changed.  Cold durable stores (the /tmp/ex9_stores
# root: layouts, the k-means model, the incremental state tables; see
# catalog.durable_store) make the store-serving queries pay their
# one-time build on the first bench pass — if the box was wiped or
# the testdata rewritten, run bench once to warm the stores and once
# for the record.
set -e
R=${1:?round tag, e.g. r06}
cd "$(dirname "$0")/.."
# Round-11 ADVICE: prune STALE .prev snapshots from prior rounds at
# chain start.  Round-agnostic artifact names (SCALING_sf*.json) would
# otherwise carry a leftover .prev that blocks bench.py's
# one-snapshot-per-leg guard, so an in-round gate rerun could
# overwrite this round's clean pass with no backup.  Stale = the .prev
# matches its base file's git-committed (HEAD) copy — already
# preserved by git, nothing unique.  A .prev that DIFFERS from HEAD is
# this round's own uncommitted clean pass (a mid-chain failure +
# re-run can create one) and must survive the prune.
for prev in ./*.json.prev; do
  [ -e "$prev" ] || continue
  base=$(basename "${prev%.prev}")
  if git show "HEAD:${base}" 2>/dev/null | cmp -s - "$prev"; then
    rm -f "$prev"
  else
    echo "keeping in-round snapshot ${prev} (differs from HEAD)"
  fi
done
echo "=== bench sf0.1 -> BENCH_FULL_${R}.json ==="
SPARK_GRAFT_BENCH_OUT=BENCH_FULL_${R}.json python bench.py > /tmp/bench_${R}.json
echo "=== DuckDB baseline -> DUCKDB_SF01.json ==="
python tools/duckdb_baseline.py /root/testdata/sf0.1 DUCKDB_SF01.json
echo "=== shuffle audit -> SHUFFLE_${R}.json ==="
python tools/shuffle_audit.py /root/testdata/sf0.1 SHUFFLE_${R}.json
echo "=== sf1 shuffle audit -> SHUFFLE_sf1_${R}.json (round-6 ask #5) ==="
if [ ! -f data/sf1/lineitem.parquet ]; then
  # fail loudly: a silent skip would close the round without the
  # required sf1 shuffle artifact (round-7 review finding)
  python tools/make_sf1.py
fi
python tools/shuffle_audit.py data/sf1 SHUFFLE_sf1_${R}.json
echo "=== full-registry preflight -> CORRECTNESS_LOCAL_${R}.json ==="
python tools/preflight.py /root/testdata/sf0.01 999 CORRECTNESS_LOCAL_${R}.json
echo "=== vintage gate (round-6 ask #7) ==="
python tools/preflight.py --check-vintage
echo "=== scaling benches ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_BENCH_OUT=SCALING_sf0_001.json python bench.py > /tmp/scaling_001_${R}.json
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_BENCH_OUT=SCALING_sf0_01.json python bench.py > /tmp/scaling_01_${R}.json
if [ -f data/sf1/lineitem.parquet ] || python tools/make_sf1.py; then
  # bench.py now defaults every leg to a 16g JVM (first measured as an
  # sf1 OOM here, then as a uniform ~9% GC-pressure inflation at
  # sf0.1 once the registry hit 230 queries — see bench.py header);
  # the env var stays overridable.
  SPARK_GRAFT_SF_DIR=data/sf1 SPARK_GRAFT_BENCH_OUT=SCALING_sf1.json python bench.py > /tmp/scaling_1_${R}.json
fi
echo "=== summary + consistency gate ==="
python tools/summarize_artifacts.py ${R}
echo "=== DONE — now update BASELINE.md tables, README counts, PLANS.md shuffle headline ==="
