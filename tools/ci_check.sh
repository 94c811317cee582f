#!/bin/sh
# Round gate: the full local replica of everything the grading driver
# checks, plus the cross-geometry sweeps that catch partitioning-order-
# dependent arithmetic before the driver does. Run before ending a round:
#
#     sh tools/ci_check.sh
#
# 1. pytest suites (tests/ with the Tier-1 geometry: local[nproc] and
#    a local scratch dir, unless the caller already set them; then
#    perfbench/tests)
# 2. oracle sweep at the driver-like local[8]/8-shuffle geometry
# 3. oracle sweep at local[3]/3-shuffle (odd parallelism flushes out
#    anything that accidentally depends on partition count)
# 4. stale-record re-check: the 20 entries whose latest DRIVER record is
#    oldest, re-run at a third geometry (local[5]/5) with names printed —
#    so a silent regression in untouched code can't outlive a round even
#    if the driver's bounded sweep hasn't cycled back to it (VERDICT r8
#    task #2)
# 5. perf_audit smoke: two entries through bench.py's timing path at
#    sf0.001, table to /tmp (PERF.md untouched); exits 1 if one raises
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
python -m pytest tests/ -q
python -m pytest perfbench/tests -q
python tools/oracle_check.py
ORACLE_MASTER='local[3]' ORACLE_SHUFFLE=3 python tools/oracle_check.py
python tools/stale_recheck.py 20
PERF_SF_DIR=/root/testdata/sf0.001 PERF_ONLY=q1_pricing_summary,rollup_average_xff PERF_OUT=/tmp/perf_smoke.md python tools/perf_audit.py
echo "ci_check: all green"
