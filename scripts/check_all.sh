#!/usr/bin/env bash
# One-shot regression drive: tests + oracle verify + bench.
# Local parallelism defaults to every core (nproc) and Spark's scratch
# goes to one directory, the same settings as the tier-1 pytest gate.
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
echo "== pytest =="
python -m pytest tests/ -q -p no:cacheprovider
echo "== oracle verify (sf0.01) =="
python scripts/verify_local.py /root/testdata/sf0.01
echo "== bench (sf0.1) =="
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} python bench.py
echo "== degenerate-input sweep =="
python scripts/sweep_degenerate.py all
