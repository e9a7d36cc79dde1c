#!/bin/sh
# Full local verification, one command:
#   sh tools/ci.sh          # tests + oracle at sf0.01 + bench
#   sh tools/ci.sh quick    # tests only
set -e
cd "$(dirname "$0")/.."

# Size every Spark session (tests, bench.py and the tools, which take
# bench.py's session) to this machine's cores; unset, bench.py takes the
# cores this process may use. nproc honours OMP_NUM_THREADS, so read the
# core count without it.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

echo "== pytest =="
python -m pytest tests/ -q

if [ "$1" = "quick" ]; then exit 0; fi

echo "== duckdb oracle (sf0.01) =="
python tools/check_oracle.py

echo "== duckdb oracle (sf0.1) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/check_oracle.py

echo "== bench (sf0.1) =="
python bench.py

echo "== scale ratios (sf0.1 x2) =="
python tools/scale_check.py
