#!/bin/sh
# Pre-commit routine (VERDICT r2 #2): full test suite, then the oracle
# replica in BOTH default and timezone-adversarial modes, so a driver-only
# red row like r1/r2's tumbling_events can't survive two rounds again,
# then the two LOC figures every change reports.
# Usage: sh scripts/precommit.sh [sf_dir]
# SPARK_GRAFT_CPUS (default: nproc) sizes local[N] for every Spark session
# here; SPARK_LOCAL_DIRS (default: /tmp/spark-local) holds shuffle spills.
set -e
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
export SPARK_GRAFT_CPUS SPARK_LOCAL_DIRS
python -m pytest tests/ -x -q
python scripts/check_oracle.py "$SF"
python scripts/check_oracle.py "$SF" --adversarial
python scripts/loc_report.py
