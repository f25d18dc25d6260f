#!/usr/bin/env bash
# Verification entry points, run from any directory:
#
#   tools/verify.sh tier1            default suite (tests marked slow excluded, see pytest.ini)
#   tools/verify.sh full             every test, slow ones included
#   tools/verify.sh oracle [name..]  registry queries on Spark vs their DuckDB mirrors (tools/check.py)
#
# SPARK_GRAFT_CPUS defaults to the visible core count and SPARK_LOCAL_DIRS
# to /tmp/spark-local; set either to override.
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

mode="${1:-tier1}"
[ "$#" -gt 0 ] && shift
case "$mode" in
  tier1)
    exec timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider ;;
  full)
    exec python -m pytest tests/ -q -p no:cacheprovider -m "slow or not slow" ;;
  oracle)
    exec python tools/check.py "$@" ;;
  *)
    echo "usage: $0 [tier1|full|oracle [query ...]]" >&2
    exit 2 ;;
esac
