#!/usr/bin/env bash
# Verification entry points, run from any directory:
#
#   tools/verify.sh tier1            default suite (tests marked slow excluded, see pytest.ini)
#   tools/verify.sh full             every test, slow ones included
#   tools/verify.sh serving          the serving-layout maintenance subset, slow ones included:
#                                    waves, compaction, pending mode, torn waves, vacuum, the
#                                    interleaving fuzz (CONNAPSE_FUZZ_SEQS sets its sequence
#                                    count), plus every snapshot and streaming test
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
  serving)
    python -m pytest tests/test_pipeline.py tests/test_query_literals.py -q -p no:cacheprovider \
      -m "slow or not slow" \
      -k "serving or incremental or wave or interleaving or torn or pending or fold or compact or centroids or vacuum"
    exec python -m pytest tests/test_snapshots.py tests/test_streaming.py -q -p no:cacheprovider \
      -m "slow or not slow" ;;
  oracle)
    exec python tools/check.py "$@" ;;
  *)
    echo "usage: $0 [tier1|full|serving|oracle [query ...]]" >&2
    exit 2 ;;
esac
