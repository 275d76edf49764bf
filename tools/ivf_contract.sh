#!/usr/bin/env bash
# Behaviour contract of the IVF index family in one command.
#
# Usage: tools/ivf_contract.sh <outdir> [sf_dir]
#
# Runs graft.Verify over the 16 registry entries that build, append to or
# serve an IVF index (sf_dir defaults to $HOME/testdata/sf0.01), checks
# them against the DuckDB oracle with tools/check.py, then dumps their
# formatted explain plans with graft.ExplainDump. Outputs:
#   <outdir>/verify/    Verify parquet dumps + oracle_sql.json
#   <outdir>/check.txt  tools/check.py report
#   <outdir>/explain/   one <entry>.txt plan per entry
# Compare two runs with tools/determinism.py <a>/verify <b>/verify and a
# diff of the explain dirs. Exits non-zero when the oracle check fails.
set -euo pipefail

if [ $# -lt 1 ]; then
  echo "usage: $0 <outdir> [sf_dir]" >&2
  exit 2
fi
out="$(mkdir -p "$1" && cd "$1" && pwd)"
sf="${2:-$HOME/testdata/sf0.01}"
cd "$(dirname "$0")/.."

entries=(
  s4_ann_ivf s10_ivf_recall_curve s11_pq_adc s15_knn_graph
  s16_ivf_index_persist s18_ivf_index_append s20_drift_retrain
  s22_ivf_index_purge s23_ivf_pq_index s25_ivf_multiprobe_serve
  s26_ivf_sq8_index s27_filtered_ann s28_filtered_ann_curve
  s29_lateral_ann_sql st12_drift_aware_index st14_lifecycle_final_state
)
only="$(IFS=,; echo "${entries[*]}")"

export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

rm -rf "$out/verify" "$out/explain"
SPARK_GRAFT_ONLY="$only" sbt --batch -Dsbt.log.noformat=true \
  "runMain graft.Verify $sf $out/verify"
status=0
python3 tools/check.py "$out/verify" "$sf" | tee "$out/check.txt" || status=$?
SPARK_GRAFT_SF_DIR="$sf" sbt --batch -Dsbt.log.noformat=true \
  "runMain graft.ExplainDump $out/explain ${entries[*]}"
exit "$status"
