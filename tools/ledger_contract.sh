#!/usr/bin/env bash
# Behaviour contract of the ledger pipelines (EP1 order approval, EP2
# process movement) in one command.
#
# Usage: tools/ledger_contract.sh <outdir> [sf_dir]
#
# Runs graft.Verify over the registry entries that run the EP1/EP2 plans
# (sf_dir defaults to $HOME/testdata/sf0.01), checks them against the
# DuckDB oracle with tools/check.py, then dumps their formatted explain
# plans with graft.ExplainDump. Outputs:
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

entries=(ep2_process_movement ep4_order_approval_envelope ep5_process_movement_envelope)
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
