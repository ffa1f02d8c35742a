#!/bin/bash
# Regenerate the deterministic ScaleGen corpora (data/ is gitignored) from an
# sf0.1 testdata directory: sf10 = sf0.1 x 100, sf100 = sf0.1 x 1000.
# Usage (after `sbt compile`): tools/regen_scaled_data.sh <sf0.1 dir>
set -e
src="$(cd "${1:?usage: tools/regen_scaled_data.sh <sf0.1 dir>}" && pwd)"
cd "$(dirname "$0")/.."
export SPARK_DRIVER_MEM=24g
tools/run_graft.sh graft.ScaleGen "$src" data/sf10 100
echo "=== sf10 done at $(date -u) ==="
tools/run_graft.sh graft.ScaleGen "$src" data/sf100 1000
echo "=== sf100 done at $(date -u) ==="
du -sh data/sf10 data/sf100
