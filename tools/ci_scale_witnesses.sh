#!/bin/bash
# On-demand CI-style re-execution of the heavy witnesses — the env-gated
# specs that a default `sbt test` reports as canceled by design:
# RouteScaleSpec (74M real simhash edges take the distributed CC branch,
# 10.4M real eval hashes take the contamination inverted-index branch,
# both parity diff=0) and StreamingSoakSpec (the live loop and the
# forward as-of stream on RocksDB state at 1000 keys x 30 minutes). One
# command, a timestamped log under target/, non-zero exit on any failure:
#
#   ./tools/ci_scale_witnesses.sh           # everything
#   ./tools/ci_scale_witnesses.sh routes    # just RouteScaleSpec
#   ./tools/ci_scale_witnesses.sh soaks     # just StreamingSoakSpec
#
# Cores come from nproc and the heap from the same MemTotal formula as
# the Tier-1 test command (half of RAM, clamped to 2-8 GB; a set
# SPARK_DRIVER_MEM overrides it). Launch at idle: the log records uptime.
set -e
cd "$(dirname "$0")/.."
what="${1:-all}"
mkdir -p target
out="target/ci_witnesses_$(date +%Y%m%d_%H%M%S).log"
log() { echo "[ci-witness] $(date +%H:%M:%S) $*" | tee -a "$out"; }

export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_GRAFT_SCALE_SPECS=1

# witness <spec>: run one gated spec, fail unless it passed with no cancel
witness() {
  local part="target/ci_witness_part.log"
  sbt -batch "testOnly $1" 2>&1 | tee "$part" | tee -a "$out" \
    | grep -E "Tests:|info\] +-|edges=|eval_hashes=|ticks in" || true
  grep -q "All tests passed." "$part" && grep -q "canceled 0" "$part" \
    || { log "FAIL $1"; exit 1; }
}

log "start what=$what cores=$SPARK_GRAFT_CPUS heap=$SPARK_DRIVER_MEM"
uptime | tee -a "$out"

if [ "$what" = "all" ] || [ "$what" = "routes" ]; then
  log "RouteScaleSpec (CC star-alternation @74M edges, contamination join @10.4M hashes)"
  witness graft.tools.RouteScaleSpec
fi

if [ "$what" = "all" ] || [ "$what" = "soaks" ]; then
  log "StreamingSoakSpec (live loop + forward as-of on RocksDB, 1000 keys x 30 min)"
  witness graft.streaming.StreamingSoakSpec
fi

log "DONE ok — log $out"
