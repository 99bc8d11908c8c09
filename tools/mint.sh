#!/bin/bash
# Mint the bench certificate for one round from a fixed binary.
#
#   tools/mint.sh <tag>        # e.g. tools/mint.sh r19
#
# Protocol:
#   1. freeze: compile once and copy the classes to target/mintbin, so
#      every cycle runs the same binary via plain java;
#   2. pre-build the postings index (q99/q100) and vector index
#      (q71/q78/q94) outside the timed cycles;
#   3. three loadavg-gated 3-run bench cycles a, b, c;
#   4. contended-cycle rule: a cycle whose total exceeds the minimum's by
#      more than 15% is contended; up to two replacement cycles d, e run;
#   5. combine: per-query medians over the three quietest cycles by
#      total (mechanical, no per-query selection) -> bench_local_<tag>.json;
#   6. report queries more than 1.25x the current certificate, then
#      re-mint bench_certificate.json with graft.tools.BenchCertify.
#
# The data set is Bench's (SPARK_GRAFT_SF_DIR, default sf0.1); Spark's
# jars come from $SPARK_HOME/jars. Cores come from nproc and the heap
# from the same MemTotal formula as the Tier-1 test command (half of
# RAM, clamped to 2-8 GB). Cycle files and logs go to target/; only the
# combined bench_local_<tag>.json and bench_certificate.json are written
# at the repo root, where BenchCertificateGateSpec reads them.
#
# Sourcing the script defines the steps without running them, e.g. to
# replay the combine over saved cycle files:
#   source tools/mint.sh; combine r18 <cycle dir> <output json>

BIN=target/mintbin
CYCLE_DIR=target

log() { echo "[mint] $(date +%H:%M:%S) $*"; }

heap() {
  awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
    2>/dev/null </proc/meminfo || echo 2g
}

# JAVA: the plain-java command line for the frozen binary
set_java() {
  local p h
  h="$(heap)"
  JAVA=(java -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC
        "-Xmx$h" "-Xms$h" -cp "$BIN:$SPARK_HOME/jars/*")
  for p in java.base/java.lang java.base/java.lang.invoke \
           java.base/java.lang.reflect java.base/java.io java.base/java.net \
           java.base/java.nio java.base/java.util \
           java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
           java.base/sun.nio.ch java.base/sun.nio.cs \
           java.base/sun.security.action java.base/sun.util.calendar; do
    JAVA+=(--add-opens "$p=ALL-UNNAMED")
  done
}

freeze() {
  sbt -batch compile 2>&1 | tail -2
  rm -rf "$BIN"
  cp -r target/scala-2.13/classes "$BIN"
  log "frozen $(find "$BIN" -name '*.class' | wc -l) classes into $BIN"
}

require_idle() {
  local gate="${SPARK_GRAFT_MINT_MAX_LOAD:-4.0}" load i
  for i in $(seq 1 60); do
    load=$(cut -d' ' -f1 /proc/loadavg)
    if [ "$(python3 -c "print(1 if $load < $gate else 0)")" = "1" ]; then
      log "idle gate: loadavg $load < $gate"
      return 0
    fi
    log "idle gate: loadavg $load >= $gate — waiting ($i/60)"
    sleep 30
  done
  log "idle gate: host never went idle — REFUSING"
  exit 2
}

# run_cycle <tag> <cycle letter>
run_cycle() {
  require_idle
  log "idle 3-run local bench ($2)"
  uptime
  SPARK_GRAFT_BENCH_RUNS=3 \
    SPARK_GRAFT_BENCH_OUT="$CYCLE_DIR/bench_local_$1$2.json" \
    "${JAVA[@]}" graft.Bench 2>"$CYCLE_DIR/mint_$1_$2.err" | tail -2 | head -1
}

# contended <tag> <cycle dir>: how many of cycles a/b/c are contended
contended() {
  python3 - "$1" "$2" <<'EOF'
import json, sys
tag, d = sys.argv[1], sys.argv[2]
tot = {t: json.load(open(f'{d}/bench_local_{tag}{t}.json'))['value'] for t in 'abc'}
lo = min(tot.values())
print(len([t for t in tot if tot[t] > lo * 1.15]))
EOF
}

# combine <tag> <cycle dir> <output json>: per-query medians over the
# three quietest cycles by total
combine() {
  python3 - "$1" "$2" "$3" <<'EOF'
import json, os, sys
tag, d, out_path = sys.argv[1:4]
tags = [t for t in 'abcde' if os.path.exists(f'{d}/bench_local_{tag}{t}.json')]
data = {t: json.load(open(f'{d}/bench_local_{tag}{t}.json')) for t in tags}
totals = {t: round(data[t]['value'], 3) for t in tags}
keep = sorted(tags, key=lambda t: totals[t])[:3]
print(f"[mint] totals: {totals}; keeping {keep}")
qs = [data[t]['queries'] for t in keep]
keys = sorted(qs[0])
med = {k: sorted(q[k] for q in qs)[1] for k in keys}
total = round(sum(med.values()), 3)
out = {"metric": "total", "value": total, "unit": "sec",
       "queries": med,
       "source": f"per-query median of the 3 quietest-by-total loadavg-gated 3-run benches of round {tag} (cycles a..e; >1.15x-min cycles replaced mechanically)",
       "sf": data[keep[0]]['sf']}
open(out_path, 'w').write(json.dumps(out, separators=(',', ':')) + "\n")
print(f"[mint] combined total: {total}s -> {out_path}")
EOF
}

# band_watch <combined json>: queries above 1.25x (and +0.5 s) the
# current certificate — adjudicate these by work counts, not wall time
band_watch() {
  python3 - "$1" <<'EOF'
import json, sys
new = json.load(open(sys.argv[1]))["queries"]
cert = json.load(open('bench_certificate.json'))["queries"]
bad = [(q, cert[q], new[q]) for q in sorted(cert)
       if q in new and new[q] > cert[q] * 1.25 and new[q] - cert[q] > 0.5]
for q, c, n in bad:
    print(f"[mint] BAND {q}: cert {c} -> {n} ({n / c:.2f}x)")
print(f"[mint] band violations vs the current certificate: {len(bad)}")
EOF
}

main() {
  set -euo pipefail
  [ $# -eq 1 ] || { echo "usage: $0 <tag>" >&2; exit 64; }
  local tag="$1" need
  cd "$(dirname "$0")/.."
  export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
  set_java
  log "tag=$tag cores=$SPARK_GRAFT_CPUS heap=$(heap)"

  freeze
  mkdir -p "$CYCLE_DIR"
  require_idle
  log "pre-build the retrieval + vector indexes (outside the cycles)"
  SPARK_GRAFT_BENCH_RUNS=1 \
    SPARK_GRAFT_BENCH_ONLY=q99_bm25_indexed,q100_tfidf_indexed,q71_ivf_ann,q78_ivf_pq,q94_knn_labels \
    SPARK_GRAFT_BENCH_OUT="$CYCLE_DIR/mint_${tag}_prebuild.json" \
    "${JAVA[@]}" graft.Bench 2>"$CYCLE_DIR/mint_${tag}_prebuild.err" | tail -2 | head -1

  for c in a b c; do run_cycle "$tag" "$c"; done
  need=$(contended "$tag" "$CYCLE_DIR")
  log "contended cycles among a/b/c: $need"
  if [ "$need" -ge 1 ]; then run_cycle "$tag" d; fi
  if [ "$need" -ge 2 ]; then run_cycle "$tag" e; fi

  combine "$tag" "$CYCLE_DIR" "bench_local_$tag.json"
  band_watch "bench_local_$tag.json"
  log "mint bench_certificate.json from the combined medians"
  "${JAVA[@]}" graft.tools.BenchCertify "bench_local_$tag.json" bench_certificate.json 2>&1 | tail -1
  log "DONE"
}

if [[ "${BASH_SOURCE[0]}" == "$0" ]]; then main "$@"; fi
