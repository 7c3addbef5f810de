#!/usr/bin/env bash
# Crawl throughput at three parallelism levels (2 repeats) + harness bench.
# graft.GraftSpark pins the tuned batch sizes that keep per-task working sets
# L3-resident (see BENCH/BASELINE.md).
set -euo pipefail
cd "$(dirname "$0")/.."
ARGS="${CRAWL_ARGS:-64 600000 8 9 600000 0}"
mkdir -p /tmp/graft-bench
OUT=/tmp/graft-bench/results.jsonl
: > "$OUT"

for REP in 1 2; do
  for CPUS in 2 8 32; do
    echo "== CrawlBench rep$REP local[$CPUS] (args: $ARGS)"
    SPARK_GRAFT_CPUS=$CPUS SPARK_DRIVER_MEM=48g \
      sbt -batch "runMain graft.CrawlBench $ARGS" 2>&1 \
      | grep -E '^\[info\] \{"bench"' | sed 's/^\[info\] //' | tee -a "$OUT"
  done
done

echo "== harness Bench at sf0.1, local[32]"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | grep -E '^\[info\] \{"metric"' | sed 's/^\[info\] //' | tee -a "$OUT"

python3 - "$OUT" <<'PYEOF'
import json, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
crawl = {}
for r in rows:
    if r.get('bench') == 'crawl':
        c = r['cpus']
        best = crawl.get(c)
        if not best or r['steady_throughput_urls_per_sec'] > best['steady_throughput_urls_per_sec']:
            crawl[c] = r
for c in sorted(crawl):
    r = crawl[c]
    print(f"local[{c}]: wall={r['wall_sec']}s overall={r['throughput_urls_per_sec']:.0f} u/s steady={r['steady_throughput_urls_per_sec']:.0f} u/s")
for a, b in [(2, 8), (8, 32)]:
    if a in crawl and b in crawl:
        eff = crawl[b]['steady_throughput_urls_per_sec'] / crawl[a]['steady_throughput_urls_per_sec'] / (b // a)
        print(f"steady scaling efficiency {a}->{b} cores: {eff:.3f}")
PYEOF
