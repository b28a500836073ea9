#!/usr/bin/env python3
"""Compare a Bench detail JSON against BENCH_BASELINE.json.

Usage: compare_bench.py <bench_detail.json> [baseline.json]
Prints geomean ratio over shared keys, worst ratios, and the sentinel
noise floor (tpch_q1_pricing / hourly_agg / minhash_lsh_pairs).
Bench reports -1 for a query that failed in every pass; every shared query
that is -1 now but positive in the baseline is listed, and the exit status
is 1 when there is one.
"""
import json
import math
import sys

bench_path = sys.argv[1]
base_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_BASELINE.json"

bench = json.load(open(bench_path))
base = json.load(open(base_path))
qs = bench["queries"] if "queries" in bench else bench
bq = base["queries_sec"] if "queries_sec" in base else base

shared = sorted(set(qs) & set(bq))
ratios = {k: qs[k] / bq[k] for k in shared if bq[k] > 0 and qs[k] > 0}
if not ratios:
    sys.exit(f"no shared keys with positive times ({len(shared)} shared)")
gm = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
print(f"shared keys: {len(shared)}  geomean ratio: {gm:.3f}x")
print(f"total now: {sum(v for v in qs.values() if v > 0):.1f}s over "
      f"{sum(1 for v in qs.values() if v > 0)} passing queries; "
      f"baseline total over shared passing: {sum(bq[k] for k in ratios):.1f}s "
      f"vs now {sum(qs[k] for k in ratios):.1f}s")
over = {k: r for k, r in ratios.items() if r > 1.5}
print(f"queries over 1.5x: {len(over)}")
for k, r in sorted(ratios.items(), key=lambda kv: -kv[1])[:12]:
    print(f"  {r:5.2f}x  {qs[k]:7.3f}s vs {bq[k]:7.3f}s  {k}")
sent = ["tpch_q1_pricing", "hourly_agg", "minhash_lsh_pairs"]
drift = [qs[s] / bq[s] for s in sent if s in ratios]
print("sentinels:", {s: round(ratios[s], 2) for s in sent if s in ratios},
      f"drift {math.exp(sum(math.log(d) for d in drift)/len(drift)):.2f}"
      if drift else "")
new = sorted(set(qs) - set(bq))
print(f"new (not in baseline): {len(new)}")
broken = [k for k in shared if qs[k] < 0 and bq[k] > 0]
print(f"failed now, passing in baseline: {len(broken)}")
for k in broken:
    print(f"  FAILED  {k} (baseline {bq[k]:.3f}s)")
if broken:
    sys.exit(1)
