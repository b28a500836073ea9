#!/usr/bin/env python3
"""Alternate benchmark runs between two checkouts and judge a claimed gain.

    python3 tools/perf_pairs.py <parent-dir> <change-dir> --workload stream_steady \\
        --pairs 10 [--seeds 2,3,4]

Pair i runs `perfbench/run.py --workload W --seed s_i` once in each
checkout, untraced and for the run_seconds of the parent's BENCHMARK.json,
the parent first on even pairs and the change first on odd ones. The seeds
are `--seeds` (comma-separated, as many as pairs) or 1..N. For every
end-to-end metric of that BENCHMARK.json the script prints each pair, each
side's median and quartiles, the share of pairs the change wins (ties
count for neither side) and whether a gain on that metric may be claimed:
at least ten pairs ran, the change wins at least nine tenths of them and
the medians differ by more than the distance between the parent's
quartiles. A run that fails its correctness check or reports failed
operations is printed, and its pair counts as a loss for the change. The
exit code is 0 when every run was correct, else 1.

Each side must be its own checkout with its own `target/`: a `git worktree`,
a fresh `git clone` or a `git archive` export, each built by its own sbt
(the first run builds it). Do not compare against a `cp -a` copy of an
already built checkout: sbt's incremental compiler records absolute paths,
and building such a copy deleted the compiled classes of the other one.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout, workload, seed, seconds):
    """One untraced run; returns (ok, failed, {metric: value}) or (False, None, {})."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(r.stderr[-2000:])
        return False, None, {}
    res = json.loads(lines[-1])
    values = {k: v["value"] for k, v in res["metrics"].items()}
    return res["correct"] and res["failed"] == 0, res["failed"], values


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", help="comma-separated seeds, one per pair (default 1..pairs)")
    args = ap.parse_args()

    spec = json.loads((args.parent / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")] if args.seeds else list(range(1, args.pairs + 1))
    if len(seeds) != args.pairs:
        sys.exit(f"perf_pairs: {len(seeds)} seeds for {args.pairs} pairs")

    sides = {"parent": args.parent, "change": args.change}
    pairs = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {side: run(sides[side], args.workload, seed, seconds) for side in order}
        pairs.append({side: {"ok": ok, "failed": failed, "metrics": values}
                      for side, (ok, failed, values) in got.items()})
        p, c = pairs[-1]["parent"], pairs[-1]["change"]
        shown = "  ".join(f"{k} {p['metrics'].get(k, float('nan')):.1f} -> "
                          f"{c['metrics'].get(k, float('nan')):.1f}" for k in better)
        print(f"pair {i + 1} seed {seed} ({order[0]} first): {shown}  "
              f"failed {p['failed']}/{c['failed']}  ok {p['ok']}/{c['ok']}", flush=True)

    ok = [pr for pr in pairs if pr["parent"]["ok"] and pr["change"]["ok"]]
    for name, way in better.items():
        sign = 1 if way == "lower" else -1
        pv = [pr["parent"]["metrics"][name] for pr in ok]
        cv = [pr["change"]["metrics"][name] for pr in ok]
        wins = sum(1 for a, b in zip(pv, cv) if sign * (a - b) > 0)
        if len(ok) < 2:
            print(f"{name}: fewer than two pairs where both runs are correct")
            continue
        pq, cq = quartiles(pv), quartiles(cv)
        gap, iqr = sign * (pq[1] - cq[1]), pq[2] - pq[0]
        print(f"{name}: parent median {pq[1]:.1f} (quartiles {pq[0]:.1f}-{pq[2]:.1f}, "
              f"IQR {iqr:.1f}); change median {cq[1]:.1f} (quartiles {cq[0]:.1f}-{cq[2]:.1f}); "
              f"change {(cq[1] - pq[1]) / pq[1]:+.1%}; change wins {wins}/{len(pairs)}")
        holds = len(pairs) >= 10 and wins >= 0.9 * len(pairs) and gap > iqr
        print(f"gain on {name}: {'holds' if holds else 'does not hold'} "
              f"(pairs {len(pairs)} vs 10 needed; wins {wins}/{len(pairs)} vs 9/10 needed; "
              f"median gap {gap:.1f} vs parent IQR {iqr:.1f})")
    sys.exit(0 if len(ok) == len(pairs) else 1)


if __name__ == "__main__":
    main()
