#!/usr/bin/env python3
"""Count the engine warnings that mark plan and session hazards in a log.

usage: tools/warn_counts.py <log> [<log> ...]

Prints one line per warning class with its count in each log, then the
total over all classes:

  window_no_partition   unbounded single-partition windows
                        ("WindowExec: No Partition Defined")
  large_task_binary     task binaries over 1 MiB
                        ("Broadcasting large task binary")
  function_reregistered a session function registered again
                        ("replaced a previously registered function")
  cache_already_cached  a second persist of one plan
                        ("Asked to cache already cached data")

A line counts once, for the first class whose text it contains.
"""
import sys

CLASSES = [
    ("window_no_partition", "WindowExec: No Partition Defined"),
    ("large_task_binary", "Broadcasting large task binary"),
    ("function_reregistered", "replaced a previously registered function"),
    ("cache_already_cached", "Asked to cache already cached data"),
]


def count(path):
    counts = dict.fromkeys((name for name, _ in CLASSES), 0)
    with open(path, errors="replace") as f:
        for line in f:
            for name, text in CLASSES:
                if text in line:
                    counts[name] += 1
                    break
    return counts


def main(paths):
    if not paths:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    per_log = [count(p) for p in paths]
    width = max(len(name) for name, _ in CLASSES)
    for name, _ in CLASSES:
        print(f"{name:<{width}}  " + "  ".join(f"{c[name]:>7}" for c in per_log))
    print(f"{'total':<{width}}  " +
          "  ".join(f"{sum(c.values()):>7}" for c in per_log))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
