#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the benchmark
program (perfbench/build.sbt: the code in perfbench/src on top of the
program's own build) with sbt; later runs start the JVM directly. Every line
but the last is for people; the last line is one JSON object:
{"correct", "attempted", "failed", "metrics"}, where "metrics" holds the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). A failed correctness check exits with code 1.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
DATA = BENCH / "data" / "sf0.01"
WORKLOADS = ("stream_steady", "ingest_bulk", "batch_suite")
JVM_TIMEOUT_S = 160
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for d in (ROOT / "src" / "main", BENCH / "src"):
        yield from d.rglob("*.scala")
    yield ROOT / "build.sbt"
    yield BENCH / "build.sbt"


def build():
    """Compile the benchmark unless its classpath file is newer than every source."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: the program's sources (src/main/scala) are not in this checkout")
    cp = BENCH / "target" / "classpath.txt"
    if cp.exists() and cp.stat().st_mtime > max(p.stat().st_mtime for p in sources()):
        return cp.read_text().strip()
    log("building the benchmark with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "compile", "writeClasspath"], cwd=BENCH,
                       stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not cp.exists():
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    return cp.read_text().strip()


def run_jvm(classpath, args, out):
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [str(java), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(out), "--data", str(DATA)]
    with open(out / "jvm.log", "w") as jlog:
        p = subprocess.Popen(cmd, cwd=out, stdout=jlog, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: the run took over {JVM_TIMEOUT_S} s; see {out / 'jvm.log'}")
    if code != 0 or not (out / "result.json").exists():
        tail = (out / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        sys.exit(f"perfbench: the benchmark JVM failed (exit {code})")
    return json.loads((out / "result.json").read_text())


def check_oracle(out):
    """Compare batch_suite results with DuckDB under tools/check_oracle.py's rules."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(out / "results"), str(DATA)],
                       capture_output=True, text=True, timeout=120)
    for line in r.stdout.splitlines():
        if not line.startswith("OK"):
            log(line)
    return r.returncode == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classpath = build()
    out = OUT / args.workload
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    res = run_jvm(classpath, args, out)
    if args.workload == "batch_suite":
        res["checks"]["oracle_match"] = check_oracle(out)
    correct = res["correct"] and all(res["checks"].values())

    env = res["env"]
    log(f"workload {args.workload} seed {env['seed']} nproc {env['nproc']} "
        f"driver memory {env['driver_max_memory_mb']} MB, Spark {env['spark_version']}, "
        f"JVM {env['jvm_version']}")
    for name, m in res["metrics"].items():
        log(f"{name} = {m['value']:.6g} {m['unit']}")
    log(f"failed {res['failed']} of {res['attempted']} attempted: {res['failures']}")
    for name, ok in res["checks"].items():
        log(f"check {name}: {'ok' if ok else 'FAILED'}")

    untraced = OUT / f"{args.workload}.untraced.json"
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {k: v for k, v in res["layers"].items() if k in names}
        for k, v in res["layers"].items():
            log(f"layer {k} = {v['value']:.6g} {v['unit']}")
        if untraced.exists():
            base = json.loads(untraced.read_text())["metrics"]
            overhead = {k: {"traced": v["value"], "untraced": base[k]["value"],
                            "diff": v["value"] - base[k]["value"], "unit": v["unit"]}
                        for k, v in res["metrics"].items() if k in base}
            (out / "trace_overhead.json").write_text(json.dumps(overhead, indent=1))
            for k, o in overhead.items():
                log(f"tracing overhead {k}: {o['diff']:+.6g} {o['unit']}")
        else:
            log("tracing overhead: no untraced run of this workload in this checkout yet")
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {k: v for k, v in res["slots"].items() if k in names}
        untraced.write_text(json.dumps(res, indent=1))
    missing = [n for n in names if n not in metrics or not math.isfinite(metrics[n]["value"])]
    if missing:
        sys.exit(f"perfbench: the run reported no value for {missing}")

    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
