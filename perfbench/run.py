"""Medallion increment benchmark: runs one workload and prints one JSON line.

    python3 perfbench/run.py --workload etl_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program (see
build.py). The last line of standard output is
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1` (see README.md).
Extra options: `--scale F` shrinks every size (self-test), `--sabotage 1`
corrupts one expectation.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--sabotage", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        want = declared(root, a.trace)
        classes = build.build(root)
        jars = build.spark_jars()
    except (OSError, RuntimeError, ValueError, KeyError, subprocess.CalledProcessError) as e:
        print(f"perfbench: cannot build or find the program: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.work_dir(root), f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is touched in full at start, so no timed cycle pays the
    # first-touch page faults of a growing old generation; the metaspace
    # starts large enough that Spark's generated classes trigger no full GC
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
           "-XX:MetaspaceSize=512m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", str(a.scale), "--sabotage", str(a.sabotage),
            "--work", work]
    # a SIGTERM to this script also ends the JVM before it returns
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(5))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its deadline", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 4
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    metrics = res["metrics"]
    shape_ok = (set(metrics) == set(want)
                and all(metrics[n]["unit"] == u for n, u in want.items())
                and all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
                        for m in metrics.values()))
    if not shape_ok:
        print(f"perfbench: metrics differ from BENCHMARK.json: got {sorted(metrics)}",
              file=sys.stderr)
    out = {"correct": bool(shape_ok and res["failed"] == 0 and res["attempted"] > 0),
           "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
