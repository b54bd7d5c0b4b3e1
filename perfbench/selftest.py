"""Self-test of the benchmark, at tiny scale (about two minutes):

    python3 perfbench/selftest.py        # from the repository root

1. Every workload, untraced and traced, prints every metric BENCHMARK.json
   declares for that mode, with its unit, and `ok_ratio` = 1.0.
2. On every workload a sabotaged expectation (`--sabotage 1`) drives
   `ok_ratio` below 1.0 and `correct` to false: the output checks check.
3. The generator's fingerprint for a pinned seed and size is unchanged,
   so the workload cannot drift silently.
"""
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = ["--seed", "7", "--seconds", "1", "--scale", "0.01"]
# rows and combined hash of every batch etl_small generates at the settings above
PINNED_FINGERPRINT = (978, -5290808370658344428)


def run(workload, trace, *extra):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--trace", str(trace), *TINY, *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    fingerprint = None
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, err = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metric names/units differ from BENCHMARK.json")
            if not res["correct"] or res["failed"] != 0:
                failures.append(f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}")
            if trace == 0 and res["metrics"]["ok_ratio"]["value"] != 1.0:
                failures.append(f"{w}: ok_ratio {res['metrics']['ok_ratio']['value']}")
            if w == "etl_small" and trace == 0:
                m = re.search(r"fingerprint workload=\S+ seed=\S+ rows=(\d+) hash=(-?\d+)", err)
                fingerprint = m and (int(m.group(1)), int(m.group(2)))
            print(f"ok: {w} trace={trace} ({len(got)} metrics)")
    for w in [x["name"] for x in spec["workloads"]]:
        res, _ = run(w, 0, "--sabotage", "1")
        ratio = res["metrics"]["ok_ratio"]["value"]
        if not (ratio < 1.0 and not res["correct"]):
            failures.append(f"{w}: sabotaged run reads ok_ratio={ratio} correct={res['correct']}")
        print(f"ok: {w} sabotaged run reads ok_ratio={ratio:.3f}")
    if fingerprint != PINNED_FINGERPRINT:
        failures.append(f"generator fingerprint {fingerprint} != pinned {PINNED_FINGERPRINT}")
    for f in failures:
        print("FAIL:", f)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
