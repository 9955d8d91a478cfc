#!/usr/bin/env python3
"""Self-test of the benchmark: a short, small-scale run of every workload,
untraced and traced, asserting that

  - the run exits 0 and its last stdout line has exactly the keys
    correct, attempted, failed and metrics;
  - no op failed and the run is correct;
  - every metric BENCHMARK.json names (end-to-end untraced, per-layer
    traced) is printed with its unit, as a finite number.

  python3 graftbench/smoke.py                   # all workloads
  python3 graftbench/smoke.py --workloads drop_ingest --traces 0
"""
import argparse
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def check(workload, trace, spec, seconds, scale):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", str(seconds), "--trace", str(trace), "--scale", str(scale)]
    res = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    problems = []
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        return [f"exit {res.returncode}: {res.stderr[-1500:]}"]
    last = json.loads(lines[-1])
    if sorted(last) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"last line keys {sorted(last)}")
    if not last.get("correct") or last.get("failed") != 0 or last.get("attempted", 0) < 1:
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        problems.append(f"correct={last.get('correct')} failed={last.get('failed')} "
                        f"attempted={last.get('attempted')} {detail.get('failures')} "
                        f"oracle={detail.get('oracle')}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = last.get("metrics", {})
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            problems.append(f"metric {name} missing")
        elif m.get("unit") != unit:
            problems.append(f"metric {name} unit {m.get('unit')} != {unit}")
        elif not isinstance(m.get("value"), (int, float)) or not math.isfinite(m["value"]):
            problems.append(f"metric {name} value {m.get('value')}")
    extra = sorted(set(got) - set(want))
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {extra}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--traces", default="0,1")
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--scale", type=float, default=0.001)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    failed = 0
    for w in a.workloads.split(","):
        for t in (int(x) for x in a.traces.split(",")):
            problems = check(w, t, spec, a.seconds, a.scale)
            print(f"{'PASS' if not problems else 'FAIL'} {w} trace={t}", flush=True)
            for p in problems:
                print(f"  {p}")
            failed += bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
