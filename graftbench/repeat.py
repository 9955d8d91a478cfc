#!/usr/bin/env python3
"""Steadiness report: run each workload N times with different seeds and
print, per end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median next to the bound BENCHMARK.json gives it.

  python3 graftbench/repeat.py --runs 10 --seed0 1000
  python3 graftbench/repeat.py --workloads drop_ingest --runs 5

A metric is steady when its spread is under a third of its bound; the
bounds in BENCHMARK.json are chosen from this report. setup_s is reported
but, being one cold JVM per run, is judged by its median alone.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        values = {}
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.time()
            res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(a.seconds),
                                  "--trace", str(a.trace)],
                                 cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
                continue
            last = json.loads(lines[-1])
            print(f"{w} seed {seed}: {time.time() - t0:.0f}s correct={last['correct']} "
                  f"attempted={last['attempted']} failed={last['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(last["metrics"].items())),
                  flush=True)
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        report[w] = values
        print(f"\n{w}: {a.runs} runs")
        print(f"  {'metric':32s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
        for k, vs in sorted(values.items()):
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE" if spread > b else "near")
            print(f"  {k:32s} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
                  f"{'' if b is None else b:>6} {flag}")
        print(flush=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", f"repeat_{int(time.time())}.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
