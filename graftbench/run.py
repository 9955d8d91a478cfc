#!/usr/bin/env python3
"""Closed-loop benchmark of graft over three kinds of traffic.

  python3 graftbench/run.py --workload lineage_report --seed 1 --seconds 10 --trace 0

Workloads (see graftbench/README.md): lineage_report, curation_dedup,
drop_ingest. Run from the root of a source tree: the program is built from
src/main/scala (graftbench/build.py), the tables come from
tools/gen_testdata.py and the sequencing-run drops from
graftbench/gen_drops.py, both seeded from --seed and cached per
(seed, scale). Every run gets a fresh work directory (registry cache,
java.io.tmpdir, Spark local and warehouse dirs, stores, checkpoints)
that is deleted at exit.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The line before it is the run's full self-description, also
kept under graftbench/results/.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("lineage_report", "curation_dedup", "drop_ingest")
DEADLINE_S = 175          # a run must end within 180 s
KEEP_INPUTS = 12          # cached (seed, scale) input sets kept
SETUPS = 2                # setups per run: setup_s times the first, the rest warm up
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio",
              "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def log(msg):
    sys.stderr.write(f"[graftbench] {msg}\n")
    sys.stderr.flush()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def drops_needed(seconds, trace, setups):
    # one drop per setup plus enough for the windows (twice as long in a
    # traced run) at a drop every two seconds, about four times the rate of
    # a 4-core host
    return setups + int(seconds / 2 * (2 if trace else 1)) + 4


def inputs(workload, seed, scale, seconds, trace, setups):
    """Generate (or reuse) the seeded inputs; returns (tables, drops). A
    drop_ingest run reads the tables only for the traced run's probes."""
    root = os.path.join(HERE, ".inputs")
    entry = os.path.join(root, f"sf{scale}_s{seed}")
    tables = drops = ""
    if workload != "drop_ingest" or trace:
        tables = os.path.join(entry, "tables")
        if not os.path.exists(os.path.join(tables, "_DONE")):
            shutil.rmtree(tables, ignore_errors=True)
            # tools/gen_testdata.py refuses seed 42 at the shared scales; the
            # offset keeps every --seed valid and still one-to-one
            subprocess.run([sys.executable, os.path.join(REPO, "tools", "gen_testdata.py"),
                            "--seed", str(100000 + seed), "--scale", str(scale), "--out", tables],
                           check=True, stdout=subprocess.DEVNULL)
            open(os.path.join(tables, "_DONE"), "w").close()
    if workload == "drop_ingest":
        n = drops_needed(seconds, trace, setups)
        drops = os.path.join(entry, f"seqrun_drops_{n}")
        if not os.path.exists(os.path.join(drops, "_DONE")):
            shutil.rmtree(drops, ignore_errors=True)
            subprocess.run([sys.executable, os.path.join(HERE, "gen_drops.py"), "--seed", str(seed),
                            "--drops", str(n), "--out", drops], check=True)
            open(os.path.join(drops, "_DONE"), "w").close()
    os.utime(entry)
    entries = sorted((os.path.join(root, e) for e in os.listdir(root)), key=os.path.getmtime)
    for old in entries[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return tables, drops


def oracle_check(tables, work):
    """Compare setup 1's first-pass outputs with DuckDB on the same tables,
    normalized as tools/check.py does. Returns the failing query names.
    The oracle queries run in parallel: several are single-threaded in
    DuckDB and take seconds each."""
    from concurrent.futures import ThreadPoolExecutor
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check import TABLES, normalize
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))

    def matches(item):
        name, sql = item
        try:
            con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(tables, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            exp = con.execute(sql).fetchdf()
            out = os.path.join(work, "dump_1", name)
            files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
            got = pd.concat([pd.read_parquet(os.path.join(out, f)) for f in files])
            return (sorted(got.columns) == sorted(exp.columns) and len(got) == len(exp)
                    and normalize(got).equals(normalize(exp)))
        except Exception as e:  # a missing dump or an oracle error is a failure too
            log(f"oracle check {name}: {e}")
            return False

    items = sorted(oracle.items())
    with ThreadPoolExecutor(max_workers=cores()) as pool:
        ok = list(pool.map(matches, items))
    return [name for (name, _), good in zip(items, ok) if not good], len(items)


def commit():
    head = os.path.join(REPO, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(REPO, ".git", ref[5:])
    return open(path).read().strip() if os.path.exists(path) else ref[5:]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="tools/gen_testdata.py scale factor of the tables")
    a = ap.parse_args()
    t_start = time.time()

    for need in (os.path.join(REPO, "src", "main", "scala"),
                 os.path.join(REPO, "tools", "gen_testdata.py"),
                 os.path.join(REPO, "tools", "check.py")):
        if not os.path.exists(need):
            log(f"{os.path.relpath(need, REPO)} is missing: run from the root of a graft source tree")
            return 2

    import build
    classes = build.build()
    t_built = time.time()
    tables, drops = inputs(a.workload, a.seed, a.scale, a.seconds, a.trace, SETUPS)
    t_inputs = time.time()

    work = os.path.join(HERE, ".runs", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ,
               GRAFT_REGISTRY_CACHE=os.path.join(work, "graft_registry"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main", "--workload", a.workload, "--tables", tables,
              "--drops", drops, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores()), "--setups", str(SETUPS), "--work", work, "--out", out])
    jvm = None

    def terminate(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    try:
        jvm = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, start_new_session=True)
        try:
            jvm_log, _ = jvm.communicate(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(jvm.pid, signal.SIGKILL)
            jvm.wait()
            log("the JVM overran the run deadline")
            return 3
        if jvm.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(jvm_log if len(jvm_log) < 8000 else jvm_log[:4000] + "\n...\n" + jvm_log[-4000:])
            log(f"the JVM exited with {jvm.returncode}")
            return 4
        t_jvm = time.time()
        res = json.load(open(out))
        oracle_failed, n_oracle = ([], 0)
        if a.workload != "drop_ingest":
            oracle_failed, n_oracle = oracle_check(tables, work)
        res["run_phases_s"] = {"build": t_built - t_start, "inputs": t_inputs - t_built,
                               "jvm": t_jvm - t_inputs, "oracle": time.time() - t_jvm}
        res["oracle"] = {"checked": n_oracle, "failed": oracle_failed}
        res["failed"] += len(oracle_failed)
        res["seed"] = a.seed
        res["scale"] = a.scale
        res["seconds"] = a.seconds
        res["commit"] = commit()
        res["source_sha256"] = open(os.path.join(os.path.dirname(classes), "classes.sha256")).read()
        res["run_wall_s"] = time.time() - t_start
        results = os.path.join(HERE, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{a.workload}_s{a.seed}_t{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        if os.path.exists(out + ".spans.jsonl"):
            shutil.copy(out + ".spans.jsonl", stem + ".spans.jsonl")
        # a metric with no samples (every op failed) is NaN: print 0 and
        # report the run as incorrect, keeping the line valid JSON
        def finite(v):
            return isinstance(v, (int, float)) and math.isfinite(v)
        metrics = {k: {"value": m["value"] if finite(m["value"]) else 0.0, "unit": m["unit"]}
                   for k, m in res["metrics"].items()}
        all_finite = all(finite(m["value"]) for m in res["metrics"].values())
        print(json.dumps({k: v for k, v in res.items() if k != "metrics"}, sort_keys=True))
        print(json.dumps({"correct": res["failed"] == 0 and all_finite, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0
    finally:
        if jvm is not None and jvm.poll() is None:
            os.killpg(jvm.pid, signal.SIGKILL)
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".runs"))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
