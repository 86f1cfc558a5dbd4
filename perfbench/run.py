#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload integration --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark's JVM side from source (once per
source state), generates the workload's input tables from the seed, runs
the workload in one JVM (perfbench.Main), checks every output, and prints
one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run. The full result (run fingerprint,
per-operation spread, failures) is written to perfbench/out/results/, and a
traced run's spans to a .spans.jsonl file beside it. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import duckdb

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "source.sha1")
RUN_LIMIT_S = 170          # a run must end within 180 s once built
BUILD_LIMIT_S = 850        # the first run in a checkout also builds
XMX = "3g"

# Scale factor and document count of each workload's generated tables
# (sf None: the workload reads no tables). Its operations are listed in
# perfbench.Main; why each was chosen: README.md.
WORKLOADS = {
    "integration": {"sf": 0.01, "docs": 100},
    "llm_latency": {"sf": None},
}

def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def metric_units(kind):
    """name -> unit of the `end_to_end` or `per_layer` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt unless this source state is built."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found: run from the repository root", 2)
    stamp = source_hash()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return stamp


def load_check_rules():
    """norm/values from tools/check.py: the repository's oracle comparison rules."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def verify_outputs(res, data_dir, verify_dir):
    """DuckDB oracle comparison of every query output, read-only, row order enforced."""
    check = load_check_rules()
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name, sql in sorted(res["oracles"].items()):
        try:
            d = os.path.join(verify_dir, name)
            parts = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
            got = check.norm(pd.concat([pd.read_parquet(p) for p in parts]))
            exp = check.norm(con.sql(sql).df())
        except Exception as e:  # a crash is a mismatch, not a skip
            bad.append(f"verify {name}: {type(e).__name__}: {e}")
            continue
        if list(got.columns) != list(exp.columns):
            bad.append(f"verify {name}: columns {list(got.columns)} != oracle {list(exp.columns)}")
        elif check.values(got) != check.values(exp):
            gv, ev = check.values(got), check.values(exp)
            why = ("row order differs" if sorted(gv) == sorted(ev)
                   else f"{len(gv)} rows vs oracle {len(ev)}; first diff "
                        f"{next(((a, b) for a, b in zip(gv, ev) if a != b), None)}")
            bad.append(f"verify {name}: {why}")
    con.close()
    return bad


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    stamp = build()
    started = time.time()
    w = WORKLOADS[a.workload]

    run_dir = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    data_dir, out_dir, tmp_dir = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (data_dir, out_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    proc = None
    try:
        if w["sf"] is not None:
            datagen.generate(data_dir, a.seed, w["sf"], w.get("docs"))
        lines = open(LAUNCH).read().splitlines()
        cp, jvm_opts = lines[0], [x for x in lines[1:] if x]
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        # the heap starts at its full size, so no pass pays for growing it
        cmd = [java, *jvm_opts, f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp_dir}", "-cp", cp,
               "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data_dir,
               "--out", out_dir]
        log = os.path.join(run_dir, "jvm.log")
        budget = RUN_LIMIT_S - (time.time() - started)
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded its time limit; JVM log: {log}")
        result_path = os.path.join(out_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            tail = open(log, errors="replace").read()[-3000:]
            fail(f"JVM exited with {rc}:\n{tail}")
        res = json.load(open(result_path))
        failures = res["failures"] + verify_outputs(res, data_dir, os.path.join(out_dir, "verify"))

        res["fingerprint"].update({"nproc_os": len(os.sched_getaffinity(0)),
                                   "git_commit": git_commit(), "source_sha1": stamp})
        res["failures"] = failures
        res["verified"] = sorted(res["oracles"]) + [o for o in res["operations"] if o not in res["oracles"]]
        del res["oracles"]
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        base = os.path.join(OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(base + ".json", "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
        spans = os.path.join(out_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copyfile(spans, base + ".spans.jsonl")

        reported = res["per_layer"] if a.trace else res["end_to_end"]
        units = metric_units("per_layer" if a.trace else "end_to_end")
        if set(units) != set(reported):
            fail(f"metrics {sorted(set(units) ^ set(reported))} differ from BENCHMARK.json")
        metrics = {k: {"value": reported[k], "unit": u} for k, u in units.items()}
        for f in failures[:20]:
            print(f"FAILED {f}")
        print(f"full result: {os.path.relpath(base + '.json', ROOT)}")
        failed = min(len(failures), res["attempted"])
        print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
