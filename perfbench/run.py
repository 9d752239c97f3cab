#!/usr/bin/env python3
"""Benchmark runner for the ETL / curation engine.

    python3 perfbench/run.py --workload <etl_curation|ingest_serve>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt pulls in the root
build); later runs reuse the build while the sources are unchanged.

Each run generates its inputs from the seed under .perfbench_work/, runs
one JVM (graft.perfbench.Main) that sets the system up, measures the
workload and checks its outputs, runs the DuckDB oracle compare for the
curation steps, and prints a readable summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. The work directory is removed when
the run ends; a traced run keeps its spans as
.perfbench_work/spans-<workload>-<seed>.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_LIMIT_S = 170        # one run, build excluded
BUILD_LIMIT_S = 840      # the first run of a checkout also builds

# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list to its own forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, fs in os.walk(src):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def classpath(deadline):
    """Build if the sources changed since the last build; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the repository root: build.sbt and src/main/scala/graft are missing")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(BENCH, "target", "perfbench-classpath.txt")
    if os.path.isfile(out):
        with open(out) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    print("perfbench: building program and benchmark (sbt)", file=sys.stderr)
    r = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                  cwd=BENCH, timeout=max(1, deadline - time.time()))
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def run_group(cmd, cwd, timeout, stderr=subprocess.PIPE):
    """Run in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=stderr,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"timed out after {timeout:.0f}s: {' '.join(cmd[:3])} ...", code=3)
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def oracle_compare(check_dir):
    """DuckDB oracle over the generated documents vs each step's Spark output.
    Returns {step: None | reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    with open(os.path.join(check_dir, "input_dir.txt")) as fh:
        in_dir = fh.read().strip()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{in_dir}/documents.parquet/*.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    verdict = {}
    for step, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(check_dir, step, "*.parquet"))
        if not files:
            verdict[step] = "no Spark output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
            cols = [d[0] for d in con.description]
            want = con.execute(sql).fetchall()
            wcols = [d[0] for d in con.description]
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[step] = f"oracle error: {e}"
            continue
        if sorted(cols) != sorted(wcols):
            verdict[step] = f"columns {cols} vs oracle {wcols}"
            continue
        # same column order, then row-multiset equality
        idx = [wcols.index(c) for c in cols]
        want = [tuple(r[i] for i in idx) for r in want]
        key = lambda r: tuple((x is None, str(x)) for x in r)
        if sorted(got, key=key) != sorted(want, key=key):
            verdict[step] = f"{len(got)} Spark rows vs {len(want)} oracle rows, contents differ"
        else:
            verdict[step] = None
    return verdict


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = classpath(start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    try:
        cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
                f"-Djava.io.tmpdir={work}/tmp",
                f"-Dderby.system.home={work}/derby",
                f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
                "-Dspark.ui.enabled=false"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--result", result_file])
        r = run_group(cmd, cwd=ROOT, timeout=max(1, deadline - time.time()), stderr=None)
        sys.stdout.write(r.stdout)
        if r.returncode != 0 or not os.path.isfile(result_file):
            die(f"benchmark JVM failed (exit {r.returncode})", code=4)
        with open(result_file) as fh:
            res = json.load(fh)
        if a.trace:
            spans = os.path.join(os.path.dirname(work), f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
            print(f"  spans written to {os.path.relpath(spans, ROOT)}")

        failed = res["failed"]
        if os.path.isdir(os.path.join(work, "check")):
            verdicts = oracle_compare(os.path.join(work, "check"))
            for step, why in verdicts.items():
                print(f"  oracle {step:30s} {'PASS' if why is None else 'FAIL: ' + why}")
                if why is not None:
                    print(f"MISMATCH oracle {step}: {why}", file=sys.stderr)
            if any(why is not None for why in verdicts.values()):
                # every operation produced the mismatching output
                failed = min(res["attempted"], failed + res["oracle_ops"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    got = res["metrics"]
    names = [m["name"] for m in declared]
    unknown = sorted(set(got) - set(names))
    if unknown:
        die(f"metrics not declared in BENCHMARK.json: {unknown}", code=5)
    metrics = {}
    for m in declared:
        if m["name"] in got:
            v = got[m["name"]]
            if v["unit"] != m["unit"]:
                die(f"metric {m['name']} has unit {v['unit']}, declared {m['unit']}", code=5)
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload never calls into: measured zero
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            die(f"end-to-end metric {m['name']} missing", code=5)
    for note in res.get("notes", []):
        print(f"  note: {note}")
    out = {"correct": failed == 0, "attempted": int(res["attempted"]),
           "failed": int(failed), "metrics": metrics}
    if failed:
        print(f"perfbench: {failed} of {res['attempted']} operations failed or mismatched",
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
