#!/usr/bin/env python3
"""Benchmark runner: builds the library and the harness from source, runs
one workload in a fresh JVM, checks its outputs and prints one JSON result
as the last line of stdout.

    python3 perfbench/run.py --workload plant --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --diagnose <sfDir>     # one-off: count vs noop, every cell

Run it from the root of a checkout. Everything it writes goes under
`.bench_build/` there; each result is also kept in
`.bench_build/perfbench/results/<workload>/` for `perfbench/compare.py`,
with the traced run's spans as `seed<n>-spans.jsonl`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
TOOLS = os.path.join(ROOT, "tools")  # tools/check.py: the oracle's canonicalisation
WORKLOADS = ("plant", "cells")
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return files


def build():
    """Compile the library and the harness with sbt, once per source state."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(OUT, "build.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(OUT, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def java(main_args, work, timeout):
    """Run the harness JVM; returns its stdout. Its stderr goes to ours."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPENS, "-Xmx3g", "-XX:ReservedCodeCacheSize=768m",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
           *main_args]
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {timeout} s")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}")
    return out


def digest(names, cols):
    """Order-free digest of a result, canonicalised as tools/check.py does
    (columns sorted by name, values canonicalised, rows sorted)."""
    sys.path.insert(0, TOOLS)
    from check import frame_rows
    names_sorted, rows = frame_rows(names, cols)
    body = json.dumps([names_sorted, rows])
    return hashlib.sha256(body.encode()).hexdigest(), len(rows)


def parquet_digest(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    return digest(t.column_names, [t.column(i).to_pylist() for i in range(t.num_columns)])


def check_cells(work, res):
    """Compare each cell's full output, written during set-up, with the
    digest of its DuckDB twin (perfbench/expected/cells_sf0.01.json)."""
    with open(os.path.join(HERE, "expected", "cells_sf0.01.json")) as fh:
        expected = json.load(fh)
    for name, want in sorted(expected.items()):
        res["attempted"] += 1
        try:
            got, rows = parquet_digest(os.path.join(work, "cells_out", name))
            ok = got == want["sha256"] and rows == want["rows"]
        except Exception as e:  # a missing or unreadable output is a failure
            print(f"perfbench: cell {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: cell {name} output differs from its DuckDB twin",
                  file=sys.stderr)
            res["failed"] += 1
    res["correct"] = res["correct"] and res["failed"] == 0


def run(args):
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = java(["perfbench.Main", "--workload", args.workload,
                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(args.trace), "--work", work, "--data", DATA,
                    "--cores", str(os.cpu_count())], work, RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if not lines:
            fail("harness printed no result")
        res = json.loads(lines[-1])
        if args.workload == "cells":
            check_cells(work, res)
        rdir = os.path.join(OUT, "results", args.workload)
        os.makedirs(rdir, exist_ok=True)
        with open(os.path.join(rdir, f"seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(res, fh)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(rdir, f"seed{args.seed}-spans.jsonl"))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))  # a wrong output reads "correct": false
    return 0


def diagnose(sf_dir, only):
    """One-off: every cell (or those in `only`) once under count() and once
    under a no-op write; the table lands in .bench_build/perfbench."""
    work = os.path.join(OUT, "diagnose")
    os.makedirs(work, exist_ok=True)
    out = java(["perfbench.Diagnose", os.path.abspath(sf_dir),
                os.path.join(OUT, "count_vs_noop.tsv"), str(os.cpu_count()),
                *([only] if only else [])], work, None)
    print(out, end="")
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--diagnose", metavar="SF_DIR")
    ap.add_argument("--cells", help="with --diagnose: comma-separated cells only")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory (catalog, outputs)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a checkout: src/main/scala is missing")
    if not os.path.isdir(DATA):
        fail(f"fixture {DATA} is missing")
    build()
    if args.diagnose:
        return diagnose(args.diagnose, args.cells)
    if not args.workload:
        fail("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
