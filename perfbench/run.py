#!/usr/bin/env python3
"""Benchmark launcher for the backtest pipeline.

    python3 perfbench/run.py --workload etl_backtest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
from source (sbt, offline) the first time and whenever a source file
changes, then runs one workload in a fresh JVM inside a fresh working
directory under `perfbench/out/`, and prints one JSON result line last.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones from a traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(OUT, "build.stamp")
WORKLOADS = ("etl_backtest", "sweep_grid")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


CHILD = None


def stop(signum, _frame):
    """Stop the running child (build or benchmark JVM) and wait for it."""
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion; returns its exit code, or None on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, **kw)
    try:
        return CHILD.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        CHILD.kill()
        CHILD.wait()
        return None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    files = [f for f in tops if os.path.isfile(f)]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project")):
        for d, dirs, names in os.walk(tree):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt"))]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed since the last build."""
    digest = source_hash()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh,
                       stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(LAUNCH):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def heap_gb():
    """Tier-1 heap formula: half of physical memory, clamped to 2..8 GB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(2, min(8, total // (2 * 1024 ** 3)))


def run_jvm(args):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    heap = f"{heap_gb()}g"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_DRIVER_MEM=heap,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), result])
    log = os.path.join(OUT, f"{args.workload}.log")
    with open(log, "w") as fh:
        rc = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=fh,
                       stderr=subprocess.STDOUT)
    if rc is None:
        fail(f"{args.workload} exceeded {RUN_TIMEOUT_S}s; see {log}")
    if rc != 0 or not os.path.isfile(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{args.workload} failed (exit {rc}); see {log}")
    with open(result) as fh:
        doc = json.load(fh)
    return doc, work


QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings")


def _normalized(rel):
    """Columns sorted by name, rows sorted, integer types folded together."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    ints = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER")
    types = [("INT64" if str(rel.types[i]) in ints else str(rel.types[i])) for i in order]
    rows = sorted((tuple(r[i] for i in order) for r in rel.fetchall()),
                  key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], types, rows


def oracle_checks(work):
    """Compares each query result a traced `etl_backtest` run wrote with its
    DuckDB oracle over the same generated tables: same columns, types and
    rows, values exactly equal. Returns {check name: passed}."""
    results = os.path.join(work, "query_results")
    if not os.path.isdir(results):
        return {}
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    try:
        import duckdb
    except ImportError:
        return {f"query_{n}_matches_oracle": False for n in sorted(oracle)}
    con = duckdb.connect()
    for t in QUERY_TABLES:
        path = os.path.join(work, "query_tables", f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    checks = {}
    for name in sorted(oracle):
        try:
            got = _normalized(con.sql(
                f"SELECT * FROM read_parquet('{os.path.join(results, name)}/*.parquet')"))
            want = _normalized(con.sql(oracle[name]))
            checks[f"query_{name}_matches_oracle"] = got == want
        except duckdb.Error as e:
            print(f"oracle check {name}: {e}", file=sys.stderr)
            checks[f"query_{name}_matches_oracle"] = False
    return checks


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala)")
    os.makedirs(OUT, exist_ok=True)
    build()
    t0 = time.time()
    doc, work = run_jvm(args)
    doc["jvm_wall_s"] = time.time() - t0
    oracle = oracle_checks(work)
    if oracle:
        doc["checks"].update(oracle)
        doc["attempted"] += len(oracle)
        doc["failed"] += sum(1 for ok in oracle.values() if not ok)
        doc["correct"] = doc["correct"] and all(oracle.values())

    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(doc, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for k, ok in doc["checks"].items():
        if not ok:
            print(f"check failed: {k}", file=sys.stderr)
    for k, m in doc["metrics"].items():
        print(f"{k:32s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'error_rate':32s} {doc['failed'] / doc['attempted']:>16.6g} "
          f"({doc['failed']} failed of {doc['attempted']} attempted)")
    print(json.dumps({"correct": doc["correct"], "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": doc["metrics"]}))


if __name__ == "__main__":
    main()
