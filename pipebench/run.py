#!/usr/bin/env python3
"""Run one workload of the pipeline benchmark and print its result.

    python3 pipebench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Builds the benchmark (the library's main sources plus pipebench/src) with
sbt when the sources changed since the last build, runs one JVM for the
workload in a fresh scratch root under pipebench/target/runs, reads every
output Parquet table back with DuckDB, deletes the scratch root and prints
two lines: a context object (seed, input sizes, session conf, versions),
then the result object {"correct", "attempted", "failed", "metrics"}.
Exits non-zero when a parity or DuckDB check fails or the run breaks.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "pipebench.classpath")
STAMP = os.path.join(TARGET, "pipebench.stamp")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("backfill", "hourly_incremental")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail("no library sources beside the benchmark (src/main/scala)")
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    print("pipebench: building", file=sys.stderr)
    # build offline: without caller-supplied sbt options, resolve only from
    # the local caches through the user's sbt repositories file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    try:
        proc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                              stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def duckdb_check(spec):
    """Read every output Parquet table back and compare with the generator."""
    import duckdb
    errors = []
    root = spec["parquet_root"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        on_disk = sorted(d for d in os.listdir(root)
                         if os.path.isdir(os.path.join(root, d)))
        for t in on_disk:
            if t not in spec["tables"]:
                errors.append(f"duckdb: unexpected table {t}")
        for t, want in sorted(spec["tables"].items()):
            glob = os.path.join(root, t, "**", "*.parquet")
            got = con.execute("SELECT count(*) FROM read_parquet(?, hive_partitioning = true)",
                              [glob]).fetchone()[0]
            if got != want:
                errors.append(f"duckdb: {t} has {got} rows, want {want}")
        for t, want in sorted(spec["root_records"].items()):
            glob = os.path.join(root, t, "**", "*.parquet")
            got = con.execute("SELECT count(DISTINCT recordid) FROM "
                              "read_parquet(?, hive_partitioning = true)",
                              [glob]).fetchone()[0]
            if got != want:
                errors.append(f"duckdb: {t} has {got} recordids, want {want}")
    finally:
        con.close()
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    root = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    try:
        # a fixed-size heap with serial GC keeps the JVM's peak RSS steady
        cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+UseSerialGC", "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={root}/tmp"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "pipebench.PipelineBench",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--root", root]
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=root)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        result_path = os.path.join(root, "result.json")
        if code != 0 or not os.path.exists(result_path):
            fail(f"benchmark JVM exited with code {code}")
        with open(result_path) as f:
            res = json.load(f)
        errors = res["errors"] + duckdb_check(res["duckdb"])
        ctx = res["context"]
        ctx["wall_s"] = round(time.time() - t0, 3)
        ctx["errors"] = errors
        os.makedirs(RESULTS, exist_ok=True)
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        if a.trace == "1":
            shutil.copyfile(os.path.join(root, "spans.jsonl"),
                            os.path.join(RESULTS, f"{stem}.spans.jsonl"))
        out = {"correct": not errors, "attempted": res["attempted"],
               "failed": res["failed"] if not errors else max(res["failed"], 1),
               "metrics": res["metrics"]}
        with open(os.path.join(RESULTS, f"{stem}.json"), "w") as f:
            json.dump({"context": ctx, **out}, f, indent=1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for e in errors:
        print(f"pipebench: {e}", file=sys.stderr)
    print(json.dumps({"context": ctx}))
    print(json.dumps(out))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
