#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload mixed_sf01 --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the harness
together with graft's sources (sbt, offline) and writes the input tables
under perfbench/.work; later runs reuse both while their sources are
unchanged. The last line on stdout is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ["mixed_sf01", "ingest_stream"]
# micro-batch files per stream in ingest_stream
FILES_PER_STREAM = 2
RUN_LIMIT_S = 170
JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            glob.glob(os.path.join(base, "**", "*"), recursive=True))
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("set SPARK_HOME to a Spark installation (one with jars/)")
    return home


def stale(stamp, key):
    return not (os.path.exists(stamp) and open(stamp).read() == key)


def build():
    """Compiles graft's sources and the harness unless nothing changed."""
    key = tree_hash([os.path.join(ROOT, "src", "main"),
                     os.path.join(HERE, "src", "main"),
                     os.path.join(HERE, "build.sbt"),
                     os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(WORK, "build.stamp")
    if not stale(stamp, key) and os.path.isdir(CLASSES):
        return
    log("building graft and the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(key)


def inputs():
    """Writes the input tables (sf0.1) unless up to date."""
    sys.path.insert(0, HERE)
    import datagen
    key = tree_hash([os.path.join(HERE, "datagen.py")])
    stamp = os.path.join(WORK, "data.stamp")
    data = os.path.join(WORK, "data")
    if stale(stamp, key):
        log("writing input tables")
        shutil.rmtree(data, ignore_errors=True)
        datagen.base(os.path.join(data, "base"), 0.1)
        with open(stamp, "w") as f:
            f.write(key)
    return data


def cut(table, n, rng, out):
    """Splits `table` (already in event or ingest order) into `n`
    contiguous files. Cut j lies within a quarter file of j/n of the
    rows, drawn from `rng`, so files vary in size but none is tiny."""
    os.makedirs(out)
    rows = table.num_rows
    points = [int(rows * (j + rng.uniform(-0.25, 0.25)) / n) for j in range(1, n)]
    for i, (a, b) in enumerate(zip([0, *points], [*points, rows])):
        pq.write_table(table.slice(a, b - a), f"{out}/part-{i:03d}.parquet")


def stream_cuts(data, seed, out):
    rng = np.random.default_rng(seed)
    base = os.path.join(data, "base")
    events = pq.read_table(f"{base}/events.parquet").sort_by("ts")
    docs = pq.read_table(f"{base}/documents.parquet").sort_by("doc_id")
    odd = docs.filter(np.asarray(docs["doc_id"]) % 2 == 1).select(["doc_id", "text"])
    for name, table in (("events", events), ("docs", docs), ("odd", odd)):
        cut(table, FILES_PER_STREAM, rng, f"{out}/{name}")


def java_cmd(work, args):
    jars = os.path.join(spark_home(), "jars", "*.jar")
    cp = ":".join([CLASSES] + sorted(glob.glob(jars)))
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep the peak resident set from
    # following G1's adaptive sizing: G1 reuses the low regions for young
    # objects and takes old regions from the top, so the resident set is
    # the young generation plus what is retained, plus native memory
    return ["java", *opens, "-Xms4g", "-Xmx4g", "-Xmn1g",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", *args]


def run_jvm(cmd, limit_s):
    """Runs the harness; returns its stdout lines. Kills it (and exits
    non-zero) if it outlives `limit_s`."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"harness did not finish within {limit_s} s")
    if p.returncode != 0:
        sys.exit(f"harness failed ({p.returncode})")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graft's sources (src/main/scala/graft) are not here; "
                 "run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    build()
    data = inputs()
    work = os.path.join(WORK, f"run-{a.workload}")
    for d in os.listdir(work) if os.path.isdir(work) else []:
        if not d.startswith("exact-"):
            p = os.path.join(work, d)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if a.workload == "ingest_stream":
        stream_cuts(data, a.seed, os.path.join(work, "cuts"))
    log("starting the harness")
    lines = run_jvm(java_cmd(work, [
        "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--work", work,
        "--refs", os.path.join(HERE, "refs.json")]), RUN_LIMIT_S)
    for d in ("tmp", "spark-local", "warehouse", "cuts"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    log("harness done")
    if not lines or not lines[-1].startswith("{"):
        sys.exit("harness printed no result")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
