#!/usr/bin/env python3
"""Recomputes perfbench/refs.json, the reference digests run.py checks
every result against.

    python3 perfbench/make_refs.py

Batch queries: DuckDB runs each query's oracle SQL (graft.SparkEntry.
oracleSql) over the benchmark's input tables and writes the result as
parquet; the harness digests it. s_windowed_counts uses the
q_events_hourly oracle. The other streams use graft's batch form of the
same transform over the whole input. graft's own result of each batch
query is digested too and must agree, or nothing is written. Run it
again whenever datagen.py, a query or its oracle changes.
"""
import hashlib
import json
import os
import shutil
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    os.makedirs(run.WORK, exist_ok=True)
    run.build()
    data = run.inputs()
    work = os.path.join(run.WORK, "refs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sql_file = os.path.join(work, "oracle_sql.json")
    run.run_jvm(run.java_cmd(work, ["oracle-sql", "--out", sql_file]), 600)
    oracle = json.load(open(sql_file))
    duck = os.path.join(work, "duck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/base/{t}.parquet'")
    for q in sorted(oracle):
        run.log(f"oracle {q}")
        os.makedirs(f"{duck}/{q}")
        con.sql(f"COPY ({oracle[q]}) TO '{duck}/{q}/part-0.parquet' "
                "(FORMAT PARQUET)")
    out = os.path.join(work, "digests.json")
    run.run_jvm(run.java_cmd(work, ["refs", "--data", data, "--work", work,
                                    "--duck", duck, "--out", out]), 1800)
    got = json.load(open(out))
    bad = [k for k, v in got["graft"].items() if v != got["refs"][k]]
    for k in bad:
        print(f"MISMATCH {k}: graft {got['graft'][k]} oracle {got['refs'][k]}")
    if bad:
        sys.exit(f"{len(bad)} queries disagree with their oracle; refs.json kept")
    sha = lambda s: hashlib.sha256(s.encode()).hexdigest()[:16]
    refs = {
        "provenance": {
            "inputs": "perfbench/datagen.py sha256 " +
                      run.tree_hash([os.path.join(run.HERE, "datagen.py")])[:16],
            "batch": "DuckDB " + duckdb.__version__ + " running "
                     "graft.SparkEntry.oracleSql; graft agreed on every query",
            "s_windowed_counts": "the q_events_hourly oracle",
            "streams": "graft's batch form of each transform",
            "digest": "perfbench.Digest (8 significant digits)",
            "oracle_sql_sha256": {q: sha(oracle[q]) for q in sorted(oracle)},
        },
        "refs": dict(sorted(got["refs"].items())),
    }
    with open(os.path.join(run.HERE, "refs.json"), "w") as f:
        json.dump(refs, f, indent=1)
        f.write("\n")
    print(f"wrote refs.json: {len(refs['refs'])} references")


if __name__ == "__main__":
    main()
