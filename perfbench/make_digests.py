#!/usr/bin/env python3
"""Writes perfbench/queries.json: the query_mix list with each query's
expected row count, column names and value hash.

The expectation comes from the query's DuckDB oracle
(graft.SparkEntry.oracleSql) on the tables the engine reads,
~/testdata/<sf_dir> with sf_dir from the existing queries.json, hashed in
the canonical form run.py checks. A query whose oracle is missing, fails, or
does not finish within --timeout seconds is checked against the engine's
own result instead, marked "source": "head"; so is nothing else. The
engine's result is computed too, and any query where it disagrees with
its oracle is reported and the script exits non-zero.

    python3 perfbench/make_digests.py [--timeout 300]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def oracle(con, sql, timeout):
    done = threading.Event()

    def watchdog():
        if not done.wait(timeout):
            con.interrupt()
    threading.Thread(target=watchdog, daemon=True).start()
    try:
        return con.execute(sql).df()
    finally:
        done.set()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--timeout", type=float, default=300)
    args = p.parse_args()
    import duckdb

    cp, opts = run.build()
    workdir = os.path.join(run.WORK, "digests")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    listing = os.path.join(workdir, "oracle.json")
    subprocess.run(["java", "-cp", cp] + opts +
                       ["perfbench.Main", "--dump-oracle", listing], check=True)
    queries = json.load(open(listing))
    # the engine's own results, from one untraced query_mix run
    ns = argparse.Namespace(workload="query_mix", seed=0, seconds=0, trace=0, fault=None)
    art = run.run_jvm(cp, opts, ns, workdir, time.time() + run.JVM_LIMIT_S)
    if art["failed"]:
        sys.exit(f"engine run failed: {art['failures']}")
    sf = art["report"]["sf_dir"]
    dumps = {os.path.basename(d): d for d in art["dumps"]}

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out, mismatched = [], []
    for q in queries:
        got = run.read_dump(dumps[q["name"]])
        entry = {k: q[k] for k in ("name", "module", "class")}
        exp, source = None, "head"
        if q["sql"]:
            t0 = time.time()
            try:
                exp = oracle(con, q["sql"], args.timeout)
                source = "duckdb"
            except Exception as e:
                print(f"{q['name']}: oracle not used ({str(e)[:120]})", file=sys.stderr)
            entry["oracle_s"] = round(time.time() - t0, 2)
        ref = exp if exp is not None else got
        entry.update(rows=len(ref), columns=sorted(ref.columns), digest=run.canon(ref),
                     source=source)
        if exp is not None and (sorted(got.columns) != entry["columns"] or len(got) != len(exp)
                                or run.canon(got) != entry["digest"]):
            mismatched.append(q["name"])
        out.append(entry)
        print(f"{q['name']}: {source} rows={entry['rows']}", file=sys.stderr)
    with open(os.path.join(run.HERE, "queries.json"), "w") as fh:
        json.dump({"sf_dir": os.path.basename(sf), "queries": out}, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(workdir, ignore_errors=True)
    if mismatched:
        sys.exit(f"engine result differs from its oracle: {mismatched}")


if __name__ == "__main__":
    main()
