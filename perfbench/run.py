#!/usr/bin/env python3
"""Benchmark command: builds the engine and the harness from source,
runs one workload in one JVM, checks its outputs, and prints one JSON
result line as the last line of stdout.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 15 --trace 0

Workloads: convert, query_mix (see README.md).
With --trace 0 the result carries the end-to-end metrics, with --trace 1
the per-layer metrics. Run from the root of a checkout; everything the
run writes goes under .bench_build/perfbench/ there. The full artifact of
every run (spans, environment, calibration) is kept in
.bench_build/perfbench/artifacts/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("convert", "query_mix")
# the JVM stops itself well before this; the margin covers start-up
JVM_LIMIT_S = 172
BUILD_LIMIT_S = 800
HEAP = ["-Xmx4g", "-Xms4g"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, engine and harness."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "queries.json")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed since the last build;
    returns (classpath, jvm options)."""
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    launch = os.path.join(WORK, "launch.txt")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        current = open(stamp).read() if os.path.exists(stamp) else ""
        if current != digest or not os.path.exists(launch):
            env = dict(os.environ, COURSIER_MODE="offline")
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                               " -Dsbt.offline=true -Dsbt.override.build.repos=true"
                               " -Dsbt.server.autostart=false").strip()
            log = os.path.join(WORK, "build.log")
            with open(log, "w") as out:
                r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFile"],
                                   cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
            if r.returncode != 0:
                fail(f"build failed, see {log}")
            shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
            with open(stamp, "w") as fh:
                fh.write(digest)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def canon(df):
    """Order-insensitive value hash of a result, the same canonical form
    scripts/local_check.py compares with the DuckDB oracle: columns
    sorted by name, cells as strings, rows sorted."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)
    rows = sorted(tuple(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
    h = hashlib.md5()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def read_dump(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_queries(dumps, expected):
    """Row count, column names and value hash of each dumped result
    against its expected digest; returns the problems found."""
    problems = []
    for path in dumps:
        name = os.path.basename(path)
        exp = expected.get(name)
        got = read_dump(path)
        if exp is None:
            problems.append(f"{name}: no expected digest")
        elif got is None:
            problems.append(f"{name}: no result written")
        elif sorted(got.columns) != exp["columns"]:
            problems.append(f"{name}: columns {sorted(got.columns)}, expected {exp['columns']}")
        elif len(got) != exp["rows"]:
            problems.append(f"{name}: {len(got)} rows, expected {exp['rows']}")
        elif canon(got) != exp["digest"]:
            problems.append(f"{name}: value hash differs from the {exp['source']} digest")
    return problems


def run_jvm(cp, opts, args, workdir, deadline):
    """Runs the harness JVM; returns its artifact, or exits on a crash."""
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    artifact = os.path.join(workdir, "artifact.json")
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"] + opts +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", workdir, "--out", artifact,
            "--spawn-ms", str(int(time.time() * 1000))])
    if args.fault == "corrupt-chunk":
        cmd += ["--fault", "corrupt-chunk"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
    log = os.path.join(workdir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM ran past its time limit, see {log}")
    if proc.returncode != 0 or not os.path.exists(artifact):
        tail = open(log, errors="replace").read()[-3000:]
        fail(f"harness JVM exited with {proc.returncode}:\n{tail}")
    with open(artifact) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # deliberate faults, for test_faults.py: each must count as a failure
    p.add_argument("--fault", choices=("corrupt-chunk", "wrong-digest"))
    args = p.parse_args()
    started = time.time()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "imaging", "SmartSpimJob.scala")):
        fail("engine sources not found next to perfbench/; run from a checkout of the repo", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    cp, opts = build()
    built = time.time()
    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        art = run_jvm(cp, opts, args, workdir, built + JVM_LIMIT_S - min(30.0, built - started))
        failures = list(art["failures"])
        failed = art["failed"]
        if args.workload == "query_mix":
            with open(os.path.join(HERE, "queries.json")) as fh:
                expected = {q["name"]: q for q in json.load(fh)["queries"]}
            if args.fault == "wrong-digest":
                first = sorted(expected)[0]
                expected[first] = dict(expected[first], digest="0" * 32)
            problems = check_queries(art.get("dumps", []), expected)
            failures += problems
            failed += len(problems)
        art["failures"] = failures
        art["failed"] = failed
        art["report"]["error_rate"] = failed / max(1, art["attempted"])
        art["source_digest"] = source_digest()
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip()
        except OSError:
            commit = ""
        art["git_commit"] = commit or None
        art["nproc"] = os.cpu_count()
        art["heap"] = HEAP
        os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(started)}.json"
        with open(os.path.join(WORK, "artifacts", name), "w") as fh:
            json.dump(art, fh, indent=1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        values = art.get("per_layer", {})
    else:
        names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        values = dict(art["end_to_end"], setup_s=art["setup_s"])
    metrics = {n: {"value": values.get(n, float("nan")), "unit": u} for n, u in names}
    # end-to-end values BENCHMARK.json does not gate still go in the report
    declared = {n for n, _ in names}
    extra = {k: v for k, v in art["end_to_end"].items() if k not in declared}
    report = dict(art["report"], **extra, failures=failures[:10],
                  artifact=os.path.relpath(os.path.join(WORK, "artifacts", name), ROOT))
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0 and art["attempted"] > 0,
                      "attempted": art["attempted"], "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
