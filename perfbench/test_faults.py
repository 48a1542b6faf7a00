#!/usr/bin/env python3
"""The benchmark's own tests.

- A corrupted chunk in the convert output, and a wrong expected digest
  for a query_mix result, must each register as a failed operation:
  the checks can fail.
- The per-layer metric names the harness computes are exactly the ones
  BENCHMARK.json declares.
- Without the engine sources next to it, run.py exits non-zero and
  prints no result.

    python3 perfbench/test_faults.py      (from the root of a checkout)
"""
import json
import os
import shutil
import subprocess
import sys

import run

RUN = os.path.join(run.HERE, "run.py")


def result(args, cwd=run.ROOT):
    p = subprocess.run([sys.executable, RUN] + args, cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def test_fault(workload, fault):
    rc, res, err = result(["--workload", workload, "--seed", "1", "--seconds", "1",
                           "--trace", "0", "--fault", fault])
    assert rc == 0, err[-2000:]
    assert res["correct"] is False and res["failed"] >= 1, res


def test_metric_names():
    cp, opts = run.build()
    names = subprocess.run(["java", "-cp", cp] + opts + ["perfbench.Main", "--list-per-layer", "1"],
                           capture_output=True, text=True, check=True).stdout.split()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer"]]
    assert names == declared, (set(names) ^ set(declared))


def test_bare_directory():
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/target", "__pycache__"))
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "convert",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=170)
        assert p.returncode != 0 and not p.stdout.strip(), p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    tests = [("metric names", test_metric_names),
             ("bare directory", test_bare_directory),
             ("corrupted chunk", lambda: test_fault("convert", "corrupt-chunk")),
             ("wrong digest", lambda: test_fault("query_mix", "wrong-digest"))]
    failed = 0
    for name, t in tests:
        try:
            t()
            print(f"ok    {name}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL  {name}: {str(e)[:500]}")
    sys.exit(1 if failed else 0)
