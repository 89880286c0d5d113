#!/usr/bin/env python3
"""Smoke test of the dedup benchmark, at tiny corpus sizes.

    python3 dedupbench/smoke_test.py

Run from the repository root. It checks that:
  - every workload (the two in BENCHMARK.json and the two kept runnable
    beside them) prints every end-to-end metric with --trace 0 and every
    per-layer metric with --trace 1, each with the unit BENCHMARK.json names,
    and passes its correctness gate;
  - a deliberately corrupted output fails the gate (correct false, failed > 0);
  - the benchmark refuses to run with a GRAFT_* engine knob set;
  - it exits non-zero, printing no result, in a directory holding only
    BENCHMARK.json and dedupbench/.
Exits 0 when every check passes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["dedup_dense", "pairs_minhash", "dedup_sparse_ckpt", "ngram_exact"]
TINY = ["--seed", "7", "--seconds", "1", "--scale", "0.1"]


def run(args, cwd=ROOT, env=None):
    p = subprocess.run([sys.executable, os.path.join(cwd, "dedupbench", "run.py")] + args,
                       cwd=cwd, env=env, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, result, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace in ("0", "1"):
            code, r, err = run(["--workload", w, "--trace", trace] + TINY)
            what = f"{w} --trace {trace}"
            if r is None:
                expect(False, f"{what}: exit {code}\n{err[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == expected[trace], f"{what}: metric names and units")
            expect(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
                   f"{what}: every metric has a value")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{what}: correctness gate passes")

    code, r, err = run(["--workload", "dedup_sparse_ckpt", "--trace", "0", "--corrupt", "1"] + TINY)
    expect(r is not None and not r["correct"] and r["failed"] > 0,
           "corrupted pair set fails the correctness gate")

    env = dict(os.environ, GRAFT_VERIFY_SEMIJOIN="1")
    code, r, _ = run(["--workload", "ngram_exact", "--trace", "0"] + TINY, env=env)
    expect(code != 0 and r is None, "a GRAFT_* knob in the environment is refused")

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "dedupbench"),
                    ignore=shutil.ignore_patterns(".work", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, r, _ = run(["--workload", "ngram_exact", "--trace", "0"] + TINY, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and r is None, "a checkout without the engine sources fails")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
