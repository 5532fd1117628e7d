#!/usr/bin/env python3
"""Self-tests of the pipeline benchmark, at the tiny input size.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload it runs the benchmark
once with tracing off and once with tracing on, and checks that

- both runs exit 0 and every output check passes;
- the result line carries exactly the metrics BENCHMARK.json declares;
- tracing changes no output: both runs record identical facts;
- a directory holding only BENCHMARK.json and the benchmark's files makes
  the benchmark fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        facts = {}
        for trace in (0, 1):
            p = bench("--workload", w, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny")
            expect(p.returncode == 0, f"{w} trace={trace} exits 0")
            if p.returncode != 0:
                print(p.stderr[-2000:])
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            expect(result["correct"] and result["failed"] == 0, f"{w} trace={trace} checks pass")
            expect(set(result["metrics"]) == names[trace], f"{w} trace={trace} reports the declared metrics")
            with open(os.path.join(RESULTS, f"{w}-seed1-trace{trace}.json")) as f:
                facts[trace] = json.load(f)["facts"]
        expect(len(facts) == 2 and facts[0] == facts[1], f"{w} tracing leaves outputs unchanged")

    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
        p = bench("--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=bare)
        expect(p.returncode != 0 and '"correct"' not in p.stdout,
               "without the program's sources the benchmark fails and prints no result")
    finally:
        shutil.rmtree(bare)

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
