#!/usr/bin/env python3
"""Pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload simplify-customer --seed 1 --seconds 45 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's Scala package from source with sbt (into `target/` and
`.bench_build/`); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one fresh
JVM with a `local[<cores>]` Spark session, times one pass of the workload
(further passes run only while one more fits in `--seconds`), checks the
outputs, writes the full record to `.bench_build/perfbench/results/`, and
prints one JSON result line last.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("simplify-customer", "export-search")

# Layer spans (a module under src/main/scala/graft/ and its call) and the
# measures each span reports; similarity.fit has no span of its own and
# carries task measures only.
SPANS = ["sources.load", "sources.load_nodes", "model.schema", "model.extract",
         "rewrite.rewrite", "metrics.compare", "metrics.fd", "sinks.jsonl", "sinks.sql",
         "cypher.export", "nlp.parse", "operators.dedup", "operators.bm25", "operators.ann"]
TASK_MEASURES = [("task_cpu_s", "s"), ("task_wait_s", "s"), ("gc_s", "s"),
                 ("shuffle_mb", "MiB"), ("spill_mb", "MiB")]
SPAN_MEASURES = [("s", "s"), ("driver_s", "s")] + TASK_MEASURES
COUNTS = [("sources.rows_in", "rows"), ("rewrite.epochs", "count"),
          ("model.extract.rows", "rows"), ("sinks.sql.bytes", "bytes"),
          ("cypher.statements", "count"), ("nlp.trees", "count"),
          ("operators.dedup.pairs", "count"), ("operators.ann.recall", "share"),
          ("metrics.origin_keys", "count"), ("metrics.current_keys", "count"),
          ("metrics.shared_keys", "count"), ("metrics.coverage", "share"),
          ("metrics.completeness", "share")]
# The traced pass's wall time (its difference from an untraced run's
# wall_s is the tracing overhead) and the Spark driver's peak heap after GC,
# which repeats only within about a fifth between runs.
WHOLE_RUN = [("trace.wall_s", "s"), ("peak_heap_mb", "MiB")]

PER_LAYER = ([(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_MEASURES]
             + [(f"similarity.fit.{m}", u) for m, u in TASK_MEASURES]
             + COUNTS + WHOLE_RUN)
END_TO_END = [("wall_s", "s"), ("rows_per_s", "1/s"), ("setup_s", "s"), ("cpu_s", "s")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"
GEN_REPEATS = 3
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, to tell when to rebuild."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src/main"):
        files += sorted(os.path.relpath(p, root) for p in
                        glob.glob(os.path.join(root, base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    h = hashlib.sha256()
    for rel in files:
        path = os.path.join(root, rel)
        if os.path.isfile(path):
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile the program and the benchmark package; return the runtime classpath."""
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    log("building the program and the benchmark package with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    with open(os.path.join(work, "build.log"), "w") as f:
        f.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        raise SystemExit(f"build failed (exit {out.returncode}); see .bench_build/perfbench/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def setup_inputs(workload, seed, data, size):
    """Generate the inputs GEN_REPEATS times; return (manifest, median s)."""
    times = []
    manifest = None
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        manifest = gen.generate(workload, seed, data, size)
        times.append(time.perf_counter() - t0)
    return manifest, statistics.median(times)


def run_jvm(cp, args, log_path):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log_path, "w") as f:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=f, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"workload timed out after {RUN_TIMEOUT_S} s; see {log_path}")


def steal_s():
    """CPU time the host took from this machine so far (Linux), in seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def metrics_of(record, manifest, checked, setup_s, trace):
    """The result metrics, all from the first (measured) pass."""
    first = record["passes"][0]
    rows_in = sum(t["rows"] for t in manifest["tables"].values())
    if not trace:
        values = {"wall_s": first["wall_s"], "rows_per_s": rows_in / first["wall_s"],
                  "setup_s": setup_s, "cpu_s": first["cpu_s"]}
        return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    facts = record["final_facts"]
    values = {name: first["layers"].get(name, first["counts"].get(name, 0.0)) for name, _ in PER_LAYER}
    values["sources.rows_in"] = rows_in
    for key in ("origin_keys", "current_keys", "shared_keys", "coverage"):
        values[f"metrics.{key}"] = facts.get(key, 0)
    values["metrics.completeness"] = facts.get("cluster_completeness", 0)
    values.update(checked.counts)
    values["trace.wall_s"] = first["wall_s"]
    values["peak_heap_mb"] = first["peak_heap_mb"]
    return {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full",
                    help="input size; 'tiny' is for the self-tests")
    opt = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("run from the root of a checkout of the program (build.sbt and src/ not found)")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    tag = f"{opt.workload}-seed{opt.seed}-trace{opt.trace}"
    run_dir = os.path.join(work, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(out)
    manifest, gen_s = setup_inputs(opt.workload, opt.seed, data, opt.size)

    result_path = os.path.join(run_dir, "record.json")
    steal0 = steal_s()
    launch = time.time()
    jvm_args = {"workload": opt.workload, "data": data, "out": out, "work": run_dir,
                "seconds": opt.seconds, "trace": opt.trace,
                "result": result_path}
    if manifest["qids"]:
        jvm_args["qids"] = ",".join(map(str, manifest["qids"]))
    code = run_jvm(cp, jvm_args, os.path.join(run_dir, "jvm.log"))
    if code != 0 or not os.path.exists(result_path):
        raise SystemExit(f"workload JVM failed (exit {code}); see {os.path.join(run_dir, 'jvm.log')}")
    jvm_s = time.time() - launch
    steal = steal_s() - steal0
    with open(result_path) as f:
        record = json.load(f)
    setup_s = gen_s + (record["main_ms"] / 1e3 - launch) + record["session_s"]

    t0 = time.time()
    checked = checks.run(opt.workload, record, manifest, data, out)
    checks_s = time.time() - t0
    metrics = metrics_of(record, manifest, checked, setup_s, opt.trace == 1)
    calls = sum(p["calls"] for p in record["passes"])
    attempted = calls + len(checked.results)
    failed = sum(1 for r in checked.results if not r["ok"])

    full = {"workload": opt.workload, "seed": opt.seed, "trace": opt.trace, "size": opt.size,
            "inputs": manifest, "setup": {"generate_s": gen_s, "session_s": record["session_s"],
                                          "jvm_start_s": record["main_ms"] / 1e3 - launch},
            "run": {"jvm_s": jvm_s, "checks_s": checks_s, "steal_s": steal},
            "passes": [{k: v for k, v in p.items() if k != "facts"} for p in record["passes"]],
            "facts": record["final_facts"], "checks": checked.results,
            "reattributed": record["reattributed"], "failed_ops": failed / attempted,
            "warm_wall_s": [p["wall_s"] for p in record["passes"][1:]],
            "metrics": metrics}
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    bad = [r["name"] for r in checked.results if not r["ok"]]
    print(f"[perfbench] {tag}: passes={len(record['passes'])} checks={len(checked.results)} "
          f"failed={','.join(bad) or 'none'} record=.bench_build/perfbench/results/{tag}.json"[:2000])
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
