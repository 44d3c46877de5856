#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (perfbench/build.py), makes the
workload's inputs from the seed (perfbench/gen.py), runs the JVM harness
(perfbench/harness) for `--seconds` of measurement, checks every answer
(perfbench/check.py) and prints, as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics (from a run that records spans).
Each run's result, answers and spans stay under perfbench/.work/runs/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("serve_mixed", "analytics_suite")
TIME_LIMIT_S = 175
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
KEEP_RUNS = 40


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(classpath, workload, seconds, trace, inputs, out, timeout):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # a fixed, pre-touched 2 GB heap: the resident set beyond it is then
    # the memory the program holds outside the heap, not when the collector
    # chose to grow it (a heap left to grow moved the peak resident set by
    # over 500 MB between runs of the same load)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss4m",
            "-Djava.io.tmpdir=" + tmp,
            "-cp", classpath, "perfbench.Main",
            workload, str(seconds), str(trace), inputs, out]
    env = dict(os.environ, PERFBENCH_CPUS=str(cpus()))
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=out)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("the JVM harness did not finish within %d s" % timeout)
    if code != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("the JVM harness exited with %d:\n%s" % (code, tail))
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def check_run(workload, seed, inputs, out, res):
    """Returns (problems, extra per-layer values)."""
    extra = {}
    if workload == "serve_mixed":
        recs = check.load_records(os.path.join(out, "records.jsonl"))
        problems, held, written = check.check_serve_mixed(
            inputs, recs, os.path.join(out, "export"))
        d = res["detail"]
        # on disk: the whole store against the row data it holds; written:
        # the window's parquet output against the row data its scripts carried
        extra["store.bytes_on_disk_per_user_byte"] = d["store_bytes"] / max(1, held)
        extra["store.bytes_written_per_user_byte"] = d["parquet_bytes_written"] / max(1, written)
    else:
        with open(os.path.join(out, "oracle_sql.json")) as f:
            sql = json.load(f)
        exp = oracle.expected(seed, os.path.join(inputs, "corpus"), sql)
        problems = check.check_analytics(exp, os.path.join(out, "results"))
    return problems, extra


def prune(runs_dir, keep):
    """Drops the bulky parts of this run and all but the newest runs."""
    for sub in ("in", "out/spark-local", "out/tmp", "out/warehouse", "out/store1",
                "out/store2", "out/export", "out/results"):
        shutil.rmtree(os.path.join(keep, sub), ignore_errors=True)
    runs = sorted((os.path.join(runs_dir, d) for d in os.listdir(runs_dir)),
                  key=os.path.getmtime)
    for d in runs[:-KEEP_RUNS]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        sp = spec()
        classpath = build.build()
    except (OSError, build.BuildError) as e:
        print("perfbench: cannot build: %s" % e, file=sys.stderr)
        return 2
    runs_dir = os.path.join(HERE, ".work", "runs")
    work = os.path.join(runs_dir, "%s-seed%d-trace%d-%d-%d" % (
        a.workload, a.seed, a.trace, int(time.time()), os.getpid()))
    inputs, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(out)
    try:
        t_gen = time.time()
        gen.generate(a.workload, a.seed, cpus(), inputs)
        t_jvm = time.time()
        # a build may take longer; the limit counts from its end
        t_budget = TIME_LIMIT_S - (t_jvm - t_gen) - 25
        res = run_jvm(classpath, a.workload, a.seconds, a.trace, inputs, out, t_budget)
        t_check = time.time()
        problems, extra = check_run(a.workload, a.seed, inputs, out, res)
        phases = {"build_s": t_gen - t_start, "gen_s": t_jvm - t_gen, "jvm_s": t_check - t_jvm,
                  "check_s": time.time() - t_check}
    except Exception as e:  # no result line: the run is void
        print("perfbench: %s: %s" % (type(e).__name__, e), file=sys.stderr)
        return 3
    if a.trace:
        layer = dict(res["layer"], **extra)
        names = [(m["name"], m["unit"]) for m in sp["per_layer"]]
        values = {n: layer.get(n) or 0.0 for n, _ in names}
    else:
        names = [(m["name"], m["unit"]) for m in sp["end_to_end"]]
        values = {n: res["e2e"][n] for n, _ in names}
    result = {
        "correct": not problems,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(dict(result, detail=res["detail"], layer=res["layer"], extra=extra,
                       problems=problems[:50], errors=res["errors"],
                       phases=phases), f, indent=1)
    for p in problems[:10]:
        print("perfbench: check: %s" % p, file=sys.stderr)
    for e in res["errors"][:10]:
        print("perfbench: error: %s" % e, file=sys.stderr)
    prune(runs_dir, work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
