#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload corpus_prep|lake_cdc --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.sh),
generates the workload's inputs from the seed (perfbench/gen.py) and runs
the workload in a fresh JVM. Prints every metric with its unit, then, as the last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Exits 1 when an
output is wrong, 2 when the benchmark could not run.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
WORKLOADS = ("corpus_prep", "lake_cdc")
TIME_LIMIT_S = 170  # a run must end within 180 s

# A fixed-size heap with fixed generation sizes, so the resident set a run
# reaches depends on what the engine keeps alive, not on heap resizing.
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData"]
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, log=None):
    if log and os.path.exists(log):
        kept = os.path.join(WORK, "failed-run.log")
        shutil.copy(log, kept)
        msg += f"; JVM log in {kept}"
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def nearest_rank(xs, p):
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs):
    """The highest of p99/p95/p90 with at least ten samples beyond it, else
    p75: a run has too few samples for a farther tail, and p75 moves less
    with one slow sample than the maximum does."""
    for p in (99, 95, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            return nearest_rank(xs, p), f"p{p}"
    return nearest_rank(xs, 75), "p75"


def java_cmd(work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
            + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.path.join(HERE, ".build", "classes") + ":"
               + os.path.join(SPARK_JARS, "*"), "perfbench.Main"]
            + [x for k, v in args.items() for x in (f"--{k}", str(v))])


def launch(work, args, deadline, log):
    """Runs one harness JVM; returns its result object."""
    out = os.path.join(work, f"result-{args['mode']}-{time.time_ns()}.json")
    args = dict(args, out=out, cores=len(os.sched_getaffinity(0)))
    with open(log, "a") as lf:
        proc = subprocess.Popen(java_cmd(work, args), stdout=lf, stderr=lf,
                                cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args['mode']} JVM passed the time limit", log)
    if proc.returncode != 0 or not os.path.exists(out):
        fail(f"{args['mode']} JVM exited {proc.returncode}", log)
    with open(out) as f:
        res = json.load(f)
    if args["mode"] == "run" and "e2e" not in res:
        fail("the workload stopped on an uncaught error", log)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb-expected", action="store_true",
                    help="make one expected value wrong (self-tests)")
    a = ap.parse_args()
    started = time.time()
    deadline = started + TIME_LIMIT_S
    spec = load_spec()

    build = subprocess.run(["bash", os.path.join(HERE, "build.sh")],
                           stdout=sys.stderr, stderr=sys.stderr)
    if build.returncode != 0:
        fail("build failed")
    if not shutil.which("java"):
        fail("no java on PATH")

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    log = os.path.join(work, "jvm.log")
    t = time.time()
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import gen
    gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t
    if a.perturb_expected:
        gen.perturb_expected(a.workload, inputs)

    args = {"mode": "run", "workload": a.workload, "seed": a.seed,
            "inputs": inputs, "work": work, "seconds": a.seconds,
            "trace": a.trace}
    res = launch(work, args, deadline, log)
    shutil.rmtree(work, ignore_errors=True)

    e2e = res["e2e"]
    failures = list(res["failures"])
    missing = [k for k in ("cold_job_s", "job_s", "commit_s", "read_s")
               if not e2e.get(k)]
    notes = [f"gen_s {gen_s:.3f} (input generation, not a metric)"]
    notes += [f"{k} {v:.3f} (untimed phase, not a metric)"
              for k, v in res["phases"].items()]
    values = {"setup_s": res["setup_s"],
              "peak_rss_mb": res["peak_rss_mb"]}
    if not missing:
        values["cold_job_s"] = e2e["cold_job_s"][0]
        values["job_s"] = statistics.median(e2e["job_s"])
        notes.append(f"job_s median of n={len(e2e['job_s'])} warm units")
        for name in ("commit", "read"):
            xs = e2e[f"{name}_s"]
            values[f"{name}_p50_s"] = statistics.median(xs)
            values[f"{name}_tail_s"], pct = tail(xs)
            notes.append(f"{name}_p50_s of n={len(xs)}; "
                         f"{name}_tail_s is the {pct}")

    wanted = spec["end_to_end"]
    if a.trace:
        wanted = spec["per_layer"]
        layers = res["layers"]
        values = {m["name"]: values.get(m["name"], layers.get(m["name"], 0.0))
                  for m in wanted}
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}")
        with open(stem + ".spans.jsonl", "w") as f:
            f.write(res["spans"])
        with open(stem + ".layers.json", "w") as f:
            json.dump({"layers": layers, "op_jobs": res["op_jobs"]},
                      f, indent=1, sort_keys=True)
        notes.append(f"spans in {stem}.spans.jsonl; per-layer numbers and "
                     f"per-op job counts in {stem}.layers.json")
        notes.append(f"tracing overhead "
                     f"{layers.get('trace.overhead_ratio', 0.0):+.3f} (median "
                     f"over {int(res['overhead_calls'])} calls timed both "
                     f"traced and untraced)")

    failures += [f"no {k} samples" for k in missing]
    failed = int(res["failed"]) + len(missing)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    for line in notes:
        print(line)
    for line in failures[:20]:
        print(f"FAILED {line}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0,
                      "attempted": max(1, int(res["attempted"])),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)

if __name__ == "__main__":
    main()
