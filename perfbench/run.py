#!/usr/bin/env python3
"""graft CDC engine benchmark.

    python3 perfbench/run.py --workload tail_bulk --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (build.py), generates the
workload's input from the seed in a separate JVM (cached per workload, size
and seed; excluded from every metric), then runs one measured JVM that
drains the input through the engine's streaming path and checks the final
lake against the oracle. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 1` reports
the per-layer metrics of a traced drain instead of the end-to-end ones and
writes its spans to `--trace-out` (JSON lines).

Workload shapes and engine settings live in workloads.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

GEN_TIMEOUT_S = 120
RUN_TIMEOUT_S = 165


def java(classes, main, args, heap, tmp, timeout, stdout, env=None):
    # a fixed young generation without adaptive sizing: the heap then grows
    # with what a run retains rather than with GC pause timing, which keeps
    # peak_rss_mb steady from run to run
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
           ["-XX:+UseParallelGC", f"-Xmx{heap}", "-Xms1g", "-Xmn512m",
            "-XX:-UseAdaptiveSizePolicy", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes] + build.spark_jars()), main] + args)
    p = subprocess.Popen(cmd, stdout=stdout, stderr=sys.stderr, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"perfbench: {main} timed out after {timeout} s")


def generate(classes, workload, seed, out_dir, params, heap, tmp):
    """Generate one input into out_dir unless a complete copy is there."""
    if not os.path.isfile(os.path.join(out_dir, "DONE")):
        t0 = time.time()
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        rc = java(classes, "graft.perfbench.Gen",
                  ["--workload", workload, "--seed", str(seed), "--out", out_dir] +
                  flat("gen.", params), heap, tmp, GEN_TIMEOUT_S, sys.stderr)
        if rc != 0:
            raise SystemExit(f"perfbench: input generation failed ({rc})")
        print(f"perfbench: generated {out_dir} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out_dir


def flat(prefix, d):
    out = []
    for k, v in d.items():
        out += [f"--{prefix}{k}", str(v)]
    return out


def scaled(part, seconds, base_seconds):
    """Scale the keys a workload names in `scale` with the run length."""
    part = dict(part)
    for k in part.pop("scale", []):
        part[k] = max(1, round(part[k] * seconds / base_seconds))
    return part


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full", help="input size profile in workloads.json")
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--trace-out", default=None, help="spans file of a traced run")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    size = w["sizes"][a.size]

    classes = build.build()
    out = build.build_dir()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)

    # inputs: generated in their own JVM, cached, never timed. The warm-up
    # input has a fixed seed, so one copy serves every run of a workload.
    # The generator also needs the batch size: it prepares the backfill
    # source's state at each micro-batch boundary.
    gen_root = os.path.join(out, "gen", os.path.basename(classes))
    key = f"{a.workload}-{a.size}-{a.seconds}s-seed{a.seed}"
    batch = {"max_files_per_trigger": w["engine"]["max_files_per_trigger"]}
    main_dir = generate(classes, a.workload, a.seed, os.path.join(gen_root, key),
                        {**scaled(size["main"], a.seconds, spec["base_seconds"]), **batch},
                        spec["gen_heap"], tmp)
    warm_dir = generate(classes, a.workload, spec["warmup_seed"],
                        os.path.join(gen_root, f"{a.workload}-{a.size}-warm"),
                        {**size["warm"], **batch}, spec["gen_heap"], tmp)

    work = os.path.join(out, "work", f"{key}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    run_args = ["--workload", a.workload, "--input", main_dir, "--warm_input", warm_dir,
                "--work", work,
                "--trace", str(a.trace), "--cores", str(a.cores), "--result", result]
    run_args += flat("", w["engine"])
    if a.trace_out:
        run_args += ["--trace_out", os.path.abspath(a.trace_out)]
    # Spark's scratch space stays inside the run's work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        # fewer cores than the machine has (a single-thread reference run)
        # take proportionally longer
        timeout = RUN_TIMEOUT_S * max(1, (os.cpu_count() or 1) // a.cores)
        rc = java(classes, "graft.perfbench.Main", run_args, spec["heap"],
                  tmp, timeout, sys.stderr, env)
        if rc != 0 or not os.path.isfile(result):
            raise SystemExit(f"perfbench: run failed ({rc})")
        with open(result) as f:
            line = f.read().strip()
        json.loads(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    t0 = time.time()
    main()
    print(f"perfbench: done in {time.time() - t0:.1f} s", file=sys.stderr)
