#!/usr/bin/env python3
"""Layered ETL benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark harness
from source with the Scala compiler that ships in the Spark jars
($SPARK_HOME/jars; cached under .bench_build), generates the workload's
inputs from the seed, runs the harness JVM (set-up, a cold pass, then
steady passes for at least S seconds), checks every output, and prints one
metric per line followed by a JSON result line. The pass metrics are JVM
CPU times; wall-clock pass times are printed beside them. `--trace 1`
reports the per-layer metrics instead of the end-to-end ones. See
perfbench/WORKLOADS.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else found from
    spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


JARS = spark_jars()
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ("movies_etl", "llm_prep")
BUDGET = 170              # seconds a run may take after the build
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("cold_pass_norm_s", "s"), ("pass_norm_s", "s"),
              ("rows_per_norm_s", "1/s"), ("peak_rss_mb", "MB")]
# CPU seconds of one calibration round (perfbench.Calibration) on the
# reference machine, a 4-vCPU VM, at a quiet moment. setup_s and the
# *_norm_s metrics are CPU times scaled by REF_CALIB_S / this run's
# calibration median: the CPU seconds they would have taken at the
# reference speed.
REF_CALIB_S = 0.125


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    return sorted(glob.glob(f"{PROGRAM}/**/*.scala", recursive=True)
                  + glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))


def build():
    """Compile the program and the harness into a classes directory keyed
    by the sources' hash; reuse it when it exists."""
    srcs = sources()
    h = hashlib.sha1()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            t = time.time()
            r = subprocess.run(
                ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{JARS}/*",
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                 "-classpath", tmp, "-d", tmp]
                + srcs, capture_output=True, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
                fail("build failed")
            os.rename(tmp, out)
            print(f"build: compiled {len(srcs)} files in {time.time() - t:.1f} s")
    return out


def jvm(classes, work, args, deadline):
    # Serial GC with a fixed young generation: the heap then grows with what
    # the program holds, not with GC timing, so peak RSS repeats across runs
    # (on a 4-vCPU VM, five seeds of movies_etl gave 913-1217 MB under G1
    # defaults and 1096-1128 MB with these flags, at no slower a pass).
    # C1 only: the JIT reaches its steady state within the cold pass, so a
    # pass's CPU time depends on the work, not on how far background C2
    # compilation has got (under tiered C2 a movies_etl pass's CPU time
    # fell from 17.5 s to 6 s over twelve passes, and by how much at a
    # given pass depended on the host's load).
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Xmn600m", "-XX:+UseSerialGC",
            "-XX:TieredStopAtLevel=1", "-Xss8m", *ADD_OPENS,
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            # no fsync in the embedded JDBC sink: shared-disk flush latency
            # is noise here, not work the program does
            "-Dderby.system.durability=test",
            "-cp", f"{classes}:{JARS}/*", "perfbench.Main"] + args)
    with open(f"{work}/jvm.log", "a") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {BUDGET} s (log: {work}/jvm.log)")
    if p.returncode != 0:
        tail = open(f"{work}/jvm.log").read()[-3000:]
        sys.stderr.write(tail)
        fail(f"harness JVM exited with {p.returncode}")
    return out


def percentile_note(n):
    """Highest percentile with at least ten samples beyond it."""
    return f"p{100 * (1 - 10 / n):.0f}" if n >= 20 else "none above the median (n < 20)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one steady pass (see smoke.py)")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {PROGRAM}; run from the repository root")
    if not glob.glob(f"{JARS}/spark-sql_*.jar"):
        fail(f"Spark jars not found under {JARS}")
    classes = build()
    deadline = time.time() + BUDGET

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        t = time.time()
        rows, mb = gen.generate(a.workload, a.seed, f"{work}/inputs", a.smoke)
        gen_s = time.time() - t
        cores = len(os.sched_getaffinity(0))
        t_main = time.time()
        jvm(classes, work, [
            "--workload", a.workload, "--inputs", f"{work}/inputs", "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores)]
            + (["--min-passes", "1"] if a.smoke else []), deadline)
        res = json.load(open(f"{work}/result.json"))
        t_check = time.time()
        report(a, work, res, rows, mb, gen_s, cores)
        print(f"wall: generate {gen_s:.1f} s, "
              f"harness JVM {t_check - t_main:.1f} s, checks {time.time() - t_check:.1f} s",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, work, res, rows, mb, gen_s, cores):
    ops = res["ops"]
    attempted = sum(o["attempted"] for o in ops.values())
    failed = sum(o["failed"] for o in ops.values())
    checks = {}
    sql = json.load(open(f"{work}/oracle.json"))
    if sql:
        checks.update(check.oracle(f"{work}/inputs", f"{work}/out", sql))
    movies_out = f"{work}/movies/movies.parquet"
    if os.path.isdir(movies_out):
        checks["movies_etl"] = check.movies(f"{work}/inputs/movies/truth.json", movies_out)
    for op, err in checks.items():
        if err is not None:
            print(f"check {op}: FAILED: {err}")
            # every pass of an op repeats the cold pass's output (digest-
            # checked in the JVM), so a wrong output is wrong in all of them
            o = ops.get(op, {"attempted": 1, "failed": 0})
            failed += o["attempted"] - o["failed"]
            attempted += 0 if op in ops else 1
        else:
            print(f"check {op}: ok")
    for op, o in ops.items():
        print(f"op {op} seconds per pass (cold first): {[round(x, 3) for x in o['seconds']]}")
        for e in o["errors"]:
            print(f"error {op}: {e}")
    correct = failed == 0 and all(op in checks for op in ops)

    passes = res["pass_s"]
    pass_s = statistics.median(passes)
    pass_cpu_s = statistics.median(res["pass_cpu_s"])
    calib_s = statistics.median(res["calib_s"])
    speed = REF_CALIB_S / calib_s
    e2e = {"setup_s": res["setup_cpu_s"] * speed,
           "cold_pass_norm_s": res["cold_pass_cpu_s"] * speed,
           "pass_norm_s": pass_cpu_s * speed, "rows_per_norm_s": rows / (pass_cpu_s * speed),
           "peak_rss_mb": res["peak_rss_mb"]}
    print(f"workload {a.workload}: seed {a.seed}, {rows} input rows, {mb:.2f} MB, "
          f"closed loop, 1 client, local[{cores}], generated in {gen_s:.2f} s "
          f"(benchmark overhead, not in setup_s)")
    print(f"pass_s samples n={len(passes)} {[round(x, 3) for x in passes]}; "
          f"highest supported percentile: {percentile_note(len(passes))}")
    print(f"pass_cpu_s samples (JVM CPU, all threads) {[round(x, 3) for x in res['pass_cpu_s']]}")
    print(f"calibration: median {calib_s:.4f} s CPU per round, host speed {speed:.3f} of the "
          f"reference; samples {[round(x, 4) for x in res['calib_s']]}")
    print(f"CPU time: setup {res['setup_cpu_s']:.3f} s, cold_pass_cpu_s {res['cold_pass_cpu_s']:.3f} s, "
          f"pass_cpu_s {pass_cpu_s:.3f} s (not scaled)")
    print(f"wall clock: setup {res['setup_s']:.3f} s, cold_pass_s {res['cold_pass_s']:.3f} s, pass_s {pass_s:.3f} s, "
          f"rows_per_s {rows / pass_s:.1f} 1/s (not gated: they move with the host's load)")
    print(f"fail_ratio {failed / max(1, attempted):.4f} ({failed} of {attempted} operations)")
    units = dict(END_TO_END)
    if a.trace:
        metrics = {}
        spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": res["layers"].get(m["name"]), "unit": m["unit"]}
        for k, v in res["split"].items():
            print(f"self time {k}: {v:.4f} s")
        for k, v in res["counts"].items():
            exact = len(set(v)) <= 1
            print(f"count {k}: {v} {'repeats exactly' if exact else 'JITTERS: no exact-count claim'}")
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copy(f"{work}/trace.json", f"{trace_dir}/{a.workload}-seed{a.seed}.json")
        print(f"trace written to {trace_dir}/{a.workload}-seed{a.seed}.json")
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
