#!/usr/bin/env python3
"""Steady end-to-end benchmark of graft's YAML ETL jobs.

Usage, from the root of a checkout:

    python3 etlbench/run.py --workload cdc_lakehouse --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source on first use (scalac from
the Spark distribution, classes under .bench_build/etlbench), runs one
workload in one JVM with a fixed heap, checks the outputs, and prints one
JSON object as the last line of stdout: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. The full run record (cycle times,
determinism counters, input sizes, noise hygiene) is written to
.bench_results/last/ and, with --save PATH, to PATH as well.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "etlbench")
BUILD = os.path.join(ROOT, ".bench_build", "etlbench")
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"program sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compile src/main and the benchmark into one class directory, once per
    source state."""
    files = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    digest = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            digest.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    print(f"etlbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def run_jvm(args, classes, jars, work, record_path):
    par = min(4, os.cpu_count() or 1)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # C1 only: with C2 the compiler stayed busy through the whole timed
    # section (Spark generates new classes every cycle) and same-code
    # medians moved by a quarter between runs. The heap is touched up
    # front, so resident memory does not depend on which regions G1
    # happened to use by the end of the run.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", record_path,
            "--parallelism", str(par), "--launched-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path) as fh:
            tail = fh.read()[-6000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="also write the full run record here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    jars = spark_jars()
    classes = build(jars)

    # no pid in the name: tables store absolute paths, and a path whose
    # length varied between runs would change stored_bytes_per_row
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record_path = os.path.join(work, "record.json")
        run_jvm(args, classes, jars, work, record_path)
        with open(record_path) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for dest in filter(None, [os.path.join(ROOT, ".bench_results", "last",
                                           f"{args.workload}-s{args.seed}-t{args.trace}.json"),
                              args.save]):
        os.makedirs(os.path.dirname(os.path.abspath(dest)), exist_ok=True)
        with open(dest, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = rec["per_layer"] if args.trace else rec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        fail(f"run produced no value for {missing}")
    h = rec["hygiene"]
    print(f"cycles={rec['cycles']} warmup={rec['warmup_cycles']} timed_s={rec['timed_section_s']:.1f} "
          f"timed_jit_s={rec['timed_jit_s']:.3f} nproc={h['nproc']} par={h['spark_parallelism']} "
          f"heap_mb={h['heap_max_mb']} load={h['loadavg_start']} -> {h['loadavg_end']} "
          f"failed_cycles={rec['failed_cycles']}")
    print(json.dumps({
        "correct": bool(rec["correct"]),
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }))
    sys.exit(0)


if __name__ == "__main__":
    main()
