#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload coach_live --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the benchmark program
(perfbench/, with graft's sources under src/main/scala) with sbt; later
runs reuse the build while no source changed. Each run starts one JVM,
runs the workload, checks its outputs, and prints as its last stdout
line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1. The line before it is the full report (every named figure
with unit, percentile and sample count, host and JVM facts).

Extra options for the benchmark's own tests: --size smoke (tiny inputs),
--corrupt 1 (a deliberately wrong expectation: the run must fail).
Exit status: 0 when every check passed, 1 when a check failed, 2 when
the benchmark could not run at all.
"""
import argparse
import fcntl
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("coach_live", "curate_kb")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath and
    the digest of the sources it was built from."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(BUILD, "stamp")
        cp_file = os.path.join(HERE, "target", "classpath.txt")
        digest = source_digest()
        fresh = (os.path.exists(stamp) and os.path.exists(cp_file)
                 and open(stamp).read() == digest)
        if not fresh:
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            env.setdefault("SPARK_HOME", spark_home())
            log = os.path.join(BUILD, "build.log")
            with open(log, "w") as out:
                rc = subprocess.call(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                     "compile", "writeClasspath"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=840)
            if rc != 0:
                die(f"build failed (see {os.path.relpath(log, ROOT)})")
            with open(stamp, "w") as f:
                f.write(digest)
        return open(cp_file).read().strip(), digest


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    submit = shutil.which("spark-submit")
    if not submit:
        die("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def host_facts():
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((l.split(":", 1)[1].strip() for l in f
                          if l.startswith("model name")), "")
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "cpu_model": model or platform.processor(),
            "jvm_flags": JVM_FLAGS}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="Spark local[N] threads (default: all cores)")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("run from the repository root (BENCHMARK.json not found)")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in this directory")
    spec = json.load(open(spec_path))
    classpath, sources = build()

    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "work"))
    out_file = os.path.join(run_dir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] \
        + JVM_FLAGS + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
                       "graftbench.Main", "--workload", a.workload,
                       "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--size", a.size,
                       "--corrupt", str(a.corrupt), "--work", f"{run_dir}/work",
                       "--out", out_file]
    if a.cpus:
        cmd += ["--cpus", str(a.cpus)]
    load_before = os.getloadavg()[0]
    t_launch = time.time()
    log_path = os.path.join(BUILD, f"{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        deadline = t_launch + RUN_TIMEOUT_S
        status = None
        while status is None:
            pid, st, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                status = st
                break
            if time.time() > deadline:
                proc.kill()
                os.wait4(proc.pid, 0)
                shutil.rmtree(run_dir, ignore_errors=True)
                print(f"perfbench: {a.workload} timed out", file=sys.stderr)
                sys.exit(1)
            time.sleep(0.05)
    load_after = os.getloadavg()[0]
    if not os.WIFEXITED(status) or os.WEXITSTATUS(status) != 0 \
            or not os.path.exists(out_file):
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: {a.workload} crashed; see "
              f"{os.path.relpath(log_path, ROOT)}", file=sys.stderr)
        sys.exit(1)
    res = json.load(open(out_file))
    shutil.rmtree(run_dir, ignore_errors=True)

    errors = list(res["errors"])
    failed = int(res["failed"])
    # the split digest must not change between runs of one seed on the
    # same sources
    digest = res["report"].get("split_digest")
    if digest:
        book_path = os.path.join(BUILD, "digests.json")
        book = json.load(open(book_path)) if os.path.exists(book_path) else {}
        key = f"{sources[:16]}/{a.workload}/{a.size}/{a.seed}"
        if book.get(key, digest) != digest:
            failed += 1
            errors.append(f"split digest {digest} differs from an earlier run's {book[key]}")
        book[key] = digest
        json.dump(book, open(book_path, "w"))

    values = dict(res["e2e"])
    values["setup_s"] = res["first_op_epoch_ms"] / 1000.0 - t_launch
    layers = dict(res["layers"])
    layers["jvm.peak_rss_mb"] = usage.ru_maxrss / 1024.0
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else values
    idle = [m["name"] for m in wanted if m["name"] not in source]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    attempted = max(1, int(res["attempted"]))
    report = dict(res["report"])
    report.update(host_facts())
    report.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "size": a.size, "spark_cores": res["cpus"],
        "error_rate": failed / attempted, "errors": errors[:20],
        "setup_s": values["setup_s"], "peak_rss_mb": layers["jvm.peak_rss_mb"],
        "host.load1_before": load_before, "host.load1_after": load_after,
        "layers_idle_on_this_workload": idle,
    })
    report["layers"] = layers
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
