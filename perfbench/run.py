#!/usr/bin/env python3
"""Cold-per-query benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source with sbt, snapshots the
compiled classes under .bench_build/ by a hash of the sources (sbt's own
target/ dirs hold whatever was compiled last), then starts the harness JVM on
one workload. Every query run is cold: graft.CacheScope.release() ends it.
The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). The line before it stamps the environment. The
command exits 1 if any query run throws or returns a result whose digest
differs from perfbench/digests.json. README.md describes the workloads and
the metrics.

    python3 perfbench/run.py --pin DIR

writes every workload query's result and oracle SQL under DIR (check it
with tools/check_oracle.py DIR <fixture dir>) and prints the digests to pin
into perfbench/digests.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# The fixed sf0.1 fixtures (seed 42, read-only), as graft.Bench reads them.
DATA = os.environ.get("SPARK_GRAFT_SF_DIR",
                      os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
HEAP = "3g"
WORKLOADS = ("olap", "iterative", "etl_write")
# About the warm-pass seconds of each workload on a 4-core box. A run makes
# --seconds / PASS_S timed passes, rounded, so every run of a workload does
# the same work and has the same number of latency samples: at --seconds 10,
# 4 on olap and etl_write, 3 on iterative.
PASS_S = {"olap": 2.5, "iterative": 3.5, "etl_write": 2.5}
JVM_DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The end-to-end metrics BENCHMARK.json bounds, and the ones printed on the
# line before (they can be 0, or rest on too few samples to bound).
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "wall_s": "s",
             "lat_p50_s": "s", "heap_peak_mb": "MB"}
ALSO_UNITS = {"fail_frac": "ratio", "lat_tail_s": "s", "disk_left_mb": "MB"}
PER_LAYER_UNITS = {
    "pass.ms": "ms",
    "build.ms": "ms", "build.self_ms": "ms", "build.jobs": "count",
    "build.stages": "count", "build.tasks": "count", "build.task_run_ms": "ms",
    "plan.ms": "ms", "plan.shuffles": "count", "plan.broadcasts": "count",
    "exec.ms": "ms", "exec.self_ms": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.task_wait_ms": "ms",
    "exec.core_util": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.tasks_failed": "count",
    "cache.release_ms": "ms", "cache.persisted_rdds": "count",
    "cache.storage_peak_bytes": "bytes", "cache.rdds_left": "count",
    "io.bytes_written": "bytes", "io.records_written": "count",
    "io.tmp_bytes_live": "bytes", "io.queries_unwritten": "count",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "calib.start_ms": "ms", "calib.end_ms": "ms",
    "trace.overhead_s": "s",
}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def snapshot(cp, stamp):
    """Copies the class dirs of the checkout on a classpath under
    .bench_build/classes-<stamp>/ and returns the classpath naming the copies.
    sbt compiles every commit into the same target/ dirs, so only the copy
    still holds this source hash's classes after another commit's build."""
    snap = os.path.join(BUILD, f"classes-{stamp}")
    shutil.rmtree(snap, ignore_errors=True)
    entries = []
    for p in cp.split(os.pathsep):
        rel = os.path.relpath(p, ROOT)
        if os.path.isdir(p) and not rel.startswith(".."):
            copy = os.path.join(snap, rel.replace(os.sep, "_"))
            shutil.copytree(p, copy)
            p = copy
        entries.append(p)
    return os.pathsep.join(entries)


def build():
    """Compile engine + harness once per source hash; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/: run from a full checkout")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, stamp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.server.autostart=false", "-Xmx2g"]))
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (rc={rc}); see {log}")
    cp = snapshot(lines[-1], stamp)
    # written last and renamed into place: a cut build leaves no cache entry
    with open(cp_file + ".part", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".part", cp_file)
    return cp, stamp


def git_commit():
    """HEAD of the checkout, or None where it is not a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def jvm_cmd(cp_arg, run_dir, args):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    return ([java if os.path.isfile(java) else "java", f"@{cp_arg}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            # the program's own JVM flags (build.sbt), at a fixed heap; no
            # perf-data file, which the JVM would write outside the run dir
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
               "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dderby.system.home={run_dir}/derby",
               f"-Dperfbench.localDir={run_dir}/local",
               f"-Dperfbench.warehouse={run_dir}/warehouse",
               "perfbench.Harness"] + args)


def launch(cmd, log_path, deadline):
    """Starts the JVM, returns (seconds until PB_READY, exit code)."""
    t0 = time.monotonic()
    ready = None
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, cwd=ROOT)
        try:
            for line in p.stdout:
                if ready is None and line.strip() == b"PB_READY":
                    ready = time.monotonic() - t0
            p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness JVM passed its deadline; see {log_path}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return ready, p.returncode


def du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def pin(out_dir, cp_arg, cores):
    run_dir = os.path.join(BUILD, "runs", "pin")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    cmd = jvm_cmd(cp_arg, run_dir, ["--mode", "pin", "--data", DATA,
                                    "--cores", str(cores),
                                    "--pin-dir", os.path.abspath(out_dir)])
    subprocess.run(cmd, cwd=ROOT, check=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", metavar="DIR")
    a = ap.parse_args()
    if not a.pin and not a.workload:
        ap.error("--workload is required")
    start = time.monotonic()
    cp, src_stamp = build()
    cores = len(os.sched_getaffinity(0))
    cp_arg = os.path.join(BUILD, f"java-cp-{src_stamp}.args")
    with open(cp_arg, "w") as f:
        f.write("-cp " + cp + "\n")
    if a.pin:
        pin(a.pin, cp_arg, cores)
        return
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"fixtures missing at {DATA}")

    name = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", name)
    res_dir = os.path.join(BUILD, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(res_dir, exist_ok=True)
    out = os.path.join(res_dir, f"{name}.json")
    log = os.path.join(res_dir, f"{name}.log")
    deadline = time.monotonic() + JVM_DEADLINE_S
    passes = max(1, round(a.seconds / PASS_S[a.workload]))

    setup_s, rc = launch(jvm_cmd(cp_arg, run_dir, [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--passes", str(passes), "--trace", str(a.trace), "--data", DATA,
        "--digests", os.path.join(HERE, "digests.json"),
        "--cores", str(cores), "--tmp", os.path.join(run_dir, "tmp"),
        "--out", out]), log, deadline)
    if rc != 0 or setup_s is None or not os.path.isfile(out):
        fail(f"harness JVM failed (rc={rc}); see {log}")
    disk_left = du(run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)

    with open(out) as f:
        r = json.load(f)
    attempted, failed = r["attempted"], r["failed"]
    if a.trace:
        vals, units = r["per_layer"], PER_LAYER_UNITS
    else:
        vals, units = dict(r["e2e"], setup_s=setup_s), E2E_UNITS
    metrics = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
    also = dict(r["also"], disk_left_mb=disk_left / 1048576)
    stamp = dict(r["stamp"], commit=git_commit(), source=src_stamp, heap=HEAP,
                 errors=r["errors"], seconds_total=time.monotonic() - start,
                 lat_tail_pct=also.pop("lat_tail_pct"),
                 lat_samples=int(also.pop("lat_samples")))
    print(json.dumps({"stamp": stamp, "also": {
        k: {"value": also[k], "unit": u} for k, u in ALSO_UNITS.items()}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
