#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the harness (the library
sources of the checkout plus perfbench/harness) once per source state,
generates the inputs from the seed, runs the workload in one JVM, checks
every output against DuckDB, and prints one JSON object as the last
line of standard output. With --trace 0 the metrics are the end-to-end
ones, with --trace 1 the per-layer ones. The exit code is nonzero when
any output is wrong or anything fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# scale factor of the generated inputs, per workload
SCALE = {"star_pipeline": 0.005, "query_mix": 0.001}
# the star schema's fact is written one partition per order day, so its
# order history is kept to a few weeks; the other workloads keep the full
# seven years the registry queries expect
ORDER_DAYS = {"star_pipeline": 15}
SETUP_REPEATS = 3
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# Two task threads and two GC threads leave the rest of a 4-core host to
# the client thread and the JIT compiler threads, so a run measures the program
# rather than the scheduler sharing too few cores among too many threads.
CORES = 2
JVM_THREADS = ["-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project-target"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources next to the benchmark (src/main/scala)")
    fp = source_fingerprint()
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD_DIR=build_dir)
    # the build resolves nothing from the network: offline, from the local
    # repositories sbt is configured with, as the project's own build runs
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    log("building the harness (first run in this checkout)")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Compile/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-5000:])
        fail("build failed")
    lines = [ln for ln in p.stdout.splitlines() if not ln.startswith("[")
             and os.pathsep in ln and ".jar" in ln]
    if not lines:
        sys.stderr.write(p.stdout[-3000:])
        fail("could not read the classpath from sbt")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def setup_inputs(data_dir, workload, seed):
    """Generate the inputs SETUP_REPEATS times; returns the median time."""
    import gen
    times = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        late = gen.write(data_dir, SCALE[workload], seed,
                         ORDER_DAYS.get(workload, gen.ORDER_DAYS))
        times.append(time.perf_counter() - t0)
    with open(os.path.join(data_dir, "late_days.txt"), "w") as fh:
        fh.write("\n".join(late) + "\n")
    return statistics.median(times)


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    a = ap.parse_args()
    if a.sf:
        SCALE[a.workload] = a.sf

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp = build(build_dir)
    run_dir = os.path.join(build_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("work", "tmp", "spark-local", "results"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    data_dir = os.path.join(run_dir, "data")
    gen_s = setup_inputs(data_dir, a.workload, a.seed)

    cores = max(1, min(CORES, len(os.sched_getaffinity(0))))
    out = os.path.join(run_dir, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=768m"] + JVM_THREADS + [
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/work/warehouse",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            "-Dspark.sql.codegen.cache.maxEntries=4096",
            "-Dspark.ui.enabled=false", "-Dspark.log.level=WARN", "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data_dir, "--work", f"{run_dir}/work",
            "--out", out, "--cores", str(cores), "--spawn-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("workload timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        fail(f"workload exited with {rc}")
    with open(out) as fh:
        res = json.load(fh)

    import oracle
    verdicts = oracle.check(res["checks"], data_dir)
    for name, ok, detail in verdicts:
        log(("OK  " if ok else "FAIL"), name, detail)
    inline = res["inline_checks"]
    for name, ok in inline.items():
        log(("OK  " if ok else "FAIL"), name)
    failed = len(res["failed_ops"]) + sum(not ok for _, ok, _ in verdicts) + \
        sum(not ok for ok in inline.values())
    attempted = res["attempted"] + len(verdicts) + len(inline)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.trace:
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = dict(res["e2e"], setup_s=gen_s + res["extra"]["jvm_setup_s"])
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    host = dict(res["host"], nproc=os.cpu_count(), affinity=len(os.sched_getaffinity(0)),
                git_sha=git_sha(), source_sha=source_fingerprint(), gen_s=gen_s)
    res["host"] = host
    res["oracle"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in verdicts]
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)
    print(json.dumps({"host": host, "extra": res["extra"],
                      "layer_self_s": res.get("layer_self_s", {})}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
