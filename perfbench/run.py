#!/usr/bin/env python3
"""Warehouse benchmark: one command, one workload, one result line.

    python3 perfbench/run.py --workload etl|query --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark
from source (the sbt project in perfbench/, on first use or when a source
changed), generates the workload's inputs from the seed, runs the
workload in one JVM on local[nproc], checks the outputs and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (the spans go to .bench_out/). The
exit code is 0 only when every output check passed. Everything a run
writes stays inside the checkout: .bench_work/ (wiped before and after
each run) and .bench_out/ (logs and traces). See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CHECK_PY = os.path.join(ROOT, "tools", "check.py")

SF = 0.01            # input scale for both workloads
ETL_BATCHES = 8      # batches generated; the timed loop loads a prefix
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 170  # the whole JVM side of one run
BUILD_TIMEOUT_S = 840
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads: engine and benchmark sources
    and the benchmark's build definition."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp_file = os.path.join(target, "perfbench-sources.sha256")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve offline from the user's repositories file, like the root build
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
        env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (rc {rc}), see .bench_out/build.log", 3)
    with open(stamp_file, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip()


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, args, log_path, env_extra):
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={WORK}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main"] + args)
    env = dict(os.environ, **env_extra)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the workload did not finish within {RUN_TIMEOUT_S} s, "
                f"see {os.path.relpath(log_path, ROOT)}", 4)


def oracle_check(sf_dir, verify_dir):
    """tools/check.py over the dumped results: {query: ok}."""
    p = subprocess.run([sys.executable, CHECK_PY, sf_dir, verify_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(OK|FAIL)\s+(\S+?):?(\s|$)", line)
        if m:
            verdict[m.group(2)] = m.group(1) == "OK"
    return verdict, p.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isdir(ENGINE_SRC) and os.path.isfile(CHECK_PY)):
        die("run from the root of a checkout holding the engine sources "
            "(src/main/scala/graft) and tools/check.py")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        t0_ms = time.time() * 1000
        data = os.path.join(WORK, "data")
        if a.workload == "etl":
            gen.write_etl(data, a.seed, SF, ETL_BATCHES)
        else:
            gen.write_all(data, a.seed, SF)
        result_path = os.path.join(WORK, "result.json")
        rc = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", WORK,
            "--out", result_path, "--cpus", str(cpus()), "--t0-ms", repr(t0_ms)],
            os.path.join(OUT, f"{tag}.log"),
            {"SPARK_GRAFT_CACHE_DIR": os.path.join(WORK, "whcache")})
        if rc != 0 or not os.path.exists(result_path):
            die(f"the workload JVM failed (rc {rc}), see .bench_out/{tag}.log", 4)
        with open(result_path) as f:
            r = json.load(f)

        # oracle checks on the results the JVM dumped
        verify_dir = os.path.join(WORK, "verify")
        if a.workload == "etl":
            sf_dir = os.path.join(WORK, "loaded")
            gen.write_loaded(data, sf_dir, int(r["info"]["batches_loaded"]))
        else:
            sf_dir = data
        verdict, check_out = oracle_check(sf_dir, verify_dir)
        with open(os.path.join(OUT, f"{tag}.check.txt"), "w") as f:
            f.write(check_out)
        checks = dict(r["checks"])
        for name in r["verify"]:
            checks[f"oracle_{name}"] = verdict.get(name, False)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    ops = [d for _, d in r["ops"]]
    attempted = r["attempted"] + len(checks)
    failed = r["failed_ops"] + sum(1 for ok in checks.values() if not ok)
    if a.trace:
        values = r["per_layer"]
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": r["setup_s"],
            "op_p50_s": statistics.median(ops) if ops else None,
            "ops_per_s": len(ops) / r["loop_s"] if r["loop_s"] else None,
        }
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "samples": len(ops), "loop_s": r["loop_s"], "ops": r["ops"], "info": r["info"],
              "checks": checks, "notes": r["notes"], "metrics": metrics}
    if a.trace:
        report["spans"] = r["spans"]
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for name, note in r["notes"].items():
        print(f"perfbench: {name}: {note}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
