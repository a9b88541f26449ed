#!/usr/bin/env python3
"""Alert-stream benchmark runner.

Usage (from the root of a checkout):
  python3 alertbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark JVM (the product's main sources plus alertbench/src)
with sbt when the sources changed since the last build, runs one workload
in a fresh JVM on local[4], checks its outputs, and prints a summary line
followed by one JSON result line: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. Everything it writes stays under .bench_build/ in the
checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "alertbench")
PRODUCT_SRC = os.path.join(ROOT, "src", "main", "scala")
CATALOG_SF = "/root/testdata/sf0.1"
WORKLOADS = ("etl", "alert_windows", "catalog_sf0.1")
CORES = max(1, min(4, os.cpu_count() or 1))
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[alertbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [PRODUCT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    if not os.path.isdir(os.path.join(PRODUCT_SRC, "graft")):
        raise SystemExit(f"alertbench: product sources not found under {PRODUCT_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file, stamp_file = source_stamp(), os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "alertbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"alertbench: build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, cores, work):
    """One workload in a fresh JVM; returns its parsed result line."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xms3g", "-Xmx3g", *opens,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "alertbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores), "--work", work, "--sf", CATALOG_SF]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS")}
    env["SPARK_GRAFT_CPUS"] = str(cores)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"alertbench: {workload} JVM exceeded {JVM_TIMEOUT_S} s")
        finally:  # also on SIGTERM/SIGINT: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"alertbench: {workload} JVM failed (exit {p.returncode})")
    return json.loads(lines[-1])


def _stop(signum, _frame):
    raise SystemExit(f"alertbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    work = os.path.join(BUILD, "runs", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, CORES, work)
        if args.workload == "catalog_sf0.1":
            import oracle
            for p in oracle.check(CATALOG_SF, os.path.join(work, "dump")):
                res["failed"] += 1
                res["problems"].append(p)
        if args.trace == 1 and args.workload == "etl":
            one = run_jvm(cp, "etl", args.seed, args.seconds, 0, 1, work + "-1core")
            if "records_per_s" in one["metrics"]:
                res["metrics"]["scaling.records_per_s_1core"] = one["metrics"]["records_per_s"]
            res["problems"] += one["problems"]
            res["failed"] += one["failed"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-1core", ignore_errors=True)

    log(f"info {json.dumps(res.get('info', {}))}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and args.trace:
            got = {"value": 0, "unit": m["unit"]}  # layer not exercised by this workload
        if got is None:
            res["problems"].append(f"metric {m['name']} not measured")
            res["failed"] += 1
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = not res["problems"]
    error_ratio = res["failed"] / max(1, res["attempted"])
    if args.trace:
        metrics["error_ratio"]["value"] = error_ratio
    summary = "  ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {summary}  "
          f"error_ratio={error_ratio:.6g}  verdict={'correct' if correct else 'INCORRECT'}")
    for p in res["problems"][:20]:
        print(f"  problem: {p}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
