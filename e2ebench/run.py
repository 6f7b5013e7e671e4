#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (build.py),
then starts one JVM for the run. The line before the result is the run's
environment receipt (source digest, seed, cores, CPU and I/O pressure
deltas, and the share of CPU time stolen by the hypervisor); with --trace 1 the span tree is written to
.bench_build/e2ebench/out/trace-<workload>.json. Exits non-zero, without
a result, when the build or the run fails; exits 1 after printing the
result when a correctness check failed.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["quant-backfill", "curation"]
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def pressure():
    """Cumulative stall microseconds from /proc/pressure (absent -> {})."""
    out = {}
    for res in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                for line in f:
                    kind, *fields = line.split()
                    total = dict(x.split("=") for x in fields)["total"]
                    out[f"{res}_{kind}_us"] = int(total)
        except OSError:
            pass
    return out


def steal_jiffies():
    """Cumulative steal time of all CPUs from /proc/stat (absent -> 0)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    classpath = build.ensure_built()
    nproc = os.cpu_count() or 1
    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graft.e2ebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work,
            "--out", os.path.join(build.OUT, "out")]
    log = os.path.join(build.OUT, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    psi0, steal0, t0 = pressure(), steal_jiffies(), time.time()
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=RUN_TIMEOUT_S, cwd=build.ROOT)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"e2ebench: run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    wall, psi1, steal1 = time.time() - t0, pressure(), steal_jiffies()
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        threads = json.loads(lines[-2])["spark_local_threads"]
    except (IndexError, ValueError, KeyError, AssertionError):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"e2ebench: no result (exit {r.returncode}, log: {log})")
    steal = steal1 - steal0
    receipt = {
        "source_digest": build.digest(build.sources()), "workload": a.workload,
        "seed": a.seed, "trace": int(a.trace), "nproc": nproc,
        "spark_local_threads": threads, "host": platform.node(),
        "jvm_wall_s": round(wall, 3),
        "pressure_delta_us": {k: psi1[k] - psi0[k] for k in psi0 if k in psi1},
        "steal_delta_jiffies": steal,
        "steal_share": round(steal / (wall * nproc * os.sysconf("SC_CLK_TCK")), 4),
    }
    print(json.dumps({"receipt": receipt}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and result["failed"] == 0 and r.returncode == 0 else 1)


if __name__ == "__main__":
    main()
