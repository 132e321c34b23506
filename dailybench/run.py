"""Daily-run benchmark of the fest-vibes Spark ETL.

    python3 dailybench/run.py --workload daily_steady --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the program from source (see
build.py), runs one workload in one JVM (Spark local[4], one client) and
prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and a span
file is written under .bench_build/trace/. Human-readable tables, the
error rate among them, go to stderr. Exits non-zero, printing no result,
when the build, the run or its output fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("daily_steady", "backfill_embed")
# stop a hung JVM before the caller's own limit
TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these opened
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    def stop(signum, _frame):
        # SIGKILL ends them at once; waiting here could deadlock with the
        # wait the signal interrupted
        for p in build.RUNNING:
            os.killpg(p.pid, signal.SIGKILL)
        raise SystemExit(f"dailybench: stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    cp = build.build()
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "dailybench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(build.OUT, "work")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    build.RUNNING.append(proc)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"dailybench: {a.workload} did not finish within {TIMEOUT_S} s")
    build.RUNNING.remove(proc)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"dailybench: run failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("dailybench: malformed result line")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
