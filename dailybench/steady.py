"""Steadiness self-check of the benchmark: two sets of runs of one build.

    python3 dailybench/steady.py                  # 2 sets x 10 runs per workload
    python3 dailybench/steady.py --runs 5 --sets 1 --workload daily_steady

Run from the root of a checkout. Each run uses its own seed, as repeated
runs of the benchmark do. For every workload and end-to-end metric in
BENCHMARK.json it prints each set's median and spread (distance between
the first and third quartile as a share of the median) and checks that

  * every spread stays within the metric's bound, and
  * the second set's median is not worse than the first's by more than
    the bound.

Every result line is also appended to .bench_build/steady.jsonl. Exits 1
when a run fails, a result is incorrect, or a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

FIRST_SEED = 101


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect result {result}")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    log = os.path.join(".bench_build", "steady.jsonl")
    os.makedirs(".bench_build", exist_ok=True)
    ok = True
    for wi, w in enumerate(workloads):
        sets = []
        for si in range(a.sets):
            values = {m["name"]: [] for m in spec["end_to_end"]}
            for r in range(a.runs):
                seed = FIRST_SEED + 1000 * wi + 100 * si + r
                res = run_once(spec, w, seed)
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": w, "set": si, "seed": seed, "result": res}) + "\n")
                for m in values:
                    values[m].append(res["metrics"][m]["value"])
                print(f"{w} set {si} seed {seed}: " + ", ".join(
                    f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
            sets.append(values)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            line = [f"{w:16s} {name:18s} bound {bound:.2f}"]
            for si, values in enumerate(sets):
                sp = stats.spread(values[name])
                line.append(f"set{si} median {statistics.median(values[name]):10.4f} spread {sp:6.3f}")
                if sp > bound:
                    ok = False
                    line.append("SPREAD > BOUND")
                elif sp > bound / 3:
                    line.append("(spread > bound/3)")
            if len(sets) == 2:
                d = stats.worse_by(statistics.median(sets[0][name]), statistics.median(sets[1][name]),
                                   m["better"])
                line.append(f"second worse by {d:+.3f}")
                if d > bound:
                    ok = False
                    line.append("MEDIANS DISAGREE")
            print("  ".join(line), flush=True)
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
