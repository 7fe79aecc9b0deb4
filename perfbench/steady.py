"""Steadiness check: runs the benchmark in two sets of runs of the same code,
each run with its own seed, and prints for every end-to-end metric each
set's median and quartiles, its spread (interquartile range over median),
and whether the sets agree within the metric's bound in BENCHMARK.json:
every set's spread within the bound, and every set's median within the
bound of the first set's median, in either direction.

    python3 perfbench/steady.py --runs 10            # every workload
    python3 perfbench/steady.py --workload suite --runs 5 --sets 1

Exits 1 when a set disagrees or a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    seed = a.first_seed
    for w in workloads:
        sets = []
        for _ in range(a.sets):
            runs = []
            for _ in range(a.runs):
                r = one_run(spec, w, seed)
                seed += 1
                if r is None or not r["correct"]:
                    print(f"{w}: run with seed {seed - 1} failed: {r}")
                    ok = False
                    continue
                runs.append(r)
            sets.append(runs)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [summary([r["metrics"][name]["value"] for r in runs])
                     for runs in sets if len(runs) >= 2]
            row = "  ".join(f"set{i + 1}: median {s['median']:.4g} q1 {s['q1']:.4g} "
                            f"q3 {s['q3']:.4g} spread {s['spread']:.3f}" for i, s in enumerate(stats))
            steady = all(s["spread"] <= bound for s in stats)
            agree = all(abs(s["median"] / stats[0]["median"] - 1) <= bound for s in stats[1:])
            verdict = "ok" if steady and agree else "DISAGREE"
            ok &= steady and agree
            print(f"{w:9s} {name:12s} bound {bound:.2f}  {row}  [{verdict}]")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
