"""Benchmark of the graft engine: the paper's weekly and daily pipeline jobs
and a fixed slice of the operator suite, timed end to end (untraced) or per
layer (traced). See perfbench/README.md.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from source on first use (perfbench/build.py), prepares
the pipeline's kept state once per build, then runs one JVM for the run and
prints one JSON line as the last line of standard output. Everything it
writes stays under .bench_build/ in the checkout.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = build.ROOT
BUILD = build.BUILD
DATA = os.path.join(HERE, "data", "sf0.001")
QUERIES = os.path.join(HERE, "suite_queries.txt")
WORKLOADS = ("pipeline", "suite")

# The pipeline's sizing: top-N commodities, a one-point GBT grid and the
# feature columns per table the weekly job trains on, chosen so a run fits
# the benchmark's time budget (README.md, "Sizing").
PIPELINE = {
    "commodities": 1,
    "max_depth": 3,
    "step_size": 0.1,
    "max_iter": 3,
    "auc_floor": 0.6,
    "weekly_features": 8,
}
RUN_TIMEOUT_S = 175
PREP_TIMEOUT_S = 700
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 test heap: half of physical memory, clamped to 2..8 GiB."""
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def java(classes, args, cwd, timeout):
    """Runs graftbench.Main in its own working directory under cwd; the
    JVM's output goes to a log file there. Returns (exit code, the log)."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(cwd, 'warehouse')}",
           "-Dspark.driver.bindAddress=127.0.0.1", "-Dspark.driver.host=localhost",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(cwd, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    with open(log_path) as f:
        text = f.read()
    return code, text


def base_args(workload, seed, seconds, trace):
    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "data": DATA, "queries": QUERIES, "nproc": nproc(),
        **PIPELINE,
    }


def prepare(classes, key):
    """The pipeline's kept state (init, the weekly job's narrowed feature
    store, reference weekly and daily jobs), made once per build by this
    build's code."""
    state_key = build.digest(sorted(glob.glob(os.path.join(DATA, "*"))),
                             (key + json.dumps(PIPELINE, sort_keys=True)).encode())
    state = os.path.join(BUILD, f"state-{state_key}")
    if os.path.exists(os.path.join(state, ".ok")):
        return state
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    log("preparing pipeline state (init, reference weekly and daily jobs)")
    args = base_args("pipeline", 0, 0, 0)
    args.update(mode="prep", state=state)
    work = os.path.join(BUILD, "prep-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    code, text = java(classes, args, work, PREP_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        shutil.rmtree(state, ignore_errors=True)
        raise build.BuildError(f"pipeline preparation failed ({code}):\n{text[-3000:]}")
    log(f"pipeline state ready in {time.time() - t0:.0f} s")
    open(os.path.join(state, ".ok"), "w").close()
    build.prune("state-", keep=state)
    return state


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def overhead(results_dir, workload, key, traced):
    """Traced minus untraced end-to-end time, against the median of the
    untraced runs of this build recorded so far."""
    untraced = []
    for p in glob.glob(os.path.join(results_dir, f"{workload}-*-trace0-*.json")):
        with open(p) as f:
            r = json.load(f)
        if r.get("source_hash") == key:
            untraced.append(r["end_to_end"])
    if not untraced:
        return None
    out = {}
    for k in ("work_s", "setup_s"):
        vals = [r[k] for r in untraced if r.get(k) is not None]
        if vals and traced.get(k) is not None:
            med = statistics.median(vals)
            out[k] = {"traced": traced[k], "untraced_median": med, "untraced_runs": len(vals),
                      "overhead": traced[k] - med}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="check the benchmark's own arithmetic")
    ap.add_argument("--rows", action="store_true", help="print each suite query's row count")
    ap.add_argument("--timings", action="store_true",
                    help="time every query of SparkEntry.queries, cold then warm")
    a = ap.parse_args()
    if not (a.selftest or a.rows or a.timings or a.workload):
        ap.error("--workload is required")

    try:
        classes, key = build.build()
        if a.selftest or a.rows or a.timings:
            mode = "selftest" if a.selftest else "rows" if a.rows else "timings"
            work = os.path.join(BUILD, mode)
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            args = base_args("suite", a.seed, a.seconds, 0)
            args["mode"] = mode
            code, text = java(classes, args, work, 1200)
            print("\n".join(l for l in text.splitlines()
                            if l.startswith(("selftest", "ROWS", "TIME", "Exception", "java.lang"))))
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(0 if code == 0 else 1)
        state = prepare(classes, key)
    except build.BuildError as e:
        log(str(e))
        sys.exit(2)

    s = spec()
    runs = os.path.join(BUILD, "runs")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    cwd = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(cwd, ignore_errors=True)
    os.makedirs(cwd)
    out = os.path.join(cwd, "result.json")
    args = base_args(a.workload, a.seed, a.seconds, a.trace)
    args.update(mode="run", state=state, out=out)
    t0 = time.time()
    code, text = java(classes, args, cwd, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        log(f"run failed ({code}):\n{text[-3000:]}")
        shutil.rmtree(cwd, ignore_errors=True)
        sys.exit(1)
    with open(out) as f:
        r = json.load(f)
    shutil.rmtree(cwd, ignore_errors=True)

    declared = s["per_layer"] if a.trace else s["end_to_end"]
    values = r["per_layer"] if a.trace else r["end_to_end"]
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    finite = all(isinstance(x["value"], (int, float)) for x in metrics.values())
    for f in r["failures"]:
        log(f"failed: {f}")

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc(), "heap": heap(), "scale_factor": 0.001, "data": os.path.relpath(DATA, ROOT),
        "pipeline": PIPELINE, "git_commit": git_commit(),
        "source_hash": key, "wall_s": time.time() - t0, **r,
    }
    if a.trace:
        record["tracing_overhead"] = overhead(results, a.workload, key, r["end_to_end"])
        log(f"tracing overhead: {json.dumps(record['tracing_overhead'])}")
    sidecar = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(sidecar, "w") as f:
        json.dump(record, f)
    log(f"record: {os.path.relpath(sidecar, ROOT)}")
    print(json.dumps({
        "correct": r["failed"] == 0 and finite,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
