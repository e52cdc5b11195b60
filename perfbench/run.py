"""Benchmark entry point (see ``BENCHMARK.json`` at the repository root).

Run one workload:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 8 --trace 0

Each run starts a fresh worker process (``worker.py``) on
``get_session()`` with ``SPARK_GRAFT_CPUS`` set to the usable CPU count,
kills its whole process group when it ends, and prints one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The run's full figures go to ``.perfbench/results``.

Compare two sets of results (directories of result files):

    python3 perfbench/run.py --diff A_DIR B_DIR

On a shared host the speed drifts between runs, so make A and B runs
alternate rather than running one set after the other.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
OUT_DIR = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 165


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the two nearest ranks: with
    few samples a nearest-rank percentile is just the maximum."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def end_to_end(result: dict) -> tuple[dict[str, float], dict]:
    """End-to-end metrics of a run from its untraced passes."""
    passes = [p for p in result["passes"] if not p["traced"]]
    latencies = [q["build_s"] + q["action_s"] for p in passes for q in p["queries"] if q["ok"]]
    metrics = {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "query_p50_s": statistics.median(latencies) if latencies else float("nan"),
        "query_p90_s": p90(latencies) if latencies else float("nan"),
        "jobs_per_pass": statistics.median(sum(q.get("jobs", 0) for q in p["queries"])
                                           for p in passes),
    }
    notes = {"passes": len(passes), "latency_samples": len(latencies)}
    return metrics, notes


def tracing_overhead_s(result: dict) -> float:
    def med(traced):
        return statistics.median(p["pass_s"] for p in result["passes"] if p["traced"] == traced)
    return med(True) - med(False)


def spawn_worker(args, env: dict, log_path: str, out_path: str, spans_path: str) -> int | None:
    """Run the worker in its own process group; always kill the group
    and wait for it, so no JVM or Python worker outlives the run."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--started", repr(time.time()), "--out", out_path]
    if args.trace:
        cmd += ["--spans", spans_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            stop_group(proc.pid)
            proc.wait()


def group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running (zombies left
    to a non-reaping init do not count)."""
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int, grace_s: float = 5.0) -> None:
    """SIGTERM the process group, then SIGKILL whatever is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline and group_alive(pgid):
            time.sleep(0.05)


def worker_env(tmp_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp_dir, "spark")
    env["TMPDIR"] = tmp_dir
    env["PYSPARK_PYTHON"] = sys.executable
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_dir}"
    return env


def run(args) -> int:
    # a terminated run still unwinds, so the worker's group gets killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(BENCHMARK_JSON):
        print("BENCHMARK.json not found next to perfbench/", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    results_dir = args.results or os.path.join(OUT_DIR, "results")
    logs_dir = os.path.join(OUT_DIR, "logs")
    tmp_dir = os.path.join(OUT_DIR, "tmp", tag)
    for d in (results_dir, logs_dir, os.path.join(tmp_dir, "spark")):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(logs_dir, tag + ".log")
    raw_path = os.path.join(tmp_dir, "raw.json")
    spans_path = os.path.join(OUT_DIR, "spans-" + tag + ".jsonl")
    try:
        rc = spawn_worker(args, worker_env(tmp_dir), log_path, raw_path, spans_path)
        if rc != 0 or not os.path.exists(raw_path):
            reason = "timed out" if rc is None else f"exited with {rc}"
            with open(log_path, errors="replace") as fh:
                tail = fh.read()[-4000:]
            print(f"worker {reason}; log {log_path}:\n{tail}", file=sys.stderr)
            return 1
        with open(raw_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)

    executions = [q for p in result["passes"] for q in p["queries"]]
    failed = sum(not q["ok"] for q in executions)
    e2e, notes = end_to_end(result)
    if args.trace:
        metrics = dict(result["per_layer_setup"], **result["per_layer"])
        notes["tracing_overhead_s"] = tracing_overhead_s(result)
    else:
        metrics = e2e
    units = metric_units()
    result.update(metrics=metrics, end_to_end=e2e, notes=notes,
                  failed=failed, attempted=len(executions))
    with open(os.path.join(results_dir, tag + f"-{int(time.time())}.json"), "w") as fh:
        json.dump(result, fh)
    for q in executions:
        if not q["ok"]:
            print(f"FAILED {q['query']}: {q.get('error')}", file=sys.stderr)
    print(f"# {args.workload}: {notes}, failed_frac={failed / len(executions):.4f} "
          f"({failed}/{len(executions)}), set-up failures={result['setup_failures']}",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not result["setup_failures"],
        "attempted": len(executions),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def metric_units() -> dict[str, str]:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def load_set(path: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        by_workload.setdefault(r["workload"], []).append(r)
    return by_workload


def verdict(a: list[float], b: list[float], bound: float, lower_better: bool) -> str:
    """better / same / worse / unresolved for B against A: worse past the
    bound; better when B beats A by more than A's own spread and wins at
    least nine tenths of the cross pairs; unresolved when either side
    spreads wider than the bound, unless every run of one side is
    better than every run of the other."""
    sign = 1.0 if lower_better else -1.0
    qa, qb = quartiles(a), quartiles(b)
    spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
    change = sign * (qb[1] - qa[1]) / qa[1]
    if spread > bound:
        if sign * max(b) < sign * min(a):
            return "better"
        if sign * min(b) > sign * max(a):
            return "worse"
        return "unresolved"
    if change > bound:
        return "worse"
    wins = sum(sign * y < sign * x for x in a for y in b) / (len(a) * len(b))
    if sign * (qa[1] - qb[1]) > qa[2] - qa[0] and wins >= 0.9:
        return "better"
    return "same"


def diff(path_a: str, path_b: str) -> int:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    set_a, set_b = load_set(path_a), load_set(path_b)
    header = (f"{'workload':<11} {'metric':<14} {'A median [q1, q3] (n)':<34} "
              f"{'B median [q1, q3] (n)':<34} {'B/A':>7} {'bound':>6}  verdict")
    print(header)
    for workload in WORKLOADS:
        runs_a = [r for r in set_a.get(workload, []) if not r["trace"]]
        runs_b = [r for r in set_b.get(workload, []) if not r["trace"]]
        if not runs_a or not runs_b:
            continue
        for m in spec["end_to_end"]:
            a = [r["end_to_end"][m["name"]] for r in runs_a]
            b = [r["end_to_end"][m["name"]] for r in runs_b]
            qa, qb = quartiles(a), quartiles(b)
            v = verdict(a, b, m["bound"], m["better"] == "lower")
            print(f"{workload:<11} {m['name']:<14} "
                  f"{f'{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] ({len(a)})':<34} "
                  f"{f'{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] ({len(b)})':<34} "
                  f"{qb[1] / qa[1]:>7.3f} {m['bound']:>6}  {v}")
        fa = sum(r["failed"] for r in runs_a), sum(r["attempted"] for r in runs_a)
        fb = sum(r["failed"] for r in runs_b), sum(r["attempted"] for r in runs_b)
        print(f"{workload:<11} {'failed':<14} {f'{fa[0]}/{fa[1]}':<34} {f'{fb[0]}/{fb[1]}':<34}")
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8,
                    help="recorded with the run; the number of timed passes is fixed "
                         "(workloads.TIMED_PASSES) so that it cannot follow the host's speed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", help="directory for the run's result file")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"),
                    help="compare two directories of result files")
    args = ap.parse_args(argv)
    if args.diff:
        return diff(*args.diff)
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
