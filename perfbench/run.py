#!/usr/bin/env python3
"""One benchmark run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source when needed (build.py), forks one JVM
that runs the workload's queries in seed order on a SparkSession set up
like graft.Bench (PerfBench.scala), checks every query's output against
its DuckDB oracle (check.py), and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics. Each run leaves its record under
.bench_build/perfbench/runs/<workload>_s<seed>_t<trace>/: the JVM's
record of every execution, result.json with all metrics and the
per-pass host context, and, traced, trace.json with the spans and their
self times.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 150
HEAP = "3g"
MB = 1e6


class BenchError(Exception):
    pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def declared(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def registry(root: str) -> dict:
    """Query names and oracle SQL from the compiled registry, cached next
    to the classes they came from."""
    path = os.path.join(root, build.CLASSES, "registry.json")
    if not os.path.exists(path):
        r = subprocess.run([build.java(), build.NO_PERF_DATA, "-cp", build.classpath(root), "perfbench.Main",
                            "--registry", path + ".tmp"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=120)
        if r.returncode != 0:
            raise BenchError("registry dump failed:\n" + r.stdout[-3000:])
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def jvm(root: str, run_dir: str, plan: dict) -> tuple:
    """Runs the plan in a fresh JVM; returns (launch epoch s, record)."""
    plan_path = os.path.join(run_dir, "plan.txt")
    with open(plan_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in plan.items())
    record = os.path.join(run_dir, "record.json")
    log4j = os.path.join(root, "perfbench", "log4j2.properties")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # every file the JVM writes stays inside the run directory
    cmd = ([build.java(), build.NO_PERF_DATA, f"-Xmx{HEAP}", f"-Dlog4j2.configurationFile={log4j}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
           + [a for p in build.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(root), "perfbench.Main", plan_path, record])
    log_path = os.path.join(run_dir, "jvm.log")
    t_launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"the JVM did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(record):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"the JVM exited with {rc}:\n{tail}")
    with open(record) as f:
        return t_launch, json.load(f)


def per_query_medians(execs: list, key) -> dict:
    out = {}
    for e in execs:
        out.setdefault(e["q"], []).append(key(e))
    return {q: median(v) for q, v in out.items()}


def summed(execs: list, key) -> float:
    """Sum over queries of each query's median timed value: one pass."""
    return sum(per_query_medians(execs, key).values())


def end_to_end(t_launch: float, rec: dict, timed: list, untimed: list) -> dict:
    cold = [e for e in untimed if e["kind"] == "cold"]
    return {
        "wall_s": summed(timed, lambda e: e["wall_s"]),
        # the JIT's compiler threads are left out: what they still do in a
        # timed execution is the rest of the warm-up, and how much is left
        # depends on how long the host starved them, not on the program
        "cpu_s": summed(timed, lambda e: e["cpu_s"] - e["jit_s"]),
        "cold_s": sum(e["wall_s"] for e in cold),
        "setup_s": rec["ready_ms"] / 1e3 - t_launch + sum(e["wall_s"] for e in untimed),
        "jobs": summed(timed, lambda e: e["jobs"]),
        "shuffle_mb": summed(timed, lambda e: e["shuffle_write_b"]) / MB,
    }


def per_layer(timed: list, attempted: int, failed: int) -> dict:
    s = lambda key: summed(timed, key)  # noqa: E731
    m = {
        "build_s": s(lambda e: e["build_s"]),
        "exec_s": s(lambda e: e["exec_s"]),
        "plan.analysis_s": s(lambda e: e["analysis_s"]),
        "plan.optimization_s": s(lambda e: e["optimization_s"]),
        "plan.planning_s": s(lambda e: e["planning_s"]),
        "codegen.compiles": s(lambda e: e["compiles"]),
        "codegen.compile_s": s(lambda e: e["compile_s"]),
        "jvm.jit_s": s(lambda e: e["jit_s"]),
        "jvm.gc_s": s(lambda e: e["gc_s"]),
        "driver.cpu_s": s(lambda e: e["driver_cpu_s"]),
        "driver.gap_s": s(lambda e: e["gap_s"]),
        "stages": s(lambda e: e["stages"]),
        "tasks": s(lambda e: e["tasks"]),
        "sched.delay_s": s(lambda e: e["sched_delay_s"]),
        "task.run_s": s(lambda e: e["task_run_s"]),
        "task.cpu_s": s(lambda e: e["task_cpu_s"]),
        "task.gc_s": s(lambda e: e["task_gc_s"]),
        "shuffle.read_mb": s(lambda e: e["shuffle_read_b"]) / MB,
        "shuffle.fetch_wait_s": s(lambda e: e["fetch_wait_s"]),
        "spill_mb": s(lambda e: e["spill_b"]) / MB,
        "materialized_mb": s(lambda e: e["block_b"]) / MB,
        "materialize.jobs": s(lambda e: e["mat_jobs"]),
        "materialize.blocks": s(lambda e: e["blocks"]),
        "broadcast.count": s(lambda e: e["broadcasts"]),
        "broadcast.mb": s(lambda e: e["broadcast_b"]) / MB,
        "scan.mb": s(lambda e: e["scan_b"]) / MB,
        "scan.rows": s(lambda e: e["scan_rows"]),
        "host.steal_s": s(lambda e: e["steal_s"]),
        "host.load1": median([e["load1"] for e in timed]),
        "error_rate": failed / attempted,
        "trace.wall_s": s(lambda e: e["wall_s"]),
        "trace.cpu_s": s(lambda e: e["cpu_s"] - e["jit_s"]),
        "sink.jobs": s(lambda e: e["sink_jobs"]),
        "sink.task_s": s(lambda e: e["sink_task_s"]),
    }
    for mod in workloads.MODULES:
        m[f"{mod}.jobs"] = s(lambda e: e["module_jobs"].get(mod, 0))
        m[f"{mod}.task_s"] = s(lambda e: e["module_task_s"].get(mod, 0.0))
    return m


def passes(timed: list) -> list:
    """Per timed pass: its wall and CPU, the steal seconds during it and
    the 1-min load at its end, so a noisy run explains itself."""
    by = {}
    for e in timed:
        by.setdefault(e["pass"], []).append(e)
    return [{"pass": p, "wall_s": sum(e["wall_s"] for e in es), "cpu_s": sum(e["cpu_s"] for e in es),
             "steal_s": sum(e["steal_s"] for e in es), "load1": es[-1]["load1"]}
            for p, es in sorted(by.items())]


def self_times(spans: list) -> list:
    """Each span with its self time: its duration minus the part of it
    its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered, end = 0.0, float("-inf")
        for a, b in sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                           for c in kids.get(s["id"], [])):
            if b > end:
                covered += b - max(a, end)
                end = b
        s["self_ms"] = s["end_ms"] - s["start_ms"] - covered
    return spans


def count_failed(execs: list, checks: dict) -> int:
    """One failure per execution: one that threw, or a check execution
    whose output does not match. A check whose own execution threw has
    nothing to compare and is already counted."""
    checked = {e["q"] for e in execs if e["kind"] == "check" and e["ok"] is True}
    return (sum(e["ok"] is not True for e in execs)
            + sum(v != "ok" for q, v in checks.items() if q in checked))


def check_outputs(root: str, data: str, run_dir: str, queries: list, oracles: dict) -> dict:
    con = check.connect(data)
    cache = os.path.join(root, build.OUT, "oracle")
    out = {}
    for q in queries:
        if q not in oracles:
            out[q] = "no oracle"
            continue
        try:
            got = check.result_digest(con, os.path.join(run_dir, "check", q))
            want = check.oracle_digest(con, data, oracles[q], cache)
            out[q] = "ok" if got == want else f"mismatch: got {got}, oracle {want}"
        except Exception as e:  # a missing or unreadable result is a failed check
            out[q] = f"error: {e}"
    return out


def run(args) -> dict:
    root = os.getcwd()
    spec = declared(root)
    workloads.validate(metric_names=[m["name"] for m in spec["end_to_end"] + spec["per_layer"]])
    if args.workload not in workloads.WORKLOADS:
        raise BenchError(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    data = workloads.data_dir()
    if not os.path.isdir(data):
        raise BenchError(f"no data directory {data} (set PERFBENCH_DATA)")
    build_s = build.ensure(root)
    reg = registry(root)
    workloads.validate(registry=set(reg["queries"]))
    w = workloads.WORKLOADS[args.workload]
    queries = workloads.order(args.workload, args.seed)

    run_dir = os.path.join(root, build.OUT, "runs", f"{args.workload}_s{args.seed}_t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_start = time.time()
    t_launch, rec = jvm(root, run_dir, {
        "data": data, "cpus": os.cpu_count(), "trace": args.trace, "warmups": w["warmups"],
        "seconds": args.seconds, "min_timed": w["min_timed"],
        "check_dir": os.path.join(run_dir, "check"), "queries": ",".join(queries)})

    execs = rec["execs"]
    # a failed execution counts against `failed`, and its time against nothing
    timed = [e for e in execs if e["kind"] == "timed" and e["ok"] is True]
    untimed = [e for e in execs if e["kind"] in ("cold", "warm")]
    t_exit = time.time()
    checks = check_outputs(root, data, run_dir, queries, reg["oracles"])
    for d in ("tmp", "check"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    failed = count_failed(execs, checks)
    attempted = len(execs)
    metrics = end_to_end(t_launch, rec, timed, untimed)
    if args.trace:
        metrics.update(per_layer(timed, attempted, failed))
    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "data": data, "order": queries, "build_s": build_s,
        "timeline_s": {"launch_to_ready": rec["ready_ms"] / 1e3 - t_launch,
                       "record_to_exit": t_exit - rec["end_ms"] / 1e3,
                       "check": time.time() - t_exit, "total": time.time() - t_start},
        "checks": checks, "attempted": attempted, "failed": failed, "metrics": metrics,
        "per_query": {q: {"wall_s": v, "jobs": per_query_medians(timed, lambda e: e["jobs"])[q]}
                      for q, v in per_query_medians(timed, lambda e: e["wall_s"]).items()},
        "passes": passes(timed),
    }
    if args.trace:
        scale = os.path.basename(os.path.normpath(data))
        jobs = {q: v["jobs"] for q, v in result["per_query"].items()}
        for q, n, want in workloads.job_drift(jobs, scale):
            print(f"perfbench: {q} ran {n} jobs per execution; {want} expected at {scale}",
                  file=sys.stderr)
        plain = os.path.join(root, build.OUT, "runs", f"{args.workload}_s{args.seed}_t0", "result.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)
            if base["order"] == queries and base["data"] == data:
                result["trace_overhead"] = {k: metrics[k] / base["metrics"][k] - 1
                                            for k in ("wall_s", "cpu_s")}
                print("perfbench: tracing overhead vs the plain run of this seed: "
                      + ", ".join(f"{k} {v:+.1%}" for k, v in result["trace_overhead"].items()),
                      file=sys.stderr)
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": self_times(rec["spans"])}, f)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    for q, v in checks.items():
        if v != "ok":
            print(f"perfbench: output check {q}: {v}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise BenchError(f"declared metrics the run does not compute: {missing}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (the `finally` in jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run(args)
    except (BenchError, build.BuildError, workloads.WorkloadError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
