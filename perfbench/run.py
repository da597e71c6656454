#!/usr/bin/env python3
"""Benchmark of the diachronic_spark package: one seeded workload per
run, measured for a fixed time by one closed-loop client.

    python3 perfbench/run.py --workload dump_ingest --seed 1 \\
        --seconds 16 --trace 0

Run from the repository root. ``--workload all`` runs every workload in
turn, each in its own process. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics. A line before it holds the run's
details (host, set-up split, sample counts, the workload's own
figures). Generated inputs are cached under ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
PROBE_OPS = 3   # timed ops of each other workload's layer probe


def seconds_since_start() -> float:
    """Age of this process, from /proc (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# host and process tree


def size_host() -> dict:
    """Size Spark to this host before anything imports it: all cores but
    one, a JVM heap well below RAM, workers able to import the package,
    and every scratch file inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    # The spare core runs this process, the Python workers that feed
    # tasks and the JVM's GC and JIT threads. With a task thread on every
    # core they contend with the tasks, and op medians spread twice as
    # wide from run to run (dump_ingest, five seeds each on 4 vCPUs:
    # quartile spread 0.21 of the median on local[4], 0.10 on local[3]).
    cpus = max(1, nproc - 1)
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    driver_gb = max(1, min(8, int(mem_gb / 4)))
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    return {"nproc": nproc, "spark_cores": cpus, "mem_gb": round(mem_gb, 1),
            "driver_mem": f"{driver_gb}g"}


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, busy + steal, total) clock ticks of all CPUs so far, from
    /proc/stat. Steal is time a virtual CPU wanted to run while the
    hypervisor ran another guest: load that the guest's own loadavg does
    not show. Busy leaves out idle and I/O wait."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _, _, irq, softirq, steal = ticks[:8]
    return steal, user + nice + system + irq + softirq + steal, sum(ticks)


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def descendants(pid: int) -> list[int]:
    parents = _parents()
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parents.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def tree_peak_rss_mb() -> float:
    """Sum over this process and its descendants of each one's peak RSS
    (VmHWM): an upper bound on the tree's simultaneous peak."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def stop_spark(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    # the JVM's tree: once it exits, its workers are no longer ours
    kids = [proc.pid] + descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --------------------------------------------------------------------------
# the run


def run_ops(w, start: int, seconds: float, min_ops: int, rss: list[float],
            limit: int | None = None, sc=None) -> list[tuple]:
    """Closed loop: op, check, repeat until ``seconds`` have passed and
    at least ``min_ops`` ops ran (or ``limit`` ops ran), ending on a
    whole batch. Only the op itself is timed. Given a Spark context,
    every other op is traced (job groups per span), so traced and
    untraced ops see the same warm-up state. Returns (seconds, traced,
    op key) per completed op."""
    deadline = time.perf_counter() + seconds
    out = []
    i = start
    while ((time.perf_counter() < deadline or i - start < min_ops
            or (i - start) % w.batch)
           and (limit is None or i < start + limit)):
        w.tracer.sc = sc if i % 2 else None
        try:
            w.next_input(i)
            with w.tracer.span(f"{w.name}.op"):
                s0, b0, _ = cpu_ticks()
                t0 = time.perf_counter()
                res = w.op(i)
                dt = time.perf_counter() - t0
                s1, b1, _ = cpu_ticks()
            out.append((dt, w.tracer.sc is not None, w.op_key(i),
                        (s1 - s0) / max(1, b1 - b0)))
            w.record(w.check(i, res), f"op {i}")
        except Exception:
            traceback.print_exc()
            w.record(False, f"op {i} raised")
        rss.append(tree_peak_rss_mb())
        i += 1
    w.tracer.sc = sc
    return out


def overhead_ratio(ops: list[tuple]) -> float:
    """Median over op keys (e.g. queries) of traced / untraced median
    time, so that ops of different cost are compared like for like."""
    from perfbench.workloads import median

    by_key: dict = {}
    for dt, traced, key, _ in ops:
        by_key.setdefault(key, ([], []))[traced].append(dt)
    return median([median(on) / median(off)
                   for off, on in by_key.values() if on and off])


def guarded(w, what: str, fn) -> None:
    try:
        fn()
    except Exception:
        traceback.print_exc()
        w.record(False, f"{what} raised")


def executor_metrics(w, log) -> dict:
    """Task metrics of the workload's traced ops, per op."""
    from perfbench.workloads import MB

    ops = w.tracer.named(f"{w.name}.op")
    tasks = log.tasks(w.tracer.subtree(ops))
    n = len(ops)
    return {
        "executor.run_s": sum(t["run_s"] for t in tasks) / n,
        "executor.cpu_s": sum(t["cpu_s"] for t in tasks) / n,
        "executor.gc_s": sum(t["gc_s"] for t in tasks) / n,
        "executor.shuffle_write_mb":
            sum(t["shuffle_write_b"] for t in tasks) / MB / n,
        "executor.spill_mb": sum(t["spill_b"] for t in tasks) / MB / n,
        "executor.result_mb": sum(t["result_b"] for t in tasks) / MB / n,
        "executor.tasks_failed": sum(t["failed"] for t in tasks),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "diachronic_spark")):
        print(f"diachronic_spark package not found under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    with open(bench_json) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)

    os.chdir(ROOT)   # input paths given to the program are relative
    host = size_host()
    host["loadavg_start"] = os.getloadavg()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    try:
        return measure(spec, args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(spec, args, host, work) -> int:
    import pyspark

    from perfbench.trace import EventLog, Tracer, find_event_log
    from perfbench.workloads import WORKLOADS, median, tail

    host["pyspark"] = pyspark.__version__
    steal0, _, total0 = cpu_ticks()
    traced = bool(args.trace)
    w = WORKLOADS[args.workload](args.seed, CACHE, work, small=False)
    t0 = time.perf_counter()
    w.prepare(host["nproc"])
    gen_s = time.perf_counter() - t0

    from diachronic_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{log_dir}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{w.name}", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(w.name)
        t0 = time.perf_counter()
        guarded(w, "setup", lambda: w.setup(spark, tracer))
        t1 = time.perf_counter()
        guarded(w, "warm-up", w.warmup)
        t2 = time.perf_counter()
        setup_s = seconds_since_start() - gen_s - w.warmup_check_s
        split = {"generate_s": gen_s, "session_s": session_s,
                 "register_s": t1 - t0, "warmup_s": t2 - t1,
                 "warmup_check_s": w.warmup_check_s}

        rss: list[float] = []
        # untimed ops until op times level off (JIT, worker pools)
        settled = run_ops(w, 1, 0.0, w.settle_ops, rss)
        ops = run_ops(w, 1 + len(settled), args.seconds, w.min_ops, rss,
                      sc=spark.sparkContext if traced else None)
        times = [op[0] for op in ops]
        guarded(w, "final check", w.final_check)
        others = []
        if traced:
            guarded(w, "layer probe", w.probe)
            others = probe_other_workloads(spark, args.seed, work, w.name,
                                           host["nproc"])
        rss.append(tree_peak_rss_mb())
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)
    host["loadavg_end"] = os.getloadavg()
    steal1, _, total1 = cpu_ticks()
    host["cpu_steal_pct"] = (100.0 * (steal1 - steal0)
                             / max(1, total1 - total0))

    attempted = w.attempted + sum(o.attempted for o in others)
    failed = w.failed + sum(o.failed for o in others)
    n = len(times)
    t = tail(times)
    details = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "host": host, "setup_split_s": split, "ops": n, "op_s": times,
        "settle_op_s": [op[0] for op in settled],
        "op_steal": [op[3] for op in ops],
        "op_keys": [op[2] for op in ops],
        "op_tail": {"pct": t["pct"], "samples": t["n"]},
        "figures": {
            "setup_s": [setup_s, "s"],
            "peak_rss_mb": [max(rss), "MB"],
            "fail_ratio": [failed / max(1, attempted), "ratio"],
            "ops_per_s": [n / sum(times) if n else 0.0, "1/s"],
            **{k: list(v) for k, v in w.details(times).items()},
        },
    }
    if not traced:
        values = {
            "setup_s": setup_s,
            "op_p50_s": median(times),
            "op_tail_s": t["value"],
        }
        declared = spec["end_to_end"]
    else:
        log = EventLog(find_event_log(log_dir, app_id))
        values = {"session.get_spark_s": session_s,
                  **executor_metrics(w, log),
                  "trace.overhead_ratio": overhead_ratio(ops)}
        for x in [w] + others:
            values.update(x.layer_metrics(log))
        details["trace_file"] = write_spans(args, [w] + others)
        declared = spec["per_layer"]
    names = {m["name"] for m in declared}
    details["undeclared"] = {k: v for k, v in values.items()
                             if k not in names}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps(details), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def probe_other_workloads(spark, seed, work, main, cpus) -> list:
    """Traced run: the layers the main workload does not reach, probed
    with the other workloads at small size in the same session."""
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    out = []
    for name, cls in WORKLOADS.items():
        if name == main:
            continue
        v = cls(seed, CACHE, os.path.join(work, name), small=True)
        v.prepare(cpus)
        tracer = Tracer(name)
        tracer.sc = spark.sparkContext
        guarded(v, "setup", lambda: v.setup(spark, tracer))
        guarded(v, "warm-up", v.warmup)
        run_ops(v, 1, float("inf"), 0, [], limit=PROBE_OPS,
                sc=spark.sparkContext)
        guarded(v, "final check", v.final_check)
        guarded(v, "layer probe", v.probe)
        out.append(v)
    return out


def write_spans(args, workloads) -> str:
    out = os.path.join(CACHE, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-s{args.seed}.jsonl")
    with open(path, "w") as f:
        for w in workloads:
            for s in w.tracer.records():
                f.write(json.dumps({"workload": w.name, **s}) + "\n")
    return os.path.relpath(path, ROOT)


def run_all(args) -> int:
    """Every workload in its own process; prints each one's figures by
    name and unit, then one combined result line."""
    from perfbench.workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               name, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(proc.stdout, end="")
            return proc.returncode or 1
        details, result = json.loads(lines[-2]), json.loads(lines[-1])
        for metric, (value, unit) in details["figures"].items():
            print(f"{name:>14}  {metric:<20} {value:12.4f} {unit}")
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        for metric, m in result["metrics"].items():
            total["metrics"][f"{name}.{metric}"] = m
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
