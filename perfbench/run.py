#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload warm_queries --seed 1 --seconds 20 --trace 0

Run from the repository root. The workload's inputs are generated
from ``--seed`` into a scratch directory under ``.perfbench_runs/``,
which also holds every cache and spill directory of the run and is
removed at exit. Operations run one at a time (a closed loop with
one client) in whole rounds, each a seeded shuffle of the workload's
operations. The number of measured rounds is ``--seconds`` divided
by the workload's nominal round time, at least one: the work
measured is a function of the arguments, never of how fast this run
happens to be. Each operation's latency enters the metrics as its
median over the rounds. Between operations the run also times a fixed
Spark job that runs none of the package's code; the bounded latency
metrics are in units of that job's median time, which cancels the
load of a shared host. The raw latencies and CPU times are reported
beside them (see perfbench/README.md).

The last line printed is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` Spark's event log is enabled and
the metrics are the per-layer roll-up of the spans. The line before
it is a ``report`` object with the same run under the workload's own
metric names (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LAYERS = (
    "xml_source", "relationships", "sqlite_sink", "node_graph", "hierarchy", "graph",
    "pipeline", "dedup", "curation", "text", "search", "classify",
)
DEADLINE_S = 175
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def pct(values: list[float], q: float) -> float:
    """The q-quantile by linear interpolation (q=0.5 is the median)."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def isolate(run_dir: str) -> None:
    """Point every cache, spill and temp directory into ``run_dir``
    before the JVM starts, so each run builds its stores cold."""
    for k in ("GRAPH", "MINHASH", "INDEX", "CODEBOOK"):
        os.environ[f"SPARK_GRAFT_{k}_CACHE"] = os.path.join(run_dir, "cache", k.lower())
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the package (the XML parse runs in mapInPandas)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # a 1g heap left some runs collecting garbage for 40% more JVM CPU time
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            # Spark's default codec (zstd) needs a module this image lacks
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_meter(spark):
    """A clock of the CPU seconds (user plus system) used so far by the
    Spark JVM, every process below it (the Python workers) and this
    process: what ``time`` reports for a command, summed over them."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def seconds() -> float:
        parent: dict[int, int] = {}
        ticks: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited meanwhile
                continue
            parent[int(d)] = int(f[1])
            # utime, stime and the same for reaped children
            ticks[int(d)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        total = 0
        for pid, t in ticks.items():
            p = pid
            while p != jvm_pid and p in parent:
                p = parent[p]
            if p == jvm_pid:
                total += t
        return total * TICK_S + time.process_time()

    return seconds


def hygiene(spark) -> float:
    """Drop the session's cache and collect the JVM's garbage, as bench.py
    does between operations; return the heap still in use, in MB."""
    spark.catalog.clearCache()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed() / 2**20


def retained_heap_mb(spark) -> float:
    """The heap the session holds once the workload is over. Spark's
    cleaner frees a finished job's shuffle and broadcast blocks only
    after a collection finds them unreachable, from its own thread, so
    collect, give it a second, and collect again."""
    hygiene(spark)
    time.sleep(1.0)
    return hygiene(spark)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def reference(spark, cpu, ref: dict, times: int) -> None:
    """Time a fixed Spark job that runs none of the package's code, to
    tell how fast the host is at this moment; append its wall and CPU
    seconds to ``ref``."""
    for _ in range(times):
        t, c = time.perf_counter(), cpu()
        spark.range(0, 200_000, 1, 4).selectExpr("sum(hash(id)) AS s").collect()
        ref["cpu"].append(cpu() - c)
        ref["wall"].append(time.perf_counter() - t)


def measure(wl, spark, tr, rounds: int, seed: int, cpu=time.process_time) -> dict:
    """The closed loop over ``rounds`` seeded rounds. Before each
    operation ``hygiene`` and two reference jobs run, and twenty more
    reference jobs after the last; they and the checks are untimed.
    ``lat`` holds each operation's wall seconds and ``cpu`` its CPU
    seconds by the ``cpu`` clock. ``heap_mb`` is the heap left in use
    before each operation, once collected."""
    rng = random.Random(f"order|{tr.phase}|{seed}")
    lat: dict[str, list[float]] = {op: [] for op in wl.ops}
    cpu_s: dict[str, list[float]] = {op: [] for op in wl.ops}
    attempted = failed = 0
    errors: list[str] = []
    between_s = check_s = 0.0
    heap: list[float] = []
    ref: dict[str, list[float]] = {"wall": [], "cpu": []}
    i = len(tr.spans)  # unique across calls: spans only grow
    # the reference job's first runs pay its codegen and JIT: not counted
    reference(spark, cpu, {"wall": [], "cpu": []}, 50)
    for _ in range(rounds):
        order = list(wl.ops)
        rng.shuffle(order)
        for op in order:
            t = time.perf_counter()
            heap.append(hygiene(spark))
            reference(spark, cpu, ref, 2)
            between_s += time.perf_counter() - t
            attempted += 1
            first = len(tr.spans)
            c0 = cpu()
            try:
                result = wl.run_op(spark, tr, op, i)
            except Exception as e:  # noqa: BLE001 -- a failed op is counted, the run goes on
                failed += 1
                errors.append(f"{op}: {type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}")
                i += 1
                continue
            cpu_s[op].append(cpu() - c0)
            lat[op].append(sum(s.seconds for s in tr.spans[first:]))
            t = time.perf_counter()
            bad = wl.check(op, result)
            check_s += time.perf_counter() - t
            if bad is not None:
                failed += 1
                errors.append(f"{op}: check failed: {bad}")
            i += 1
    reference(spark, cpu, ref, 20)
    return {"lat": lat, "cpu": cpu_s, "ref": ref, "attempted": attempted, "failed": failed, "rounds": rounds,
            "errors": errors, "between_s": between_s, "check_s": check_s,
            "heap_mb": heap}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(map(math.log, xs)) / len(xs))


def _medians(samples: dict, floor: float = 0.0) -> list[float]:
    """Each operation's median, in ms."""
    return [1000 * max(pct(ts, 0.5), floor) for ts in samples.values() if ts]


def raw_metrics(m: dict) -> dict:
    """Latency and CPU time as measured: reported, not bounded (see README)."""
    op_ms = _medians(m["lat"])
    # CPU is read in whole clock ticks; a zero would break the geomean
    cpu_ms = _medians(m["cpu"], TICK_S)
    return {"op_geomean_ms": geomean(op_ms), "round_s": sum(op_ms) / 1000,
            "op_cpu_geomean_ms": geomean(cpu_ms), "round_cpu_s": sum(cpu_ms) / 1000,
            "ref_ms": {k: 1000 * pct(v, 0.5) for k, v in m["ref"].items()}}


def e2e_metrics(setup_s: float, m: dict, wl) -> dict:
    op_ms = _medians(m["lat"])
    if not op_ms:
        raise RuntimeError(f"no operation succeeded: {m['errors'][:3]}")
    # latency in units of the reference job's, timed on the same host in
    # the same minutes: the host's load slows both alike
    ref_ms = 1000 * pct(m["ref"]["wall"], 0.5)
    return {
        "setup_s": (setup_s, "s"),
        # every operation weighs the same, whatever its size; a median
        # over a few unlike gates flips between neighbours run to run
        "op_geomean_per_ref": (geomean(op_ms) / ref_ms, "ratio"),
        "round_per_ref": (sum(op_ms) / ref_ms, "ratio"),
        "stored_bytes_per_input_byte": (wl.stored_bytes / wl.input_bytes, "ratio"),
    }


def layer_metrics(tr, m: dict) -> dict:
    """Per-layer metrics from rolled-up spans, uniform across workloads."""
    setup = [s for s in tr.spans if s.phase == "setup"]
    measured = [s for s in tr.spans if s.phase == "measure"]
    by_op: dict[int, list] = {}
    for s in measured:
        by_op.setdefault(s.op, []).append(s)
    ops = list(by_op.values())

    def p50(f) -> float:
        return pct([f(spans) for spans in ops], 0.5)

    op_time = sum(s.seconds for s in measured)
    out = {
        "session.get_spark_s": (sum(s.seconds for s in setup if s.name == "session.get_spark"), "s"),
        "setup.jobs": (sum(len(s.jobs) for s in setup), "count"),
        "setup.driver_self_s": (sum(s.self_s for s in setup), "s"),
        "op.call_ms_p50": (p50(lambda sp: 1000 * sum(s.seconds for s in sp if s.kind == "call")), "ms"),
        "op.eval_ms_p50": (p50(lambda sp: 1000 * sum(s.seconds for s in sp if s.kind == "eval")), "ms"),
        "op.driver_self_ms_p50": (p50(lambda sp: 1000 * sum(s.self_s for s in sp)), "ms"),
        "op.jobs_p50": (p50(lambda sp: sum(len(s.jobs) for s in sp)), "count"),
        "op.stages_p50": (p50(lambda sp: sum(s.stages for s in sp)), "count"),
        "op.tasks_p50": (p50(lambda sp: sum(s.tasks for s in sp)), "count"),
        "op.executor_run_ms_p50": (p50(lambda sp: sum(s.run_ms for s in sp)), "ms"),
        "op.executor_cpu_ms_p50": (p50(lambda sp: sum(s.cpu_ms for s in sp)), "ms"),
        "op.shuffle_write_bytes_p50": (p50(lambda sp: sum(s.shuffle_write_bytes for s in sp)), "bytes"),
        "spark.gc_ms_per_op": (sum(s.gc_ms for sp in ops for s in sp) / max(len(ops), 1), "ms"),
    }
    for layer in LAYERS:
        mine = [s for s in measured if s.name.split(".")[0] == layer]
        out[f"{layer}.share"] = (100.0 * sum(s.seconds for s in mine) / op_time, "%")
        out[f"{layer}.jobs_per_round"] = (sum(len(s.jobs) for s in mine) / m["rounds"], "count")
    return out


def report(wl, tr, m: dict, e2e: dict, traced: bool, unplaced: int) -> dict:
    """The run under the workload's own metric names, plus per-span detail."""
    lat_ms = [t * 1000 for ts in m["lat"].values() for t in ts]
    r = {
        "workload": wl.name, "rounds": m["rounds"], "samples": len(lat_ms),
        "op_p50_ms": pct(lat_ms, 0.5), "op_p90_ms": pct(lat_ms, 0.9),
        "failed_op_share": m["failed"] / m["attempted"], "errors": m["errors"][:10],
        "traced": traced, "wall_s": m["wall_s"], "between_s": m["between_s"],
        "check_s": m["check_s"],
        # memory, reported but not bounded (see README)
        "jvm_peak_rss_mb": m["jvm_peak_rss_mb"], "retained_heap_mb": m["retained_heap_mb"],
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "raw": raw_metrics(m),
        "heap_mb": [round(h, 1) for h in m["heap_mb"]],
        "op_cpu_ms": {op: [round(t * 1000, 1) for t in ts] for op, ts in m["cpu"].items()},
        "op_ms": {op: [round(t * 1000, 1) for t in ts] for op, ts in m["lat"].items()},
    }
    r.update(wl.report(r, m["lat"], [s for s in tr.spans if s.phase == "measure"]))
    if traced:
        r["unplaced_jobs"] = unplaced
        # one sample per set-up step, and per measured op (its call and
        # eval spans summed)
        calls: dict[tuple, list] = {}
        for s in tr.spans:
            if s.phase == "measure" or s.op is None:
                calls.setdefault((s.name, s.op), []).append(s)
        names: dict[str, list] = {}
        for (name, _), ss in calls.items():
            names.setdefault(name, []).append(ss)
        r["spans"] = {
            n: {"n": len(c), "s_p50": pct([sum(s.seconds for s in ss) for ss in c], 0.5),
                "driver_self_s_p50": pct([sum(s.self_s for s in ss) for ss in c], 0.5),
                "jobs_p50": pct([sum(len(s.jobs) for s in ss) for ss in c], 0.5),
                "executor_cpu_ms_p50": pct([sum(s.cpu_ms for s in ss) for ss in c], 0.5)}
            for n, c in names.items()
        }
    return r


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def _deadline(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # clean up on kill
    signal.alarm(DEADLINE_S)

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        isolate(run_dir)
        # fails here, before any measurement, when the package is absent
        from xml_to_sqlite3_spark.session import get_spark

        from perfbench.spans import Tracer, read_event_log, rollup

        wl = WORKLOADS[args.workload]()
        wall = {"start": time.perf_counter()}
        wl.generate(run_dir, args.seed)
        wall["generated"] = time.perf_counter()

        tr = Tracer()
        with tr.span("session.get_spark", "setup"):
            spark = get_spark(app_name=f"perfbench-{args.workload}",
                              extra_conf=spark_conf(run_dir, bool(args.trace)))
        if args.trace:
            tr.sc = spark.sparkContext
        wl.setup(spark, tr)
        setup_s = sum(s.seconds for s in tr.spans)

        tr.phase = "measure"
        rounds = max(1, round(args.seconds / wl.nominal_round_s))
        wall["set_up"] = time.perf_counter()
        m = measure(wl, spark, tr, rounds, args.seed, cpu=cpu_meter(spark))
        m["retained_heap_mb"] = retained_heap_mb(spark)
        wall["measured"] = time.perf_counter()
        m["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        stop_spark(spark)
        spark = None
        wall["stopped"] = time.perf_counter()
        m["wall_s"] = {b: round(wall[b] - wall[a], 3) for a, b in zip(wall, list(wall)[1:])}

        unplaced = 0
        if args.trace:
            (log,) = os.listdir(os.path.join(run_dir, "eventlog"))
            unplaced = rollup(tr.spans, read_event_log(os.path.join(run_dir, "eventlog", log)))
        e2e = e2e_metrics(setup_s, m, wl)
        metrics = layer_metrics(tr, m) if args.trace else e2e
        print(json.dumps({"report": report(wl, tr, m, e2e, bool(args.trace), unplaced)}))
        print(json.dumps({
            "correct": m["failed"] == 0,
            "attempted": m["attempted"],
            "failed": m["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        signal.alarm(0)
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench.* and the package from the checkout
    sys.exit(main())
