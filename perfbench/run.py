"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload cli_expand_polygon --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. Everything it writes goes under
``.bench_work/`` there and is removed at exit. The last stdout line is
the result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``).
The line before it is a detail record (sample count, per-op
latencies, tail percentile, failures). Exit code 1 when any output
disagrees with its oracle or the program cannot be imported.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("cli_tag_country", "cli_expand_polygon", "registry_mix")

# per-layer metric -> unit; every traced run reports all of them, with 0
# for a layer the workload does not enter
PER_LAYER = {
    "session.start_s": "s",
    "cli.config_parse_s": "s",
    "providers.open_s": "s",
    "io.read_taxa_csv_s": "s",
    "io.read_taxa_csv.jobs": "count",
    "io.write_csv_s": "s",
    "io.bytes_written": "B",
    "io.write_snapshot_s": "s",
    "io.snapshot_bytes_per_row": "B/row",
    "resolution.resolve_names_s": "s",
    "resolution.distinct_tuples": "count",
    "resolution.resolved_ratio": "ratio",
    "spatial.zone_filter_s": "s",
    "spatial.bytes_read": "B",
    "spatial.rows_in_zone_ratio": "ratio",
    "spatial.python_worker_s": "s",
    "tagging.tag_existence_s": "s",
    "tagging.zone_keys": "count",
    "tagging.tagged_true": "count",
    "tagging.tagged_false": "count",
    "tagging.tagged_null": "count",
    "expansion.expand_children_s": "s",
    "expansion.jobs": "count",
    "expansion.parents": "count",
    "expansion.children": "count",
    "engine.run_filter_s": "s",
    "engine.run_filter.jobs": "count",
    "engine.run_filter.stages": "count",
    "engine.run_filter.tasks": "count",
    "engine.run_filter.executor_run_s": "s",
    "engine.run_filter.shuffle_write_bytes": "B",
    "engine.run_filter.spill_bytes": "B",
    "engine.run_filter.driver_gap_s": "s",
    "profile.robust_outliers_s": "s",
    "graph.k_core_s": "s",
    "dedup.minhash_dedup_s": "s",
    "fuzzy.fuzzy_name_match_s": "s",
    **{f"{fam}.{m}": u for fam in ("profile", "graph", "dedup", "fuzzy")
       for m, u in (("jobs", "count"), ("stages", "count"),
                    ("executor_run_s", "s"), ("shuffle_bytes", "B"))},
    "trace.latency_p50_s": "s",
    "driver.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
}

END_TO_END = {"latency_p50_s": "s", "ops_per_s": "1/s", "setup_s": "s"}


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def tail(latencies: list[float]) -> dict:
    """Highest whole percentile with at least ten samples above it."""
    xs, n = sorted(latencies), len(latencies)
    for p in range(99, 0, -1):
        k = math.ceil(p * n / 100) - 1
        if k >= 0 and n - 1 - k >= 10:
            return {"percentile": p, "value_s": xs[k], "n": n}
    return {"percentile": None, "value_s": None, "n": n}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(work: str, n: int, traced: bool):
    from gbif_filter_python_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jit_settle(spark, quiet_s: float = 0.5, limit_s: float = 10.0) -> float:
    """Wait until the JVM's JIT compiler has been idle for ``quiet_s``
    (at most ``limit_s``), so compilations the warm-up queued do not
    compete with the first measured operations. Returns the wait."""
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last = jit.getTotalCompilationTime()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(quiet_s)
        now = jit.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def workload_class(name: str):
    import workloads

    return workloads.Registry if name == "registry_mix" else workloads.Flagship


def make_workload(name, spark, work, seed, tracer, helper):
    import workloads

    if name == "registry_mix":
        return workloads.Registry(spark, tracer, helper)
    return workloads.Flagship(spark, work, seed, tracer, helper,
                              expand=name == "cli_expand_polygon")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(wl, tracer, groups: dict, session_s: float) -> dict:
    from spans import driver_gap_s

    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = session_s
    # warm-up operations have negative indices and are left out
    measured = [s for s in tracer.spans if s["op"] >= 0]
    by_name: dict[str, list[dict]] = {}
    for s in measured:
        by_name.setdefault(s["name"], []).append(s)
    for name, spans in by_name.items():
        if f"{name}_s" in out:
            out[f"{name}_s"] = median(s["end"] - s["start"] for s in spans)

    def counter(name: str, key: str) -> float:
        return median(groups.get(s["group"], {}).get(key, 0)
                      for s in by_name.get(name, []))

    out["io.read_taxa_csv.jobs"] = counter("io.read_taxa_csv", "jobs")
    out["spatial.bytes_read"] = counter("spatial.zone_filter", "input_bytes")
    out["spatial.python_worker_s"] = counter("spatial.zone_filter", "python_worker_s")
    out["expansion.jobs"] = counter("expansion.expand_children", "jobs")
    for key in ("jobs", "stages", "tasks", "executor_run_s",
                "shuffle_write_bytes", "spill_bytes"):
        out[f"engine.run_filter.{key}"] = counter("engine.run_filter", key)
    out["engine.run_filter.driver_gap_s"] = median(
        driver_gap_s(s, groups.get(s["group"], {}).get("job_intervals", []))
        for s in by_name.get("engine.run_filter", []))
    for fam in ("profile", "graph", "dedup", "fuzzy"):
        names = [name for name in by_name if name.startswith(fam + ".")]
        for key, src in (("jobs", "jobs"), ("stages", "stages"),
                         ("executor_run_s", "executor_run_s"),
                         ("shuffle_bytes", "shuffle_write_bytes")):
            out[f"{fam}.{key}"] = sum(counter(name, src) for name in names)
    for key in wl.layer[0] if wl.layer else ():
        out[key] = median(layer[key] for layer in wl.layer)
    out.update(wl.setup_layer)
    request = wl.request_spans
    per_op: dict[int, float] = {}
    for s in measured:
        if s["name"] in request:
            per_op[s["op"]] = per_op.get(s["op"], 0.0) + s["end"] - s["start"]
    out["trace.latency_p50_s"] = median(per_op.values())
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep the JVM's, Spark's and Python's scratch files inside the
    # checkout, and let Python UDF workers import the package
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    n = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, n, traced)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass


def run(args, work: str, n: int, traced: bool) -> int:
    import gbif_filter_python_spark  # noqa: F401  fail fast without the program
    from spans import Tracer, fold_event_log

    # input generation and oracle checks run in this helper process, so
    # the driver's peak RSS holds only the program's own work
    helper = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))
    cls = workload_class(args.workload)
    # closed loop over a fixed amount of work: as many passes as fit in
    # --seconds at the workload's nominal pass time (one when traced,
    # which costs about three times as much). Operations still speed up
    # pass after pass as the JIT compiler catches up, so a time-bounded
    # window would let a faster build measure more, later and faster
    # passes, and a varying count moves the median.
    passes = max(1, int(args.seconds // cls.nominal_pass_s))
    n_ops = cls.pass_len * (1 if traced else passes)

    spark = None
    try:
        t0 = time.perf_counter()
        # the helper generates the inputs while the JVM starts
        inputs = cls.inputs(helper, args.seed, work, cls.warm_ups + n_ops,
                            args.workload == "cli_expand_polygon")
        spark = start_session(work, n, traced)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext if traced else None)
        wl = make_workload(args.workload, spark, work, args.seed, tracer, helper)
        failures: list[str] = []

        def attempt(i: int, step, check: bool) -> float:
            t = time.perf_counter()
            try:
                err = step(i)
            except Exception as e:  # a failed operation is counted, not fatal
                err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            elapsed = time.perf_counter() - t
            if check and err is None:
                try:
                    err = wl.check(i)
                except Exception as e:
                    err = f"check {type(e).__name__}: {e}"
            if err:
                failures.append(f"op {i}: {err}")
                print(f"FAILED op {i}: {err}", file=sys.stderr)
            return elapsed

        t1 = time.perf_counter()
        wl.setup(inputs)
        inputs_s = time.perf_counter() - t1
        # warm-up runs untraced even in a traced run; its checks are
        # outside the summed time
        warm_up_s = sum(attempt(i, wl.op, True) for i in range(-wl.warm_ups, 0))
        setup_s = session_s + inputs_s + warm_up_s
        phases = {"session_s": session_s, "inputs_s": inputs_s, "warm_up_s": warm_up_s,
                  "jit_settle_s": jit_settle(spark)}

        # traced_op checks its own outputs, between its spans
        latencies = [attempt(i, wl.traced_op if traced else wl.op, not traced)
                     for i in range(n_ops)]
        rss = {"driver.peak_rss_mb": vm_hwm_mb("self"),
               "jvm.peak_rss_mb": vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
    finally:
        if spark is not None:
            stop_session(spark)
        helper.shutdown()
        # the spawn context started a resource-tracker process as well
        resource_tracker._resource_tracker._stop()

    attempted = n_ops + wl.warm_ups
    if traced:
        logs = glob.glob(os.path.join(work, "eventlog", "*"))
        groups = fold_event_log(logs[0]) if logs else {}
        metrics = per_layer(wl, tracer, groups, session_s) | rss
        units = PER_LAYER
    else:
        metrics = {
            "latency_p50_s": statistics.median(latencies),
            "ops_per_s": len(latencies) / sum(latencies),
            "setup_s": setup_s,
        }
        units = END_TO_END
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": n,
        "traced": traced, "setup_phases": phases, "latencies_s": [round(x, 4) for x in latencies],
        "tail": tail(latencies), "peak_rss_mb": rss, "failures": failures,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
