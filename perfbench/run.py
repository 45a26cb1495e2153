#!/usr/bin/env python3
"""Benchmark one workload in this fresh process and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

The process builds the session through ``session.get_spark`` on
``local[<cpus>]``, generates or reuses the workload's seeded inputs, runs
a fixed number of units of the workload in a closed loop, checks every
unit's output, stops Spark and its processes, and prints one
``name value unit`` line per metric followed by one JSON line with
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--seconds`` sets the number of units: ``seconds / unit_s`` rounded, at
least one, where ``unit_s`` is the workload's nominal unit time on a
4-core box. The count depends on nothing measured, so a run does the
same work on every commit; a loop that stopped on elapsed time put the
crawl and curate runs near a unit boundary, and one more or one fewer
unit moved the median by up to 20%.

``--trace 0`` reports the end-to-end metrics (:data:`END_TO_END`).
``--trace 1`` wraps the layer functions in spans, turns on Spark's event
log and reports the per-layer metrics (:data:`PER_LAYER`) instead. Every
run writes a full JSON record under ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # import the benchmark as a package and the engine from the checkout
    # root, never modules that merely sit next to this script
    sys.path[0] = ROOT

from perfbench import host, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")

#: (name, unit) of the end-to-end metrics, reported with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("process_s", "s"),
    ("unit_p50_s", "s"),
    ("items_per_s", "1/s"),
    ("heap_live_mb", "MB"),
]

#: span around each whole unit: also holds the jobs that run a lazily
#: built plan after the layer call returned (curate's audit collect and
#: ``noop`` write run most of its work)
UNIT_SPAN = "workload.unit"
_STEP = "plans.crawler.Crawler.step"
_CURATE = "operators.curate.curate"
_UNITS = {
    "wall_ms": "ms", "self_ms": "ms", "driver_ms": "ms", "exec_run_ms": "ms",
    "exec_cpu_ms": "ms", "python_wait_ms": "ms", "jobs": "count",
    "stages": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "step_growth": "ratio", "warmed": "flag",
}


def _layer(span: str, counters: str) -> list[str]:
    return [f"{span}.{c}" for c in counters.split()]


#: per-layer metric names (span name + counter), reported with --trace 1
PER_LAYER_NAMES = (
    _layer(tracing.SETUP_SPAN, "wall_ms jobs warmed")
    + _layer(UNIT_SPAN, "wall_ms driver_ms jobs stages tasks exec_run_ms exec_cpu_ms "
             "python_wait_ms shuffle_write_bytes spill_bytes")
    + _layer(_STEP, "wall_ms self_ms driver_ms jobs stages tasks exec_run_ms "
             "exec_cpu_ms shuffle_write_bytes spill_bytes python_wait_ms step_growth")
    + _layer("plans.crawler.Crawler.run", "self_ms")
    + _layer("plans.epoch.run_epoch", "wall_ms jobs")
    + _layer("operators.seen.BloomSeenSet.add_keys", "wall_ms jobs shuffle_write_bytes")
    + _layer("operators.seen.filter_unseen", "wall_ms jobs shuffle_write_bytes")
    + _layer(_CURATE, "wall_ms self_ms jobs stages exec_run_ms exec_cpu_ms "
             "shuffle_write_bytes spill_bytes")
    + [
        m
        for fn in ("dedup.dedup_incremental", "dedup.dedup_exact",
                   "dedup.minhash_lsh_pairs", "dedup.dedup_retention",
                   "dedup.decontaminate", "sampling.stratified_sample",
                   "sampling.pack_sequences")
        for m in _layer(f"operators.{fn}", "wall_ms jobs")
    ]
)
PER_LAYER = [(m, _UNITS[m.rsplit(".", 1)[1]]) for m in PER_LAYER_NAMES]


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_environment(trace: bool) -> dict[str, str]:
    """Keep every file the run writes inside the work dir; return Spark conf."""
    for sub in ("local", "tmp", "records", "inputs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # Python workers import the engine from the checkout whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # both JVMs (spark-submit's launcher and the driver) keep out of /tmp
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every child."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits on EOF of its stdin
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while os.path.isdir("/proc") and host.tree_pids(os.getpid())[1:]:
        if time.time() > deadline:
            for pid in host.tree_pids(os.getpid())[1:]:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.1)


def _live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection (what the run
    retains: cached frames, checkpoints, broadcasts, filter state).

    Taken once, after the first unit: after later crawl epochs the value
    varied by up to 1.7x between runs of the same inputs, after the first
    by under 1%."""
    # Python-side garbage can still pin JVM objects through py4j references
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _trace_overhead(workload: str, traced_p50: float) -> float | None:
    """Traced unit median / median of the untraced records' − 1, if any."""
    untraced = []
    for path in glob.glob(os.path.join(WORK, "records", f"{workload}-*-trace0-*.json")):
        with open(path) as f:
            untraced.append(json.load(f)["metrics"]["unit_p50_s"])
    if not untraced:
        return None
    return traced_p50 / statistics.median(untraced) - 1.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    proc_start = host.process_start_wall()
    cpu_start = host.cpu_snapshot()
    conf = _prepare_environment(trace)
    tracer = tracing.Tracer() if trace else None
    units: list[dict] = []
    failed: set[int] = set()
    raised = False
    with host.RssSampler() as rss:
        with tracer.span(tracing.SETUP_SPAN) if tracer else nullcontext():
            from nlnieuwscrawler_spark.session import get_spark

            cpus = _cpus()
            spark = get_spark(f"perfbench-{workload}", master=f"local[{cpus}]",
                              extra_conf=conf)
        setup_end = time.time()
        warmed = spark.conf.get("spark.nlnc.warmed", "0") == "1"
        wl = WORKLOADS[workload](spark, WORK, seed)
        t0 = time.time()
        wl.generate()
        gen_s = time.time() - t0
        if tracer:
            wl.wrap(tracer)
            tracer.attach(spark.sparkContext)
        t0 = time.time()
        wl.prepare()
        prep_s = time.time() - t0
        first_unit_end, heap_live_mb = None, 0.0
        for _ in range(max(1, round(seconds / wl.unit_s))):
            t0, cpu0, snap0 = time.time(), host.tree_cpu_s(os.getpid()), host.cpu_snapshot()
            try:
                with tracer.span(UNIT_SPAN) if tracer else nullcontext():
                    items = wl.unit()
            except Exception:
                traceback.print_exc()
                units.append({"wall_s": time.time() - t0, "items": 0})
                failed.add(len(units) - 1)
                raised = True
                break
            end = time.time()
            units.append({
                "wall_s": end - t0,
                "items": items,
                "cpu_s": host.tree_cpu_s(os.getpid()) - cpu0,
                "steal_frac": host.host_summary(snap0, host.cpu_snapshot())["steal_frac"],
            })
            if first_unit_end is None:
                first_unit_end = end
                heap_live_mb = _live_heap_mb(spark)
            if not wl.check_unit(len(units) - 1):
                failed.add(len(units) - 1)
        peak_rss_mb = rss.peak_mb
    completed = len(units) - raised
    if completed:
        try:
            failed |= wl.check(completed)
        except Exception:
            traceback.print_exc()
            failed = set(range(len(units)))
    if tracer:
        tracer.unwrap_all()
    _stop_spark(spark)
    cpu_end = host.cpu_snapshot()

    walls = [u["wall_s"] for u in units]
    ok_units = [u for i, u in enumerate(units) if i not in failed] or units
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "cpus": _cpus(),
        "setup_s": setup_end - proc_start,
        "gen_s": gen_s,
        "prep_s": prep_s,
        "units": units,
        "failed_units": sorted(failed),
        "warmed": warmed,
        "peak_rss_mb": peak_rss_mb,
        "rss_samples": rss.samples,
        "host": host.host_summary(cpu_start, cpu_end),
    }
    record["metrics"] = {
        "setup_s": record["setup_s"],
        # fresh process to first result, input generation excluded
        "process_s": (first_unit_end or time.time()) - proc_start - gen_s,
        "unit_p50_s": statistics.median(walls),
        "items_per_s": sum(u["items"] for u in ok_units)
        / sum(u["wall_s"] for u in ok_units),
        "heap_live_mb": heap_live_mb,
    }
    if tracer:
        log_dir = conf["spark.eventLog.dir"][len("file://"):]
        jobs = tracing.jobs_from_events(tracing.read_event_log(log_dir))
        table = tracing.span_table(tracer.spans, jobs)
        names = [m for m, _ in PER_LAYER if not m.endswith(".warmed")]
        layers = tracing.layer_metrics(table, names)
        layers[f"{tracing.SETUP_SPAN}.warmed"] = 1.0 if warmed else 0.0
        record["layers"] = {m: layers[m] for m, _ in PER_LAYER}
        record["spans"] = table
        record["unattributed_jobs"] = len(
            tracing.attribute_jobs(tracer.spans, jobs).get("unattributed", [])
        )
        record["trace_overhead_frac"] = _trace_overhead(
            workload, record["metrics"]["unit_p50_s"]
        )
        shutil.rmtree(log_dir, ignore_errors=True)
    name = f"{workload}-seed{seed}-trace{int(trace)}-{int(time.time())}-{os.getpid()}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    record["record_path"] = os.path.join(".perfbench_work", "records", name)
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nlnieuwscrawler_spark", "__init__.py")):
        print("perfbench: no nlnieuwscrawler_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    rec = run(args.workload, args.seed, args.seconds, bool(args.trace))
    spec = PER_LAYER if args.trace else END_TO_END
    values = rec["layers"] if args.trace else rec["metrics"]
    h = rec["host"]
    print(f"# {args.workload} seed={args.seed} units={len(rec['units'])} "
          f"failed={len(rec['failed_units'])} gen_s={rec['gen_s']:.3f} "
          f"load1={h['load1_start']}->{h['load1_end']} steal={h['steal_frac']} "
          f"record={rec['record_path']}")
    if args.trace:
        print(f"# trace.overhead_frac {rec['trace_overhead_frac']}")
    for name, unit in spec:
        print(f"{name} {values[name]} {unit}")
    print(json.dumps({
        "correct": not rec["failed_units"],
        "attempted": len(rec["units"]),
        "failed": len(rec["failed_units"]),
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
