"""Benchmark entry point.

    python3 perfbench/run.py --workload {asof,upsert} --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Generates the inputs from ``--seed``,
starts a local Spark session at all cores, warms up, then drives the
engine's public functions as a closed loop with one client for ``--seconds``
seconds, checks every checked answer against DuckDB, and prints:

* one ``{"env": …}`` line: the run's environment record (CPU steal, load,
  cores, memory sizing, warm-up and timed counts, every call's wall) for
  explaining an outlier run — never for dropping one;
* as the last line, the result: ``correct``, ``attempted``, ``failed`` and
  the end-to-end metrics at reference speed (``--trace 0``; see
  ``harness.REF_S``) or the per-layer metrics (``--trace 1``).

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from harness import CLASSES, Calls, Machine, median, start_spark, stop_spark, tail  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {"asof": "wl_asof", "upsert": "wl_upsert"}

# (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("bulk_rows_per_s", "rows/s", "higher"),
    ("small_call_s", "s", "lower"),
    ("read_s", "s", "lower"),
)
UNITS = {
    "traced_s": ("s", "lower"),
    "trace_overhead_s": ("s", "lower"),
    "planning_s": ("s", "lower"),
    "driver_only_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_run_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "output_bytes_per_row": ("bytes", "lower"),
    "input_records_per_row": ("count", "lower"),
    "serial_stage_s": ("s", "lower"),
    "slowest_stage_skew": ("ratio", "lower"),
    "scan_tasks_min": ("count", "higher"),
    "exchanges": ("count", "lower"),
    "windows": ("count", "lower"),
    "unpartitioned_windows": ("count", "lower"),
    "nested_loop_joins": ("count", "lower"),
}
# The per-call counters each class reports: those of the layers that do most
# of that class's work (README.md, "Per-layer metrics").
TRACED = ("traced_s", "trace_overhead_s", "planning_s", "driver_only_s")
CLASS_METRICS = {
    "bulk": TRACED + (
        "executor_run_s", "gc_s", "spill_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
        "output_bytes_per_row", "serial_stage_s", "slowest_stage_skew", "scan_tasks_min",
        "exchanges", "windows", "unpartitioned_windows", "nested_loop_joins",
    ),
    "small": TRACED + ("jobs", "stages", "tasks", "executor_run_s", "output_bytes_per_row"),
    "read": TRACED + (
        "jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "input_records_per_row",
    ),
}
PER_LAYER = tuple(
    (f"{c}.{name}", *UNITS[name]) for c in CLASSES for name in CLASS_METRICS[c]
) + (
    ("session.start_s", "s", "lower"),
    ("isolated.windows_s", "s", "lower"),
    ("isolated.asof_join_s", "s", "lower"),
    ("isolated.sink_write_s", "s", "lower"),
    ("merge.small_buckets_touched", "count", "lower"),
    ("merge.bulk_buckets_touched", "count", "lower"),
    ("merge.read_buckets_opened_share", "ratio", "lower"),
    ("merge.read_files_opened", "count", "lower"),
    ("merge.compact_s", "s", "lower"),
    ("merge.expire_s", "s", "lower"),
    ("merge.space_amp", "ratio", "lower"),
    ("machine.ref_s", "s", "lower"),
)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _per_layer(calls, layers: dict, session_start_s: float, extra: dict,
               untraced: dict[str, float]) -> dict[str, float]:
    """The per-layer metrics; ``untraced`` maps a class to its untraced
    median wall at reference speed, the base of ``<class>.trace_overhead_s``
    (0 when absent)."""
    out = {
        "session.start_s": session_start_s,
        "machine.ref_s": median([s.wall for s in calls.timed("ref")]),
    }
    scale = calls.scale()
    for cls in CLASSES:
        spans = calls.timed(cls)
        per = [layers[s.span_id] for s in spans]
        traced = median([s.wall for s in spans]) * scale
        for name in CLASS_METRICS[cls]:
            if name == "traced_s":
                v = traced
            elif name == "trace_overhead_s":
                v = traced - untraced[cls] if cls in untraced else 0.0
            elif name.endswith("_per_row"):
                src = name.replace("_per_row", "")
                v = median([m[src] / s.rows for m, s in zip(per, spans)])
            elif name == "scan_tasks_min":
                v = min((m[name] for m in per if m[name]), default=0)
            else:
                v = median([m[name] for m in per])
            out[f"{cls}.{name}"] = v
    out.update(extra)
    return {name: out.get(name, 0.0) for name, _, _ in PER_LAYER}


def _untraced_medians(records: str, workload: str) -> tuple[dict[str, float], int]:
    """Per class, the median over this checkout's untraced runs of
    ``workload`` of each run's median timed wall at reference speed; and the
    number of runs."""
    runs = []
    for name in sorted(os.listdir(records)) if os.path.isdir(records) else []:
        with open(os.path.join(records, name)) as f:
            rec = json.load(f)
        if rec["workload"] == workload and rec["trace"] == 0:
            runs.append(rec)
    out = {
        cls: median([
            median([w for w, timed, *_ in rec["walls"][cls] if timed]) * rec["scale"]
            for rec in runs
        ])
        for cls in CLASSES
    }
    return (out if runs else {}), len(runs)


def _end_to_end(calls, setup_s: float, scale: float) -> dict[str, float]:
    """The end-to-end metrics, every time multiplied by ``scale`` (1 gives
    them as measured; ``calls.scale()`` at reference speed)."""
    bulk = calls.timed("bulk")
    return {
        "setup_s": setup_s * scale,
        "bulk_rows_per_s": bulk[0].rows / (median([s.wall for s in bulk]) * scale),
        "small_call_s": median(calls.walls("small")) * scale,
        "read_s": median(calls.walls("read")) * scale,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "eventlog", "duck"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    sys.path.insert(0, ROOT)
    tempfile.tempdir = None  # re-read TMPDIR

    cpu0, load0 = _cpu_times(), os.getloadavg()
    machine = Machine.detect()
    spark = None
    untraced_runs = None  # traced runs: untraced runs behind trace_overhead_s
    try:
        import uncharted_ta1_spark  # noqa: F401  (fails fast outside a checkout)

        wl = importlib.import_module(WORKLOADS[args.workload]).Workload(work, args.seed)
        # the inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(wl.prepare)
            t0 = time.time()
            spark = start_spark(work, machine, trace=bool(args.trace), app=f"perfbench-{args.workload}")
            session_start_s = time.time() - t0
            prepared.result()
        calls = Calls(spark.sparkContext, bool(args.trace))
        wl.setup(spark, calls)
        t_measure = time.time()
        wl.measure(calls, args.seconds)
        measured_s = time.time() - t_measure
        first = min(s.start for s in calls.spans if s.timed)
        extra = wl.extra(calls)
        if args.trace:
            extra.update(wl.isolated(calls))
        stop_spark(spark)
        spark = None
        attempted, failed = wl.check(calls)
        if args.trace:
            from eventlog import call_metrics, read_log

            (log_name,) = os.listdir(os.path.join(work, "eventlog"))
            log = read_log(os.path.join(work, "eventlog", log_name))
            layers = call_metrics(log, [s for s in calls.spans if s.timed], machine.cores)
            untraced, untraced_runs = _untraced_medians(os.path.join(base, "records"), args.workload)
            values = _per_layer(calls, layers, session_start_s, extra, untraced)
            units = {n: u for n, u, _ in PER_LAYER}
        else:
            values = _end_to_end(calls, first - T_START, calls.scale())
            units = {n: u for n, u, _ in END_TO_END}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": machine.cores, "heap_mb": machine.heap_mb,
        "offheap_mb": machine.offheap_mb,
        "steal_pct": round(100.0 * delta[7] / max(1, sum(delta)), 3),
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "measured_s": round(measured_s, 3),
        "untraced_runs": untraced_runs,
        "scale": calls.scale(),
        "as_measured": _end_to_end(calls, first - T_START, 1.0),
        "run_s": round(time.time() - T_START, 3),
        "counts": {
            cls: {"warmup": len(calls.walls(cls, timed_only=False)) - len(calls.walls(cls)),
                  "timed": len(calls.walls(cls))}
            for cls in CLASSES
        },
        "tail": {
            cls: dict(zip(("percentile", "value_s"), tail(calls.walls(cls))), n=len(calls.walls(cls)))
            for cls in CLASSES
        },
        "walls": {
            cls: [[round(s.wall, 4), s.timed, round(s.jvm_cpu, 2), round(s.steal, 2)]
                  for s in calls.spans if s.cls == cls]
            for cls in CLASSES + ("load", "maint", "ref")
        },
    }
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    with open(os.path.join(base, "records", os.path.basename(work) + ".json"), "w") as f:
        json.dump(env, f)

    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
