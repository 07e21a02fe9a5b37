"""Per-call layer metrics from a Spark event log.

The log must be uncompressed and non-rolling (harness.start_spark sets
that).  Each timed call ran under its own job group (harness.Calls), and
Spark stamps that group on every job, stage and SQL execution it starts, so
attribution is exact: a job belongs to the call whose span id is its group.

Per call, this module measures:

* where the wall went: ``planning_s`` (call start to its first job),
  ``driver_only_s`` (the part of the wall no stage of the call was running),
  ``serial_stage_s`` (wall of stages with fewer tasks than cores);
* what the executors did: task run time, GC, spill, shuffle and output
  bytes, input records, the slowest stage's max/median task time;
* the shape of the plans run: shuffle exchanges, window operators (and
  those without a partition spec) and nested-loop joins in the final
  physical plan of each root SQL execution.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Stage:
    group: str
    n_tasks: int = 0
    submitted_ms: int = 0
    completed_ms: int = 0
    run_time_ms: int = 0  # the stage's executorRunTime accumulable
    tasks: list[dict] = field(default_factory=list)


@dataclass
class Log:
    job_groups: dict[int, str] = field(default_factory=dict)
    job_submit_ms: dict[int, int] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    sql_groups: dict[int, str] = field(default_factory=dict)
    sql_plans: dict[int, str] = field(default_factory=dict)
    sql_is_root: dict[int, bool] = field(default_factory=dict)


def _accum(stage_info: dict, name: str) -> int:
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            return int(a.get("Value") or 0)
    return 0


def read_log(path: str) -> Log:
    log = Log()
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                log.job_groups[e["Job ID"]] = group
                log.job_submit_ms[e["Job ID"]] = e["Submission Time"]
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                st = log.stages.setdefault(key, Stage(stage_group.get(key[0], "")))
                st.n_tasks = info["Number of Tasks"]
                st.submitted_ms = info.get("Submission Time", 0)
                st.completed_ms = info.get("Completion Time", 0)
                st.run_time_ms = _accum(info, "internal.metrics.executorRunTime")
            elif ev == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                st = log.stages.setdefault(key, Stage(stage_group.get(key[0], "")))
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st.tasks.append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "shuffle_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "in_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                })
            elif ev == SQL_START:
                xid = e["executionId"]
                log.sql_groups[xid] = e.get("jobGroupId") or ""
                log.sql_plans[xid] = e.get("physicalPlanDescription", "")
                log.sql_is_root[xid] = e.get("rootExecutionId", xid) == xid
            elif ev == SQL_AQE_UPDATE:
                log.sql_plans[e["executionId"]] = e["physicalPlanDescription"]
    return log


def _top_level_brackets(text: str) -> list[str]:
    """The ``[...]`` groups of ``text`` that are not nested in another group."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "[(":
            if depth == 0 and ch == "[":
                start = i
            depth += 1
        elif ch in "])":
            depth -= 1
            if depth == 0 and ch == "]":
                groups.append(text[start + 1 : i])
    return groups


def plan_shape(description: str) -> dict[str, int]:
    """Operator counts of the plan a formatted physical-plan description
    ends with: the adaptive final (or current) plan when there is one."""
    tree = description.split("\n\n", 1)[0]
    for marker in ("== Final Plan ==", "== Current Plan =="):
        if marker in tree:
            tree = tree.split(marker, 1)[1].split("== Initial Plan ==", 1)[0]
            break
    # tree lines read "+- * Name [args] (id)[, Statistics(...)]"
    nodes = [
        m.groups() for m in map(re.compile(r"[\s:+|*-]*([A-Za-z]+)\b.*?\((\d+)\)").match,
                                tree.splitlines()) if m
    ]
    names = [n for n, _ in nodes]
    unpartitioned = 0
    for name, node_id in nodes:
        if name != "Window":
            continue
        m = re.search(rf"\n\({node_id}\) Window\n(?:.*\n)*?Arguments: (.*)", description)
        # Arguments: [window exprs], [partition spec], [order spec], where
        # Spark leaves out an empty spec; only an order spec has directions
        specs = _top_level_brackets(m.group(1))[1:] if m else []
        if not any(g.strip() and not re.search(r" (ASC|DESC)\b", g) for g in specs):
            unpartitioned += 1
    return {
        "exchanges": names.count("Exchange"),
        "windows": names.count("Window"),
        "unpartitioned_windows": unpartitioned,
        "nested_loop_joins": names.count("BroadcastNestedLoopJoin") + names.count("CartesianProduct"),
    }


def _union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def call_metrics(log: Log, spans, cores: int) -> dict[str, dict[str, float]]:
    """Layer metrics of each span, keyed by span id."""
    jobs = defaultdict(list)
    for jid, group in log.job_groups.items():
        jobs[group].append(jid)
    stages = defaultdict(list)
    for st in log.stages.values():
        stages[st.group].append(st)
    shapes = defaultdict(lambda: defaultdict(int))
    for xid, group in log.sql_groups.items():
        if log.sql_is_root[xid]:
            for k, v in plan_shape(log.sql_plans[xid]).items():
                shapes[group][k] += v

    out = {}
    for sp in spans:
        lo, hi = int(sp.start * 1000), int(sp.end * 1000)
        sts = stages[sp.span_id]
        tasks = [t for st in sts for t in st.tasks]
        first_job = min((log.job_submit_ms[j] for j in jobs[sp.span_id]), default=hi)
        busy = _union_ms([(st.submitted_ms, st.completed_ms) for st in sts], lo, hi)
        skews = [
            max(r) / statistics.median(r)
            for r in ([t["run_ms"] for t in st.tasks] for st in sts)
            if len(r) >= 2 and statistics.median(r) > 0
        ]
        scans = [st.n_tasks for st in sts if any(t["in_bytes"] for t in st.tasks)]
        m = {
            "planning_s": max(0, first_job - lo) / 1000,
            "driver_only_s": (hi - lo - busy) / 1000,
            "jobs": len(jobs[sp.span_id]),
            "stages": len(sts),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "spill_bytes": sum(t["spill"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_r"] for t in tasks),
            "output_bytes": sum(t["out_bytes"] for t in tasks),
            "input_records": sum(t["in_records"] for t in tasks),
            "serial_stage_s": sum(
                st.completed_ms - st.submitted_ms for st in sts if st.n_tasks < cores
            ) / 1000,
            "slowest_stage_skew": max(skews, default=1.0),
            "scan_tasks_min": min(scans, default=0),
        }
        m.update(shapes[sp.span_id])
        for k in ("exchanges", "windows", "unpartitioned_windows", "nested_loop_joins"):
            m.setdefault(k, 0)
        out[sp.span_id] = m
    return out
