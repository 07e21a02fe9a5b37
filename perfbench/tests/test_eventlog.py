"""Event-log parser checks on a tiny traced query, and the metric names the
benchmark prints against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Three calls under tracing: a partitioned window with a shuffle, an
    unpartitioned window, and a cross join."""
    work = str(tmp_path_factory.mktemp("work"))
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = f"{work}/warehouse"
    os.makedirs(f"{work}/eventlog")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = harness.start_spark(work, harness.Machine(2, 1024, 512), trace=True, app="eventlog-test")
    calls = harness.Calls(spark.sparkContext, True)
    try:
        df = spark.range(0, 20_000, numPartitions=4).withColumn("k", F.col("id") % 7)
        calls.call("bulk", "partitioned", lambda: df.select(
            "k", F.lag("id").over(Window.partitionBy("k").orderBy("id")).alias("prev")
        ).groupBy("k").agg(F.max("prev")).collect(), timed=True, rows=20_000)
        calls.call("small", "unpartitioned", lambda: df.select(
            F.row_number().over(Window.orderBy("id")).alias("rn")
        ).agg(F.max("rn")).collect(), timed=True, rows=20_000)
        calls.call("read", "cross", lambda: df.limit(50).crossJoin(
            df.limit(40).select(F.col("id").alias("j"))
        ).where(F.col("id") < F.col("j")).count(), timed=True, rows=50)
        calls.reference(spark, timed=True)
    finally:
        harness.stop_spark(spark)
    (name,) = os.listdir(f"{work}/eventlog")
    log = eventlog.read_log(f"{work}/eventlog/{name}")
    return log, calls, eventlog.call_metrics(log, calls.spans, cores=2)


def test_stage_run_time_equals_task_run_times(traced):
    log, _, _ = traced
    assert log.stages
    for stage in log.stages.values():
        assert stage.run_time_ms == sum(t["run_ms"] for t in stage.tasks)
    assert sum(s.run_time_ms for s in log.stages.values()) > 0


def test_every_job_attributed_to_exactly_one_span(traced):
    log, calls, metrics = traced
    span_ids = [s.span_id for s in calls.spans]
    assert log.job_groups
    assert all(group in span_ids for group in log.job_groups.values())
    assert sum(m["jobs"] for m in metrics.values()) == len(log.job_groups)
    assert all(metrics[s]["jobs"] >= 1 for s in span_ids)


def test_plan_shape_per_call(traced):
    _, calls, metrics = traced
    by_name = {s.name: metrics[s.span_id] for s in calls.spans}
    assert by_name["partitioned"]["windows"] >= 1
    assert by_name["partitioned"]["unpartitioned_windows"] == 0
    assert by_name["partitioned"]["exchanges"] >= 1
    assert by_name["unpartitioned"]["unpartitioned_windows"] >= 1
    assert by_name["cross"]["nested_loop_joins"] >= 1
    for m in by_name.values():
        assert 0 <= m["driver_only_s"] and 0 <= m["planning_s"]


def test_printed_metric_names_match_benchmark_json(traced):
    _, calls, metrics = traced
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = run._end_to_end(calls, setup_s=1.0, scale=calls.scale())
    layers = run._per_layer(calls, metrics, session_start_s=1.0, extra={}, untraced={})
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    assert sorted(layers) == sorted(m["name"] for m in spec["per_layer"])
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        e[:3] for e in run.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
