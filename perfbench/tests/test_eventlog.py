"""The event-log reader on a tiny traced Spark run: jobs are charged to
the innermost span holding their submission, including jobs submitted
from a thread pool, and task metrics roll up per span."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.eventlog import MEASURES, Spans, attribute, span_metrics


def test_attribute_picks_innermost_span():
    spans = [{"name": "outer", "start": 0.0, "end": 10.0},
             {"name": "inner", "start": 2.0, "end": 4.0}]
    jobs = {0: {"submit": 1.0}, 1: {"submit": 3.0}, 2: {"submit": 11.0}}
    assert attribute(spans, jobs) == {0: 0, 1: 1}


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .getOrCreate())
    spans = Spans()
    try:
        with spans.span("scan"):
            spark.range(1000, numPartitions=4).count()
        with spans.span("outer"):
            time.sleep(0.05)
            with spans.span("shuffle"):
                spark.range(5000, numPartitions=4).selectExpr(
                    "id % 7 AS k").groupBy("k").count().collect()
        with spans.span("pooled"):
            with ThreadPoolExecutor(2) as pool:
                list(pool.map(lambda n: spark.range(n).count(), [10, 20]))
        with spans.span("idle"):
            time.sleep(0.01)
    finally:
        spark.stop()
    return span_metrics(spans.items, str(log_dir))


def test_every_span_reports_every_measure(traced):
    assert set(traced) == {"scan", "outer", "shuffle", "pooled", "idle"}
    for m in traced.values():
        assert set(MEASURES) <= set(m)


def test_jobs_go_to_the_innermost_span(traced):
    assert traced["scan"]["jobs"] >= 1
    assert traced["shuffle"]["jobs"] >= 1
    assert traced["outer"]["jobs"] == 0
    assert traced["idle"]["jobs"] == 0
    # jobs submitted from pool threads are charged by submission time
    assert traced["pooled"]["jobs"] >= 2


def test_task_metrics_roll_up(traced):
    assert traced["scan"]["task_s"] >= 0
    assert traced["shuffle"]["shuffle_mb"] > 0
    assert traced["shuffle"]["skew"] >= 1.0
    assert traced["idle"]["task_s"] == 0

