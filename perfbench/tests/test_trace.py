from __future__ import annotations

import time

import pytest

from perfbench import stats
from perfbench.trace import (
    Tracer,
    event_log_conf,
    find_event_log,
    parse_event_log,
)


def test_self_time_subtracts_direct_children():
    tr = Tracer(True)
    with tr.span("outer", rid="r1"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    assert [s.rid for s in tr.spans] == ["r1", "r1"]
    assert tr.spans[1].parent == 0
    self_s = tr.self_times()
    assert self_s["inner"] == pytest.approx(0.03, abs=0.02)
    assert self_s["outer"] == pytest.approx(0.02, abs=0.02)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.self_times() == {}


@pytest.fixture()
def tiny_event_log(tmp_path):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[2]").appName("perfbench-trace")
    for k, v in {**event_log_conf(str(tmp_path / "ev")),
                 "spark.ui.enabled": "false",
                 "spark.sql.shuffle.partitions": "3",
                 "spark.sql.adaptive.enabled": "false"}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    try:
        sc.setLocalProperty("spark.jobGroup.id", "q#0:exec")
        df = spark.range(0, 10_000, numPartitions=4)
        df.groupBy((df.id % 7).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", "q#0:build")
        spark.range(0, 100, numPartitions=1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        app_id = sc.applicationId
    finally:
        spark.stop()
    return find_event_log(str(tmp_path / "ev"), app_id)


def test_event_log_parser_groups_stages_by_job_group(tiny_event_log):
    groups = parse_event_log(tiny_event_log)
    exe, build = groups["q#0:exec"], groups["q#0:build"]
    assert exe["jobs"] == 1
    assert exe["stages"] == 2            # map side + reduce side
    assert exe["tasks"] == 4 + 3
    assert exe["shuffle_write_mb"] > 0
    assert exe["cpu_s"] > 0
    assert build["jobs"] >= 1
    assert build["single_task_stages"] >= 1


def test_cpu_of_jit_compiler_threads_is_split_from_work(tiny_event_log):
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    work, jit = stats.tree_cpu_s(jvm)
    assert work > 0 and jit > 0
    assert stats.tree_cpu_s(None)[1] == 0.0   # no JVM, no JIT threads
