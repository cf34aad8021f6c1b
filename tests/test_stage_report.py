"""tools/stage_report.py reads per-stage and per-task metrics from the
in-process status store, on the session fixture whose Spark UI is off."""

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def stage_report():
    spec = importlib.util.spec_from_file_location(
        "stage_report", os.path.join(REPO, "tools", "stage_report.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def grouped_rows(spark, stage_report):
    sc = spark.sparkContext
    assert spark.conf.get("spark.ui.enabled") == "false"
    sc.setJobGroup("test_stage_report", "tagged groupBy")
    try:
        spark.range(0, 200_000, 1, 4).groupBy((F.col("id") % 13).alias("k")).agg(
            F.sum("id")
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return stage_report.stage_rows(sc, "test_stage_report")


def test_stage_rows_tagged_groupby(grouped_rows):
    """The map stage writes exactly the bytes the reduce stage reads."""
    assert len(grouped_rows) == 2
    map_stage, reduce_stage = grouped_rows
    for r in grouped_rows:
        assert r["tasks"] > 0 and r["run_s"] > 0 and r["wall_s"] is not None
    assert map_stage["tasks"] == 4 and map_stage["shuffle_read_bytes"] == 0
    assert map_stage["shuffle_write_bytes"] > 0
    assert map_stage["shuffle_write_bytes"] == reduce_stage["shuffle_read_bytes"]


def test_task_rows_one_per_task(spark, stage_report, grouped_rows):
    reduce_stage = grouped_rows[1]
    tasks = stage_report.task_rows(
        spark.sparkContext, reduce_stage["stage"], reduce_stage["attempt"]
    )
    assert len(tasks) == reduce_stage["tasks"]
    # the 13 grouping keys' partial aggregates from the 4 map tasks
    assert sum(t["records"] for t in tasks) == 4 * 13


def test_session_points_python_workers_at_the_package(spark):
    """Python workers import `coastsat_spark` from the PYTHONPATH that
    get_spark sets, so a tool started outside the repo root still runs
    its Python tasks."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executorEnv.PYTHONPATH") == REPO
