"""Hive partition directories: escaped partition values and driver-side
partition-dir listing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tb_lakehouse_enhanced_spark.operators.merge import ScdConfig
from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable

# Spark writes ``: % / =`` as %XX in the dir name; space and unicode raw
VALUES = ["a:b", "p%q", "s/t", "k=v", "x y", "ü€", "plain"]
ROWS = [(i, VALUES[i % len(VALUES)], i * 10) for i in range(2 * len(VALUES))]
SCHEMA = "k long, region string, v long"


@pytest.fixture()
def table(spark, tmp_base):
    mt = ManagedTable(spark, f"{tmp_base}/t", partition_by=("region",))
    mt.overwrite(spark.createDataFrame(ROWS, SCHEMA))
    dirs = {d for d in os.listdir(mt._version_dir(mt.current_version()))
            if d.startswith("region=")}
    assert {"region=a%3Ab", "region=p%25q", "region=s%2Ft",
            "region=k%3Dv", "region=x y", "region=ü€"} <= dirs
    return mt


def _visible(mt):
    return sorted(tuple(r) for r in
                  mt.read().select("k", "region", "v").collect())


def test_hive_val_matches_spark_escaping():
    hv = ManagedTable._hive_val
    assert [hv(v) for v in VALUES] == [
        "a%3Ab", "p%25q", "s%2Ft", "k%3Dv", "x y", "ü€", "plain"]
    assert hv(None) == hv("") == "__HIVE_DEFAULT_PARTITION__"
    assert hv(7) == "7"


def test_update_on_escaped_partitions(spark, table):
    want = list(ROWS)
    for value in VALUES:
        table.update(F.col("region") == value, {"v": F.col("v") + 1000})
        want = [(k, r, v + 1000 if r == value else v) for k, r, v in want]
        assert _visible(table) == sorted(want), value


def test_delete_on_escaped_partitions(spark, table):
    for n, value in enumerate(VALUES, 1):
        table.delete(F.col("region") == value)
        assert _visible(table) == sorted(
            t for t in ROWS if t[1] not in VALUES[:n]), value


def test_merge_into_escaped_partitions(spark, table):
    # one MERGE touching every partition: each escaped dir must count as
    # rewritten, not be linked forward next to its rewrite
    src = spark.createDataFrame([(k, r, v + 7) for k, r, v in ROWS], SCHEMA)
    table.merge_into(src, ScdConfig(keys=("k",), tracked=("region", "v")),
                     "2024-01-01 00:00:00")
    assert _visible(table) == sorted((k, r, v + 7) for k, r, v in ROWS)


def test_read_of_many_partition_dirs_launches_no_job(spark, tmp_base):
    """A materialized version with more leaf dirs than Spark's default
    parallel-listing threshold (32) is listed on the driver: building
    the read launches no Spark job (a 40-task listing job otherwise)."""
    mt = ManagedTable(spark, f"{tmp_base}/wide", partition_by=("p",))
    mt.overwrite(spark.range(0, 120, 1, 1)
                 .select(F.col("id").alias("k"), (F.col("id") % 40).alias("p")))
    assert len([d for d in os.listdir(mt._version_dir(mt.current_version()))
                if d.startswith("p=")]) == 40
    # the first read after a partitioned write infers the root schema
    # from a footer (a one-task job, cached per process); count the
    # steady-state read only
    mt.read()
    sc = spark.sparkContext
    group = "partition-dirs-read"
    sc.setJobGroup(group, group)
    try:
        df = ManagedTable(spark, f"{tmp_base}/wide",
                          partition_by=("p",)).read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.count() == 120
