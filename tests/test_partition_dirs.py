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


def test_mirrors_of_escaped_partitions(spark, tmp_base):
    """The Delta and Iceberg mirrors carry the unescaped partition value
    and Delta action paths are URIs, so both external readers return
    ``read()``'s rows, after a full write and after a partition-scoped
    rewrite (whose removes must name the escaped dirs' adds)."""
    from tb_lakehouse_enhanced_spark.sources.deltaread import read_delta
    from tb_lakehouse_enhanced_spark.sources.iceberg import read_iceberg
    mt = ManagedTable(spark, f"{tmp_base}/m", partition_by=("region",))
    values = ["a:b", "50%", "x y", "plain"]
    mt.overwrite(spark.createDataFrame(
        [(i, r, i) for i, r in enumerate(values)], SCHEMA))
    for step in ("overwrite", "update"):
        want = _visible(mt)
        for reader in (read_delta, read_iceberg):
            got = sorted(tuple(r) for r in reader(spark, mt.path)
                         .select("k", "region", "v").collect())
            assert got == want, (step, reader.__name__)
        mt.update(F.col("region").isin("a:b", "50%"),
                  {"v": F.col("v") + 1000})


def test_update_of_partition_only_in_deltas(spark, tmp_base):
    """A merge-on-read upsert opens partition pt=7, which no base file
    lists; a partition-scoped update of pt=7 must still apply."""
    mt = ManagedTable(spark, f"{tmp_base}/d", partition_by=("pt",))
    mt.overwrite(spark.createDataFrame(
        [(k, k % 3, k) for k in range(6)], "k long, pt int, v long"))
    mt.upsert_mor(spark.createDataFrame([(70, 7, 1)],
                                        "k long, pt int, v long"), ("k",))
    v = mt.current_version()
    mt.update(F.col("pt") == 7, {"v": F.col("v") + 100},
              stable_partitions=True)
    assert mt.current_version() == v + 1
    got = {r["k"]: r["v"] for r in mt.read().collect()}
    assert got == {**{k: k for k in range(6)}, 70: 101}


def test_seeded_partition_types_match_inference(spark, tmp_base):
    """The root schema seeded at write time equals what Spark's
    partition inference reads back; a column whose values it cannot
    type leaves the root to inference (no seed)."""
    def _seed(name, cols):
        names = list(cols)
        n = max(len(v) for v in cols.values())
        mt = ManagedTable(spark, f"{tmp_base}/{name}",
                          partition_by=tuple(names))
        mt.overwrite(spark.createDataFrame(
            [(i, *[cols[c][i % len(cols[c])] for c in names])
             for i in range(n)],
            "k long, " + ", ".join(f"{c} string" for c in names)))
        root = mt._commit(mt.current_version())["dir"]
        return (spark._tb_root_schema_cache.get((mt.path, root)),
                os.path.join(mt.path, root))

    seeded, root = _seed("typed", {"i": ["7", "-3", "007", None],
                                   "l": ["1", str(2 ** 40)],
                                   "s": ["a", None]})
    inferred = spark.read.parquet(root).schema
    assert [(f.name, f.dataType) for f in seeded.fields] == \
        [(f.name, f.dataType) for f in inferred.fields]
    assert [seeded[c].dataType.simpleString() for c in "ils"] == \
        ["int", "bigint", "string"]
    for name, values in (("frac", ["1", "1.5"]), ("mixed", ["a", "1"])):
        assert _seed(name, {"p": values})[0] is None, name


def test_read_of_many_partition_dirs_launches_no_job(spark, tmp_base):
    """A materialized version with more leaf dirs than Spark's default
    parallel-listing threshold (32) is listed on the driver: building
    the read launches no Spark job (a 40-task listing job otherwise)."""
    mt = ManagedTable(spark, f"{tmp_base}/wide", partition_by=("p",))
    mt.overwrite(spark.range(0, 120, 1, 1)
                 .select(F.col("id").alias("k"), (F.col("id") % 40).alias("p")))
    assert len([d for d in os.listdir(mt._version_dir(mt.current_version()))
                if d.startswith("p=")]) == 40
    # the write seeds the root schema (integer partition values), so
    # even the first read runs no footer-inference job
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


def test_partition_scoped_dml_after_restore_across_layout_change(
        spark, tmp_base):
    """RESTORE of a version written under an earlier layout revives
    files whose leaf dir lacks the current layout's segments
    (``p=0/f.parquet`` under ``(p, q)``). A partition-scoped UPDATE on
    it rewrites the table whole: by leaf dir it could neither hardlink
    nor carry those files, and the version it published had
    conflicting partition dirs."""
    from tb_lakehouse_enhanced_spark.sqlfront import LakehouseSql
    lake = LakehouseSql(spark, f"{tmp_base}/lake")
    lake.sql("CREATE DATABASE stg")
    lake.sql("CREATE TABLE stg.t (k BIGINT, p BIGINT, q STRING, v BIGINT) "
             "PARTITIONED BY (p)")
    lake.sql("INSERT INTO stg.t SELECT id, id % 2, "
             "IF(id % 3 = 0, 'a', 'b'), id FROM range(24)")
    t = lake.table("stg.t")
    t.delete_mor(F.col("k") % 5 == 0, key_cols=("k",))
    old = t.current_version()
    lake.sql("CREATE OR REPLACE TABLE stg.t "
             "(k BIGINT, p BIGINT, q STRING, v BIGINT) PARTITIONED BY (p, q)")
    t = lake.table("stg.t")
    t.restore(old)
    t.update((F.col("p") == 0) & (F.col("q") == "a"),
             {"v": F.col("v") + 1000}, stable_partitions=True)
    want = sorted((k, k % 2, "a" if k % 3 == 0 else "b",
                   k + 1000 if k % 6 == 0 else k)
                  for k in range(24) if k % 5)
    assert sorted(tuple(r) for r in
                  t.read().select("k", "p", "q", "v").collect()) == want
