"""Each MERGE / merge-on-read upsert source is evaluated once per
statement, and its materialized blocks are released when the statement
ends."""

from __future__ import annotations

import os

import pytest

from tb_lakehouse_enhanced_spark.operators.merge import ScdConfig
from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
from tb_lakehouse_enhanced_spark.sqlfront import (
    LakehouseSql,
    MergeCardinalityError,
)

SCHEMA = "k long, p long, v long"
TARGET = [(k, k % 4, k) for k in range(40)]


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _counted(spark, rows, schema=SCHEMA):
    """A driver-side batch whose every evaluated row bumps an
    accumulator (the Python ``map`` runs once per evaluation)."""
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    def tick(r):
        acc.add(1)
        return r
    return spark.createDataFrame(sc.parallelize(rows, 2).map(tick),
                                 schema), acc


MERGE = """
MERGE INTO db.t AS tgt USING src AS s
ON tgt.k = s.k {extra}
WHEN MATCHED THEN UPDATE SET tgt.v = s.v
WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
"""


def test_sql_merges_read_source_once(spark, tmp_base):
    lake = LakehouseSql(spark, f"{tmp_base}/lake")
    t = ManagedTable(spark, f"{lake.root}/db/t", partition_by=("p",))
    t.overwrite(spark.createDataFrame(TARGET, SCHEMA))
    want = {k: v for k, _p, v in TARGET}
    for route, extra, keys in (
            ("partition-scoped", "AND tgt.p = s.p", (1, 2, 41, 42)),
            ("full-rewrite", "", (3, 43))):
        rows = [(k, k % 4, -k) for k in keys]
        src, acc = _counted(spark, rows)
        src.createOrReplaceTempView("src")
        before = _persistent(spark)
        lake.sql(MERGE.format(extra=extra))
        assert acc.value == len(rows), route
        assert _persistent(spark) == before, route
        meta = t._commit(t.current_version())
        assert ("partitions_rewritten" in meta) == \
            (route == "partition-scoped")
        want.update({k: v for k, _p, v in rows})
        assert {r["k"]: r["v"] for r in t.read().collect()} == want, route
    # a MERGE that raises releases its source too
    src, _acc = _counted(spark, [(1, 1, 5), (1, 1, 6)])
    src.createOrReplaceTempView("src")
    before = _persistent(spark)
    with pytest.raises(MergeCardinalityError):
        lake.sql(MERGE.format(extra=""))
    assert _persistent(spark) == before


def test_merge_into_and_upsert_mor_read_source_once(spark, tmp_base):
    t = ManagedTable(spark, f"{tmp_base}/t", partition_by=("p",))
    t.overwrite(spark.createDataFrame(TARGET, SCHEMA))
    want = {k: v for k, _p, v in TARGET}
    rows = [(k, k % 4, -k) for k in (3, 5, 50)]
    src, acc = _counted(spark, rows)
    before = _persistent(spark)
    t.merge_into(src, ScdConfig(keys=("k",), tracked=("v",)),
                 "2024-01-01 00:00:00")
    assert acc.value == len(rows)
    assert _persistent(spark) == before
    want.update({k: v for k, _p, v in rows})
    # the hive-discovered partition column reads back as int: the long
    # batch column is aligned, and the cast check is a second consumer
    assert dict(t.read().dtypes)["p"] == "int"
    rows = [(k, k % 4, -k) for k in (7, 60)]
    src, acc = _counted(spark, rows)
    t.upsert_mor(src, ("k",))
    assert acc.value == len(rows)
    assert _persistent(spark) == before
    keys, kacc = _counted(spark, [(7, 3)], "k long, p long")
    t.delete_mor_keys(keys.select("k"), ("k",))
    assert kacc.value == 1
    assert _persistent(spark) == before
    want.update({60: -60})
    del want[7]
    assert {r["k"]: r["v"] for r in t.read().collect()} == want


def test_source_answering_differently_per_evaluation(spark, tmp_base):
    """A source that reads an external feed anew per evaluation: the
    first evaluation returns keys of partition 0 only, later ones also
    key 1 (partition 1). Evaluated per consumer, the touched set comes
    from the first answer while the slice write inserts key 1 next to
    its hardlinked old copy — a duplicate key."""
    t = ManagedTable(spark, f"{tmp_base}/t", partition_by=("p",))
    t.overwrite(spark.createDataFrame(
        [(k, k % 2, k) for k in range(10)], SCHEMA))
    counter = os.path.join(tmp_base, "evaluations")

    def feed(_):
        n = os.path.getsize(counter) if os.path.exists(counter) else 0
        with open(counter, "a") as f:
            f.write(".")
        keys = (0, 2) if n == 0 else (0, 1, 2)
        return [(k, k % 2, 100 + k) for k in keys]
    src = spark.createDataFrame(
        spark.sparkContext.parallelize([0], 1).flatMap(feed), SCHEMA)
    t.merge_into(src, ScdConfig(keys=("k",), tracked=("v",)),
                 "2024-01-01 00:00:00", stable_partitions=True)
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == sorted([(k, 100 + k if k in (0, 2) else k)
                          for k in range(10)])
