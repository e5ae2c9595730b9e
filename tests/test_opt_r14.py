"""Focused pins for the round-14 optimization changes that touched
operator internals: the driver-side (pyarrow) MOR carry subtraction
and the batched ``append_many`` ingest path."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable


# case -> (partition columns as expressions over ``id``, the UPDATE
# condition that picks the touched partitions); built lazily, a Column
# needs the session
_CASES = {
    "int_partition": lambda: ({"pt": F.col("id") % 4}, F.col("pt") == 1),
    # a tombstoned (k, NULL) key also present in the touched partition:
    # Spark's null-unsafe anti join keeps that tombstone
    "null_key_component": lambda: (
        {"pt": F.col("id") % 4}, F.col("pt") == 1),
    "escaped_string_partition": lambda: (
        {"pt": F.element_at(F.array(*map(F.lit, ("a:b", "x y", "p"))),
                            (F.col("id") % 3 + 1).cast("int"))},
        F.col("pt").isin("a:b", "x y")),
    # touched (1, a) and (2, b) only: membership is per row, not the
    # cross product of per-column value sets
    "two_partition_columns": lambda: (
        {"pt": F.col("id") % 4,
         "qt": F.when(F.col("id") % 3 == 0, "a").otherwise("b")},
        ((F.col("pt") == 1) & (F.col("qt") == "a"))
        | ((F.col("pt") == 2) & (F.col("qt") == "b"))),
}


def _mor_table(spark, root: str, case: str):
    """overwrite -> upsert_mor -> delete_mor on a small partitioned
    table; returns it with the case's UPDATE condition."""
    parts, cond = _CASES[case]()
    sub = F.col("id") % 100
    if case == "null_key_component":
        sub = F.when(F.col("id") % 10 != 1, sub)    # k=121: (121, NULL)
    base = (spark.range(0, 300)
            .select(F.col("id").alias("k"), sub.alias("sub"),
                    *[e.alias(c) for c, e in parts.items()],
                    (F.col("id") * 2.0).alias("val"),
                    F.concat(F.lit("s"), F.col("id") % 5).alias("tag")))
    t = ManagedTable(spark, os.path.join(root, "t"),
                     partition_by=tuple(parts))
    t.overwrite(base)
    t.upsert_mor(base.filter(F.col("k") % 7 == 0)
                 .withColumn("val", F.col("val") + 100),
                 ("k", "sub"))
    t.delete_mor(F.col("k") % 11 == 0, key_cols=("k", "sub"))
    return t, cond


def _sidecar_rows(t: ManagedTable, dirs) -> list:
    import pyarrow.parquet as pq
    out = []
    for d in dirs or []:
        for f in sorted(glob.glob(os.path.join(t.path, d, "*.parquet"))):
            tab = pq.read_table(f)
            cols = sorted(tab.schema.names)
            out.extend(map(tuple, zip(
                *[tab.column(c).to_pylist() for c in cols])))
    return sorted(out, key=repr)


@pytest.mark.parametrize("case", list(_CASES))
def test_carry_driver_fast_matches_spark_path(spark, tmp_base, case):
    """The pyarrow carry must be row-for-row identical to the Spark
    carry of the same MOR state (same carried delta/tombstone content,
    preserved field ids) and launch no Spark job; the UPDATE it serves
    leaves the expected visible table."""
    from functools import reduce
    from operator import and_, or_

    import pyarrow.parquet as pq
    t, cond = _mor_table(spark, tmp_base, case)
    pb = list(t.partition_by)
    cur = t.current_version()
    meta0 = t._commit(cur)
    before = t.read()
    touched = before.filter(cond).select(*pb).distinct().collect()
    member = reduce(or_, (reduce(and_, (F.col(c).eqNullSafe(F.lit(r[c]))
                                        for c in pb)) for r in touched))
    sc = spark.sparkContext

    def _carry(group, v):
        sc.setJobGroup(group, group)
        try:
            out = t._carry_mor_minus_touched(meta0, member, v,
                                             touched=touched)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    fast, fast_jobs = _carry(f"carry-driver-{case}", cur + 1)
    t.CARRY_DRIVER_MAX_BYTES = 0
    ref, ref_jobs = _carry(f"carry-spark-{case}", cur + 2)
    del t.CARRY_DRIVER_MAX_BYTES
    assert fast_jobs == [] and ref_jobs != []
    assert fast.get("deltas") and fast.get("tombstones")
    for k in ("deltas", "tombstones"):
        assert _sidecar_rows(t, fast[k]) == _sidecar_rows(t, ref[k])
    # field ids survive the pyarrow round trip
    fa = glob.glob(os.path.join(t.path, fast["tombstones"][0],
                                "*.parquet"))[0]
    ids = [(f.metadata or {}).get(b"PARQUET:field_id")
           for f in pq.read_schema(fa)]
    assert all(i is not None for i in ids)
    want = sorted(map(tuple, before.withColumn(
        "tag", F.when(cond, "dml").otherwise(F.col("tag"))).collect()),
        key=repr)
    t.update(cond, {"tag": F.lit("dml")}, stable_partitions=True)
    assert sorted(map(tuple, t.read().collect()), key=repr) == want
    assert len(want) > 0


def test_carry_driver_fast_gates_fall_back(spark, tmp_base):
    """A timestamp column (no byte-identical Arrow round trip under
    this session's INT96 writes) must push the carry to the Spark
    path — and that path must still be correct."""
    base = (spark.range(0, 120)
            .select(F.col("id").alias("k"),
                    (F.col("id") % 3).alias("pt"),
                    F.lit("2024-01-01 00:00:00").cast("timestamp")
                    .alias("ts")))
    t = ManagedTable(spark, os.path.join(tmp_base, "t"),
                     partition_by=("pt",))
    t.overwrite(base)
    t.upsert_mor(base.filter(F.col("k") % 5 == 0)
                 .withColumn("ts", F.expr("ts + interval 1 day")),
                 ("k",))
    t.delete_mor(F.col("k") % 7 == 0, key_cols=("k",))
    t.update(F.col("pt") == 1, {"k": F.col("k")},
             stable_partitions=True)
    got = {r["k"] for r in t.read().collect()}
    want = {k for k in range(120) if k % 7 != 0}
    assert got == want


def test_append_many_matches_sequential_appends(spark, tmp_base):
    """append_many must leave commit-for-commit the same log shape as
    k sequential appends: same version count, same per-commit op and
    added-file partitioning, same checkpoint folds, same final state,
    and a change feed identical across the chain."""
    src = spark.range(0, 400).select(
        "id", (F.col("id") % 10).alias("b"),
        (F.col("id") * 1.5).alias("v"))

    def build(path, batched):
        t = ManagedTable(spark, path)
        t.LIVE_CHECKPOINT_EVERY = 3
        t.overwrite(src.filter(F.col("b") == 0))
        batches = [src.filter(F.col("b") == i) for i in range(1, 7)]
        if batched:
            t.append_many(batches)
        else:
            for b in batches:
                t.append(b)
        return t

    a = build(os.path.join(tmp_base, "many"), True)
    b = build(os.path.join(tmp_base, "seq"), False)
    assert a.current_version() == b.current_version() == 6
    for v in range(7):
        ca, cb = a._commit(v), b._commit(v)
        assert ca["op"] == cb["op"]
        assert ca.get("live_base") == cb.get("live_base")
        assert len(ca.get("added_files") or []) \
            == len(cb.get("added_files") or [])
    # checkpoint folds fired at the same cadence
    cps_a = sorted(glob.glob(os.path.join(a.path, "_live_v*.json")))
    cps_b = sorted(glob.glob(os.path.join(b.path, "_live_v*.json")))
    assert [os.path.basename(p) for p in cps_a] \
        == [os.path.basename(p) for p in cps_b]
    assert sorted(map(tuple, a.read().collect())) \
        == sorted(map(tuple, b.read().collect()))
    fa = a.table_changes(1, 6).drop("_commit_timestamp").collect()
    fb = b.table_changes(1, 6).drop("_commit_timestamp").collect()
    assert sorted(map(tuple, fa)) == sorted(map(tuple, fb))


def test_commit_log_partition_pruning(spark, tmp_base):
    """Log-native scans must prune their FILE LIST to the requested
    partitions (the multi-path scan can't partition-prune by itself),
    and the partition-only conjuncts of a mixed predicate must narrow
    the probe's candidates metadata-side — with identical DML
    results."""
    src = spark.range(0, 300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), F.col("id") % 3).alias("p"),
        (F.col("id") * 1.0).alias("v"))
    t = ManagedTable(spark, os.path.join(tmp_base, "t"),
                     partition_by=("p",))
    t.overwrite(src.filter(F.col("k") % 2 == 0))
    t.append(src.filter(F.col("k") % 2 == 1))     # log-native chain
    cur = t.current_version()
    meta = t._commit(cur)
    pruned = t._base_scan(cur, meta, partition_rels={"p=p1"})
    files = {r[0] for r in pruned.select("_metadata.file_path")
             .distinct().collect()}
    assert files and all("/p=p1/" in f for f in files)
    full = {r[0] for r in t._base_scan(cur, meta)
            .select("_metadata.file_path").distinct().collect()}
    assert len(files) < len(full)
    # pruned scan == full scan restricted to the partition
    assert sorted(map(tuple, pruned.drop("p").collect())) == sorted(
        map(tuple, t._base_scan(cur, meta).filter(F.col("p") == "p1")
            .drop("p").collect()))
    # conjunct candidates: partition-only conjunct of a mixed predicate
    cond = (F.col("p") == "p1") & (F.col("k") % 7 == 0)
    cand = t._conjunct_candidates(cond, cur, meta)
    assert cand is not None and [r["p"] for r in cand] == ["p1"]
    # and the DML through it matches the brute-force expectation
    t.update(cond, {"v": F.col("v") + 1000})
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    want = sorted((k, k * 1.0 + (1000 if (k % 3 == 1 and k % 7 == 0)
                                 else 0)) for k in range(300))
    assert got == want
    head = t._commit(t.current_version())
    assert head.get("partitions_rewritten") == ["p=p1"]


def test_mat_from_arrow_matches_matrix(spark):
    """The Arrow-native matrix builder must be bit-identical to the
    pandas one (same float32 -> float64 widening, same normalization)
    — the LSH buckets and cosine sims downstream then cannot differ."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from tb_lakehouse_enhanced_spark.operators.similarity import (
        _mat_from_arrow, _matrix,
    )
    rng = [[(i * 37 + j * 11) % 97 / 17.0 - 2.5 for j in range(8)]
           for i in range(50)]
    rng[3] = [0.0] * 8          # zero vector: norm guard path
    f32 = [np.asarray(v, dtype=np.float32) for v in rng]
    via_pd = _matrix(pd.Series(f32))
    via_pa = _mat_from_arrow(
        pa.array([v.tolist() for v in f32],
                 type=pa.list_(pa.float32())))
    assert via_pd.dtype == via_pa.dtype == np.float64
    assert (via_pd == via_pa).all()     # bit-identical, not allclose
    # chunked + sliced inputs hit the offsets-handling path
    chunked = pa.chunked_array([
        pa.array([v.tolist() for v in f32[:20]],
                 type=pa.list_(pa.float32())),
        pa.array([v.tolist() for v in f32[20:]],
                 type=pa.list_(pa.float32()))])
    assert (_mat_from_arrow(chunked) == via_pd).all()
    sliced = pa.array([v.tolist() for v in f32],
                      type=pa.list_(pa.float32())).slice(10, 25)
    assert (_mat_from_arrow(sliced) == via_pd[10:35]).all()


def test_append_many_empty_and_bootstrap(spark, tmp_base):
    t = ManagedTable(spark, os.path.join(tmp_base, "t"))
    assert t.append_many([]) is t
    src = spark.range(0, 30).select("id")
    t.append_many([src.filter(F.col("id") < 10),
                   src.filter((F.col("id") >= 10) & (F.col("id") < 20)),
                   src.filter(F.col("id") >= 20)])
    # first batch bootstraps (overwrite), the rest append
    assert t.current_version() == 2
    assert t.read().count() == 30
