"""Model-based property test for the Iceberg mirror (r12).

Random commit sequences — appends, MOR upserts/deletes,
partition-scoped DML, resolving overwrites, restores — drive one
managed table, and after EVERY commit the table reconstructed from
the Iceberg metadata alone (``read_iceberg``) must equal the engine's
own read.  Complements the scripted 14-step history in
test_iceberg_mirror.py the same way the engine's MOR/SCD property
suites complement their example tests: the generator explores
interleavings (delete-then-reappend, upsert-over-upsert,
restore-into-MOR-debt) nobody scripts by hand.

Derandomized (fixed example set per hypothesis version) so CI is
stable; each example builds its own table directory.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tb_lakehouse_enhanced_spark.sources.iceberg import read_iceberg
from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable

_OP = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 6)),
    st.tuples(st.just("upsert"), st.integers(0, 6)),
    st.tuples(st.just("delete"), st.integers(0, 6)),
    st.tuples(st.just("update_part"), st.integers(0, 2)),
    st.tuples(st.just("overwrite"), st.integers(0, 0)),
    st.tuples(st.just("compact"), st.integers(0, 0)),
    st.tuples(st.just("restore"), st.integers(0, 7)),
)


# partition values: characters Spark hive-escapes in dir names (: % / =)
# next to ones it writes raw (space, unicode)
_LABELS = st.lists(
    st.text(alphabet=[":", "%", "/", "=", " ", "ü", "€", "p"],
            min_size=1, max_size=3),
    min_size=3, max_size=3, unique=True)


def _batch(spark, labels, lo, hi, val=None):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.element_at(F.array(*[F.lit(x) for x in labels]),
                     (F.col("id") % 3 + 1).cast("int")).alias("pt"),
        (F.lit(val).cast("long") if val is not None
         else F.col("id") * 2).alias("val"))


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(st.lists(_OP, min_size=3, max_size=6), _LABELS)
def test_random_commit_sequences_roundtrip(spark, ops, labels):
    root = tempfile.mkdtemp(prefix="ice_prop_")
    try:
        t = ManagedTable(spark, os.path.join(root, "t"),
                         partition_by=("pt",))
        t.overwrite(_batch(spark, labels, 0, 30))
        next_lo = 30
        for kind, arg in ops:
            if kind == "append":
                t = t.append(_batch(spark, labels, next_lo,
                                    next_lo + 5 + arg))
                next_lo += 5 + arg
            elif kind == "upsert":
                lo = 2 * arg
                t = t.upsert_mor(
                    _batch(spark, labels, lo, lo + 6, 900 + arg),
                    key_cols=("id",))
            elif kind == "delete":
                lo = 3 * arg
                t = t.delete_mor(F.col("id").between(lo, lo + 4),
                                 key_cols=("id",))
            elif kind == "update_part":
                t = t.update(F.col("pt") == labels[arg],
                             {"val": F.lit(-1 - arg)},
                             stable_partitions=True)
            elif kind == "overwrite":
                t = t.overwrite(t.read())
            elif kind == "compact":
                t = t.compact(target_partitions=2)
            elif kind == "restore":
                t = t.restore(arg % (t.current_version() + 1))
            eng = {tuple(r) for r in
                   t.read().select("id", "pt", "val").collect()}
            ice = {tuple(r) for r in
                   read_iceberg(spark, t.path)
                   .select("id", "pt", "val").collect()}
            assert eng == ice, (kind, arg, len(eng), len(ice))
    finally:
        shutil.rmtree(root, ignore_errors=True)


_EVO_OP = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 4)),
    st.tuples(st.just("upsert"), st.integers(0, 4)),
    st.tuples(st.just("delete"), st.integers(0, 4)),
    st.tuples(st.just("update_part"), st.integers(0, 2)),
    st.tuples(st.just("rename"), st.integers(0, 0)),
    st.tuples(st.just("addcol"), st.integers(0, 0)),
    st.tuples(st.just("dropcol"), st.integers(0, 0)),
    st.tuples(st.just("readd"), st.integers(0, 0)),
    st.tuples(st.just("overwrite"), st.integers(0, 0)),
    st.tuples(st.just("restore"), st.integers(0, 7)),
)


def _evo_batch(spark, cols, lo, hi, val=None):
    """A batch matching the table's CURRENT logical schema: id/pt as
    usual, every extra column a deterministic function of id and the
    column name (so engine-vs-iceberg mismatches surface as value
    diffs, not just row counts)."""
    exprs = []
    for c in cols:
        if c == "id":
            exprs.append(F.col("id"))
        elif c == "pt":
            exprs.append(F.concat(F.lit("p"), F.col("id") % 3)
                         .alias("pt"))
        else:
            exprs.append(
                (F.lit(val).cast("long") if val is not None
                 else (F.col("id") * 2 + len(c)).cast("long"))
                .alias(c))
    return spark.range(lo, hi).select(*exprs)


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(st.lists(_EVO_OP, min_size=4, max_size=7))
def test_random_schema_evolution_roundtrip(spark, ops):
    """Random interleavings of schema evolution (rename / add / drop /
    re-ADD of a previously dropped NAME) with appends, MOR writes,
    partition DML, overwrites and restores — after every commit the
    Iceberg-metadata-only read must equal the engine's.  The re-add op
    pins the stale-resurrection class: a re-used column name must read
    NULL from pre-drop files, never the dropped values."""
    root = tempfile.mkdtemp(prefix="ice_evo_")
    next_id = [0]
    try:
        t = ManagedTable(spark, os.path.join(root, "t"),
                         partition_by=("pt",))
        t = t.overwrite(_evo_batch(spark, ["id", "pt", "val"], 0, 25))
        next_lo = 25
        for kind, arg in ops:
            cols = t.read().columns
            extras = [c for c in cols if c not in ("id", "pt")]
            if kind == "append":
                t = t.append(_evo_batch(spark, cols, next_lo,
                                        next_lo + 4 + arg))
                next_lo += 4 + arg
            elif kind == "upsert":
                lo = 2 * arg
                t = t.upsert_mor(
                    _evo_batch(spark, cols, lo, lo + 5, 900 + arg),
                    key_cols=("id",))
            elif kind == "delete":
                lo = 3 * arg
                t = t.delete_mor(F.col("id").between(lo, lo + 3),
                                 key_cols=("id",))
            elif kind == "update_part":
                if not extras:
                    continue
                t = t.update(F.col("pt") == f"p{arg}",
                             {extras[0]: F.lit(-1 - arg)},
                             stable_partitions=True)
            elif kind == "rename":
                if not extras:
                    continue
                cmap = t.identity_column_map()
                for e in cmap:
                    if e[1] == extras[0]:
                        e[1] = extras[0] + "r"
                t = t.evolve_schema(cmap, "RENAME COLUMN")
            elif kind == "addcol":
                name = f"c{next_id[0]}"
                next_id[0] += 1
                t = t.evolve_schema(
                    t.identity_column_map() + [[None, name, "long"]],
                    "ADD COLUMNS")
            elif kind == "dropcol":
                if not extras:
                    continue
                cmap = [e for e in t.identity_column_map()
                        if e[1] != extras[0]]
                t = t.evolve_schema(cmap, "DROP COLUMN")
            elif kind == "readd":
                if "val" in cols:
                    continue
                t = t.evolve_schema(
                    t.identity_column_map() + [[None, "val", "long"]],
                    "ADD COLUMNS")
            elif kind == "overwrite":
                t = t.overwrite(t.read())
            elif kind == "restore":
                t = t.restore(arg % (t.current_version() + 1))
            rcols = t.read().columns
            eng = {tuple(r) for r in t.read().select(*rcols).collect()}
            ice = {tuple(r) for r in read_iceberg(spark, t.path)
                   .select(*rcols).collect()}
            assert eng == ice, (kind, arg, len(eng), len(ice),
                                sorted(eng - ice)[:3],
                                sorted(ice - eng)[:3])
    finally:
        shutil.rmtree(root, ignore_errors=True)
