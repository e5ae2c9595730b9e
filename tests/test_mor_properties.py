"""Model-based property test for ManagedTable merge-on-read sequences.

The MOR subsystem has the most interleaving-sensitive semantics in the
table layer (tombstone vs delta sequence ordering, copy-on-write paths
materializing outstanding state, restore carrying it forward). The
scenario tests pin known cases; this test drives a RANDOM command
sequence against both the real table and a trivial in-memory dict model
and requires `read()` to equal the model after every step, plus a
time-travel probe and a stats-pruned-read probe at the end.

Commands: overwrite, upsert_mor, delete_mor (predicate on value),
update (copy-on-write), delete (copy-on-write), compact, restore to a
random earlier version.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable

KEYS = list(range(8))
# partition values: ints, or strings of characters Spark hive-escapes
# in dir names (: % / =) next to ones it writes raw (space, unicode)
PART_LABELS = st.one_of(
    st.just([0, 1, 2]),
    st.lists(st.text(alphabet=[":", "%", "/", "=", " ", "ü", "€", "a"],
                     min_size=1, max_size=3),
             min_size=3, max_size=3, unique=True))

cmd = st.one_of(
    st.tuples(st.just("overwrite"),
              st.dictionaries(st.sampled_from(KEYS), st.integers(0, 5),
                              min_size=1, max_size=8)),
    st.tuples(st.just("upsert_mor"),
              st.dictionaries(st.sampled_from(KEYS), st.integers(0, 5),
                              min_size=1, max_size=4)),
    st.tuples(st.just("delete_mor"), st.integers(0, 5)),
    st.tuples(st.just("update"), st.integers(0, 5)),
    st.tuples(st.just("delete"), st.integers(0, 5)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("restore"), st.integers(0, 100)),
)


def _read_state(t: ManagedTable, version=None) -> dict[int, int]:
    return {r["k"]: r["v"] for r in t.read(version).collect()}


def _df(spark, d: dict[int, int]):
    return spark.createDataFrame(sorted(d.items()), "k int, v int")


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(cmds=st.lists(cmd, min_size=2, max_size=7))
def test_mor_sequences_match_dict_model(spark, tmp_path_factory, cmds):
    path = str(tmp_path_factory.mktemp("morprop") / "t")
    t = ManagedTable(spark, path)
    t.overwrite(_df(spark, {0: 0, 1: 1, 2: 2}))
    model: dict[int, int] = {0: 0, 1: 1, 2: 2}
    history: list[dict[int, int]] = [dict(model)]

    for op, arg in cmds:
        if op == "overwrite":
            t.overwrite(_df(spark, arg))
            model = dict(arg)
        elif op == "upsert_mor":
            t.upsert_mor(_df(spark, arg), key_cols=("k",))
            model.update(arg)
        elif op == "delete_mor":
            t.delete_mor(F.col("v") == arg, key_cols=("k",))
            model = {k: v for k, v in model.items() if v != arg}
        elif op == "update":
            t.update(F.col("v") == arg, {"v": F.lit(99)})
            model = {k: (99 if v == arg else v) for k, v in model.items()}
        elif op == "delete":
            t.delete(F.col("v") == arg)
            model = {k: v for k, v in model.items() if v != arg}
        elif op == "compact":
            t.compact(target_partitions=2)
        elif op == "restore":
            v = arg % (t.current_version() + 1)
            t.restore(v)
            model = dict(history[v])
        history.append(dict(model))
        assert _read_state(t) == model, f"after {op}({arg})"

    # time travel: every recorded version still reads as it did then
    for v, snap in enumerate(history):
        assert _read_state(t, version=v) == snap, f"time travel v{v}"

    # stats-pruned read at the final (possibly MOR) state matches a
    # plain filtered read
    t.analyze(("k",))
    got = {r["k"]: r["v"]
           for r in t.read_where("k", 2, 6).collect()}
    assert got == {k: v for k, v in model.items() if 2 <= k <= 6}


@settings(max_examples=5, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(cmds=st.lists(cmd, min_size=2, max_size=7), labels=PART_LABELS)
def test_mor_sequences_partitioned_stable_carry(spark, tmp_path_factory,
                                                cmds, labels):
    """Same dict-model drive, but on a PARTITIONED table with a stable
    key->partition mapping and ``stable_partitions=True`` DML — the
    merge-on-read CARRY path: copy-on-write UPDATE/DELETE stay
    partition-scoped mid-MOR by subtracting the touched partitions'
    rows/keys from the carried delta and tombstone files. Every
    interleaving (delete->reinsert, shadowed upserts, restore to a
    carried commit) must still match the model."""
    path = str(tmp_path_factory.mktemp("morprop_pt") / "t")
    t = ManagedTable(spark, path, partition_by=("pt",))

    pt_type = "int" if isinstance(labels[0], int) else "string"

    def _pdf(d):
        return spark.createDataFrame(
            [(k, labels[k % 3], v) for k, v in sorted(d.items())],
            f"k int, pt {pt_type}, v int")

    t.overwrite(_pdf({0: 0, 1: 1, 2: 2}))
    model = {0: 0, 1: 1, 2: 2}
    # partitioned DML with no matching rows is a genuine no-op (no
    # commit), so snapshots key on the table's ACTUAL version
    snaps = {0: dict(model)}

    def read_state(version=None):
        return {r["k"]: r["v"] for r in t.read(version).collect()}

    for op, arg in cmds:
        if op == "overwrite":
            t.overwrite(_pdf(arg))
            model = dict(arg)
        elif op == "upsert_mor":
            t.upsert_mor(_pdf(arg), key_cols=("k",))
            model.update(arg)
        elif op == "delete_mor":
            t.delete_mor(F.col("v") == arg, key_cols=("k",))
            model = {k: v for k, v in model.items() if v != arg}
        elif op == "update":
            t.update(F.col("v") == arg, {"v": F.lit(99)},
                     stable_partitions=True)
            model = {k: (99 if v == arg else v) for k, v in model.items()}
        elif op == "delete":
            t.delete(F.col("v") == arg, stable_partitions=True)
            model = {k: v for k, v in model.items() if v != arg}
        elif op == "compact":
            t.compact(target_partitions=2)
        elif op == "restore":
            v = arg % (t.current_version() + 1)
            t.restore(v)
            model = dict(snaps[v])
        snaps[t.current_version()] = dict(model)
        assert read_state() == model, f"after {op}({arg})"
        got_pt = {r["k"]: r["pt"] for r in t.read().collect()}
        assert all(got_pt[k] == labels[k % 3] for k in got_pt)  # stable

    for v, snap in snaps.items():
        assert read_state(version=v) == snap, f"time travel v{v}"


@settings(max_examples=5, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(cmds=st.lists(st.one_of(
    st.tuples(st.just("overwrite"),
              st.dictionaries(st.sampled_from(KEYS), st.integers(0, 5),
                              min_size=1, max_size=8)),
    st.tuples(st.just("update"), st.integers(0, 5)),
    st.tuples(st.just("delete"), st.integers(0, 5)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("restore"), st.integers(0, 100)),
), min_size=2, max_size=6))
def test_delta_mirror_tracks_table_through_cow_sequences(
        spark, tmp_path_factory, cmds):
    """Format-interop property: after ANY copy-on-write command
    sequence, replaying the table's _delta_log mirror with the
    no-dependency Delta reader returns exactly what read() returns —
    current state after every step, and VERSION AS OF for every
    version at the end."""
    from tb_lakehouse_enhanced_spark.sources.deltaread import read_delta
    path = str(tmp_path_factory.mktemp("mirror") / "t")
    t = ManagedTable(spark, path)
    t.overwrite(_df(spark, {0: 0, 1: 1, 2: 2}))
    versions = [0]

    def table_state(version=None):
        return sorted(map(tuple, t.read(version).collect()))

    for op, arg in cmds:
        if op == "overwrite":
            t.overwrite(_df(spark, arg))
        elif op == "update":
            t.update(F.col("v") == arg, {"v": F.lit(99)})
        elif op == "delete":
            t.delete(F.col("v") == arg)
        elif op == "compact":
            t.compact(target_partitions=2)
        elif op == "restore":
            t.restore(arg % (t.current_version() + 1))
        versions.append(t.current_version())
        mirror = sorted(map(tuple,
                            read_delta(spark, path).collect()))
        assert mirror == table_state(), f"after {op}({arg})"

    for v in set(versions):
        assert sorted(map(tuple,
                          read_delta(spark, path, version=v).collect())) \
            == table_state(version=v), f"VERSION AS OF {v}"
