"""Iceberg-mirror conformance (VERDICT r11 ask #3).

The reference's platform exports both Delta and Iceberg table formats
("Delta/Iceberg table ops", BASELINE.json north star); the engine has
mirrored Delta since r7 and r12 adds the Iceberg v2 side
(``sources/iceberg.py``).  No Iceberg library is installable in this
sandbox, so — like ``test_mirror_conformance.py`` for Delta — this
suite drives a generated history covering every commit type and
asserts (a) the SPEC'S STRUCTURAL INVARIANTS over the emitted
metadata tree and (b) full ROUND-TRIP READS: ``read_iceberg``
reconstructs the table from the Iceberg metadata alone (metadata.json
-> Avro manifest list -> Avro manifests -> parquet + equality
deletes) and must equal ``ManagedTable.read`` after every step —
including MID-MOR states, which the Delta mirror can only mark
unreadable but the Iceberg mirror expresses exactly via equality
deletes with explicit sequence numbers.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tb_lakehouse_enhanced_spark.sources.avroio import read_ocf, write_ocf
from tb_lakehouse_enhanced_spark.sources.iceberg import (
    current_metadata,
    read_iceberg,
)
from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable


# -- avro codec --------------------------------------------------------------

def test_avro_ocf_roundtrip(tmp_base):
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "s", "type": "string", "field-id": 1},
        {"name": "n", "type": ["null", "long"], "default": None},
        {"name": "f", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "arr", "type": ["null", {"type": "array",
                                          "items": "int"}],
         "default": None},
        {"name": "m", "type": {"type": "map", "values": "long"}},
        {"name": "sub", "type": {"type": "record", "name": "sub",
                                 "fields": [{"name": "x",
                                             "type": "string"}]}},
    ]}
    recs = [
        {"s": "héllo", "n": -(2 ** 40), "f": 1.5, "b": True,
         "arr": [1, -2, 3], "m": {"a": 1, "b": 2},
         "sub": {"x": "y"}},
        {"s": "", "n": None, "f": -0.0, "b": False, "arr": None,
         "m": {}, "sub": {"x": ""}},
    ]
    p = os.path.join(tmp_base, "t.avro")
    length = write_ocf(p, schema, recs, {"custom": "meta"})
    assert length == os.path.getsize(p)
    got_schema, meta, got = read_ocf(p)
    assert got == recs
    assert got_schema == schema
    assert meta["custom"] == b"meta"


def test_avro_empty_file(tmp_base):
    schema = {"type": "record", "name": "e",
              "fields": [{"name": "x", "type": "long"}]}
    p = os.path.join(tmp_base, "e.avro")
    write_ocf(p, schema, [])
    _s, _m, recs = read_ocf(p)
    assert recs == []


# -- scripted history with per-step round-trip reads -------------------------

def _rows(t):
    return {tuple(r) for r in t.read().collect()}


def _ice_rows(spark, t, cols):
    return {tuple(r) for r in
            read_iceberg(spark, t.path).select(*cols).collect()}


def _check(spark, t, tag):
    cols = t.read().columns
    eng = {tuple(r) for r in t.read().select(*cols).collect()}
    ice = _ice_rows(spark, t, cols)
    assert eng == ice, (tag, len(eng), len(ice))


def _mk(spark, lo, hi, val=None):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit("r"), (F.col("id") % 3)).alias("p"),
        (F.lit(val).cast("long") if val is not None
         else F.col("id") * 2).alias("val"))


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """One table driven through every commit type, with the engine-vs-
    iceberg row sets captured AFTER EVERY COMMIT."""
    path = str(tmp_path_factory.mktemp("ice")) + "/t"
    t = ManagedTable(spark, path, partition_by=("p",))
    steps = []

    def step(tag, tt):
        _check(spark, tt, tag)
        steps.append((tag, tt.current_version()))
        return tt

    t = step("create", t.overwrite(_mk(spark, 0, 30)))           # v0
    for i in range(3):
        t = step(f"append{i}",
                 t.append(_mk(spark, 30 + 10 * i, 40 + 10 * i)))  # v1..3
    cmap = t.identity_column_map()
    for e in cmap:
        if e[1] == "val":
            e[1] = "amount"
    t = step("rename", t.evolve_schema(cmap, "RENAME COLUMN"))   # v4
    cmap = t.identity_column_map() + [[None, "note", "string"]]
    t = step("addcol", t.evolve_schema(cmap, "ADD COLUMNS"))     # v5
    t = step("mapped-append", t.append(
        _mk(spark, 60, 70).withColumnRenamed("val", "amount")
        .withColumn("note", F.lit("n"))))                        # v6
    t = step("mor-delete", t.delete_mor(F.col("id") < 5,
                                        key_cols=("id",)))       # v7
    t = step("mor-upsert", t.upsert_mor(
        _mk(spark, 3, 8, 999).withColumnRenamed("val", "amount")
        .withColumn("note", F.lit("u")), key_cols=("id",)))      # v8
    t = step("append-during-mor", t.append(
        _mk(spark, 100, 110).withColumnRenamed("val", "amount")
        .withColumn("note", F.lit("a"))))                        # v9
    t = step("mapped-mor-update", t.update(
        F.col("p") == "r1", {"amount": F.lit(-7)}))              # v10
    t = step("materialize", t.overwrite(t.read()))               # v11
    t = step("mor-delete2", t.delete_mor(F.col("id") == 20,
                                         key_cols=("id",)))      # v12
    t = step("restore", t.restore(3))                            # v13
    t = step("post-restore-append", t.append(_mk(spark, 200, 205)))
    return t, steps


def test_roundtrip_reads_green(history):
    # the fixture asserted engine == iceberg after every commit;
    # reaching here means all ~15 round-trips matched
    t, steps = history
    assert len(steps) >= 14


def test_snapshot_time_travel(spark, history):
    t, steps = history
    doc = current_metadata(t.path)
    by_seq = {s["sequence-number"]: s["snapshot-id"]
              for s in doc["snapshots"]}
    # pick the materialize step (post-MOR resolution) and an append
    for tag, v in steps:
        if tag not in ("materialize", "append1"):
            continue
        eng = {tuple(r) for r in t.read(version=v).collect()}
        cols = t.read(version=v).columns
        ice = {tuple(r) for r in read_iceberg(
            spark, t.path, snapshot_id=by_seq[v])
            .select(*cols).collect()}
        assert eng == ice, (tag, v)


def test_metadata_invariants(history):
    t, _steps = history
    doc = current_metadata(t.path)
    assert doc["format-version"] == 2
    assert doc["table-uuid"]
    snaps = doc["snapshots"]
    ids = [s["snapshot-id"] for s in snaps]
    assert doc["current-snapshot-id"] in ids
    assert len(set(ids)) == len(ids)
    # sequence numbers strictly increase along the snapshot list and
    # never exceed last-sequence-number
    seqs = [s["sequence-number"] for s in snaps]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    assert max(seqs) <= doc["last-sequence-number"]
    # parent links chain backward within the recorded set
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur.get("parent-snapshot-id") == prev["snapshot-id"]
    # schemas: unique ids, current exists, field ids unique per schema
    sids = [s["schema-id"] for s in doc["schemas"]]
    assert len(set(sids)) == len(sids)
    assert doc["current-schema-id"] in sids
    for s in doc["schemas"]:
        fids = [f["id"] for f in s["fields"]]
        assert len(set(fids)) == len(fids)
        assert max(fids) <= doc["last-column-id"]
    # resolution metadata: native-field-id tables (r13 — the engine
    # stamps PARQUET:field_id into every footer) emit NO name mapping
    # (id resolution is the spec's primary rule); legacy tables' name
    # mapping covers every current-schema field id
    mapping_raw = doc["properties"].get("schema.name-mapping.default")
    cur = next(s for s in doc["schemas"]
               if s["schema-id"] == doc["current-schema-id"])
    if mapping_raw is None:
        import pyarrow.parquet as pq
        rel, full = next(iter(sorted(
            t._live_files(t.current_version()).items())))
        sch = pq.read_schema(full)
        assert any((f.metadata or {}).get(b"PARQUET:field_id")
                   for f in sch), \
            "mapping omitted but files carry no field ids"
    else:
        mapped = {m["field-id"] for m in json.loads(mapping_raw)}
        assert {f["id"] for f in cur["fields"]} <= mapped


def test_manifest_structure(history):
    t, steps = history
    doc = current_metadata(t.path)
    # inspect the MID-MOR snapshot (mor-delete2): its equality-delete
    # manifest must be present and well-formed; the later restore
    # rightly drops the MOR state from the CURRENT snapshot
    mor_v = dict(steps)["mor-delete2"]
    snap = next(s for s in doc["snapshots"]
                if s["sequence-number"] == mor_v)
    _s, meta, manifests = read_ocf(snap["manifest-list"])
    assert meta["format-version"] == b"2"
    spec_ids = {s["spec-id"] for s in doc["partition-specs"]}
    seen_delete_manifest = False
    for mf in manifests:
        assert os.path.isfile(mf["manifest_path"])
        assert mf["manifest_length"] == os.path.getsize(
            mf["manifest_path"])
        assert mf["partition_spec_id"] in spec_ids
        assert mf["min_sequence_number"] <= mf["sequence_number"]
        spec = next(s for s in doc["partition-specs"]
                    if s["spec-id"] == mf["partition_spec_id"])
        if spec["fields"]:
            # partitioned manifests carry field summaries with bounds
            summ = mf["partitions"]
            assert summ and len(summ) == len(spec["fields"])
            for fs in summ:
                assert fs["lower_bound"] is not None
                assert fs["lower_bound"] <= fs["upper_bound"]
        _es, emeta, entries = read_ocf(mf["manifest_path"])
        assert emeta["format-version"] == b"2"
        live = [e for e in entries if e["status"] != 2]
        assert len(live) == mf["added_files_count"] \
            + mf["existing_files_count"]
        for e in live:
            df = e["data_file"]
            assert os.path.isfile(df["file_path"])
            assert df["file_format"] == "PARQUET"
            assert e["sequence_number"] is not None
            assert e["sequence_number"] <= doc["last-sequence-number"]
            if mf["content"] == 1:
                seen_delete_manifest = True
                assert df["content"] == 2
                assert df["equality_ids"]
                # global equality deletes ride an unpartitioned spec
                spec = next(s for s in doc["partition-specs"]
                            if s["spec-id"] == mf["partition_spec_id"])
                assert spec["fields"] == []
            else:
                assert df["content"] == 0
    assert seen_delete_manifest  # mor-delete2 is outstanding


def test_schema_evolution_keeps_field_ids(history):
    t, _steps = history
    doc = current_metadata(t.path)
    by_id = {}
    for s in doc["schemas"]:
        for f in s["fields"]:
            by_id.setdefault(f["id"], set()).add(f["name"])
    # the renamed column owns one id under both names; ids are never
    # reused for an unrelated column (val -> amount share id 3's set)
    renamed = [names for names in by_id.values()
               if {"val", "amount"} <= names]
    assert renamed, by_id
    # partition column keeps one id everywhere
    p_ids = {f["id"] for s in doc["schemas"] for f in s["fields"]
             if f["name"] == "p"}
    assert len(p_ids) == 1


def test_heal_episode_bumps_metadata_without_snapshot(spark, tmp_base):
    t = ManagedTable(spark, os.path.join(tmp_base, "heal"),
                     partition_by=("p",))
    t.overwrite(_mk(spark, 0, 10))
    cur = t.current_version()
    t.append(_mk(spark, 10, 12))
    before = current_metadata(t.path)
    # simulate the crash: commit v exists, pointer rolled back, stale
    cf = t._commit_file(cur + 1)
    old = os.stat(cf).st_mtime - 3600
    os.utime(cf, (old, old))
    with open(t._pointer, "w") as f:
        f.write(str(cur))
    t2 = ManagedTable(spark, t.path, partition_by=("p",))
    t2.append(_mk(spark, 20, 22))
    after = current_metadata(t2.path)
    # the healed version contributed a metadata version with NO new
    # snapshot; the post-heal append then snapshots normally
    assert after["last-sequence-number"] == t2.current_version()
    healed_snaps = [s for s in after["snapshots"]
                    if s["sequence-number"] == cur + 1]
    assert not healed_snaps
    _check(spark, t2, "post-heal")
    assert len(after["snapshots"]) >= len(before["snapshots"])


def test_repair_retracts_metadata(spark, tmp_base):
    t = ManagedTable(spark, os.path.join(tmp_base, "repair"),
                     partition_by=("p",))
    t.overwrite(_mk(spark, 0, 10))
    cur = t.current_version()
    t.append(_mk(spark, 10, 12))
    with open(os.path.join(t.path, "metadata",
                           "version-hint.text")) as f:
        hint_after = int(f.read())
    # roll the pointer back so v becomes an orphan, then repair
    with open(t._pointer, "w") as f:
        f.write(str(cur))
    t2 = ManagedTable(spark, t.path, partition_by=("p",))
    assert t2.repair_orphan_commit() == cur + 1
    with open(os.path.join(t.path, "metadata",
                           "version-hint.text")) as f:
        hint_repaired = int(f.read())
    assert hint_repaired == hint_after - 1
    doc = current_metadata(t2.path)
    assert doc["last-sequence-number"] == cur
    _check(spark, t2, "post-repair")


def test_vacuum_expires_snapshots_and_gc(spark, tmp_base):
    t = ManagedTable(spark, os.path.join(tmp_base, "vac"),
                     partition_by=("p",))
    t.overwrite(_mk(spark, 0, 20))
    for i in range(3):
        t.append(_mk(spark, 20 + 5 * i, 25 + 5 * i))
    t.overwrite(t.read())
    t.vacuum(retain_last=1, orphan_hours=0)
    doc = current_metadata(t.path)
    assert len(doc["snapshots"]) == 1
    snap = doc["snapshots"][0]
    assert snap["summary"]["operation"] == "replace"
    # every referenced file exists; every .avro in the tree is
    # referenced (gc leaves no dangling manifests)
    _s, _m, manifests = read_ocf(snap["manifest-list"])
    referenced = {os.path.basename(snap["manifest-list"])}
    for mf in manifests:
        assert os.path.isfile(mf["manifest_path"])
        referenced.add(os.path.basename(mf["manifest_path"]))
        for e in read_ocf(mf["manifest_path"])[2]:
            if e["status"] != 2:
                assert os.path.isfile(e["data_file"]["file_path"])
    on_disk = {fn for fn in os.listdir(os.path.join(t.path, "metadata"))
               if fn.endswith(".avro")}
    assert on_disk == referenced
    _check(spark, t, "post-vacuum")


def test_manifest_fold_bounds_count(spark, tmp_base):
    from tb_lakehouse_enhanced_spark.sources.iceberg import (
        FOLD_MANIFESTS_AT,
    )
    t = ManagedTable(spark, os.path.join(tmp_base, "fold"))
    t.overwrite(spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("val")))
    for i in range(FOLD_MANIFESTS_AT + 4):
        t.append(spark.range(100 + i, 101 + i).select(
            F.col("id"), (F.col("id") * 2).alias("val")))
    doc = current_metadata(t.path)
    snap = next(s for s in doc["snapshots"]
                if s["snapshot-id"] == doc["current-snapshot-id"])
    _s, _m, manifests = read_ocf(snap["manifest-list"])
    assert len(manifests) <= FOLD_MANIFESTS_AT + 2
    _check(spark, t, "post-fold")


def test_tag_refs_survive_vacuum(spark, tmp_base):
    t = ManagedTable(spark, os.path.join(tmp_base, "tags"),
                     partition_by=("p",))
    t.overwrite(_mk(spark, 0, 10))
    t.append(_mk(spark, 10, 20))
    t.tag("release-1")                    # pins v1
    t.append(_mk(spark, 20, 30))
    doc = current_metadata(t.path)
    assert doc["refs"]["release-1"]["type"] == "tag"
    assert doc["refs"]["main"]["snapshot-id"] \
        == doc["current-snapshot-id"]
    t.overwrite(t.read())
    t.vacuum(retain_last=1, orphan_hours=0)
    doc = current_metadata(t.path)
    refs = doc["refs"]
    assert "release-1" in refs, "tagged snapshot must survive vacuum"
    sid = refs["release-1"]["snapshot-id"]
    assert any(s["snapshot-id"] == sid for s in doc["snapshots"])
    eng = t.read_tag("release-1")
    ice = read_iceberg(spark, t.path, snapshot_id=sid)
    assert {tuple(r) for r in ice.select(*eng.columns).collect()} \
        == {tuple(r) for r in eng.collect()}
    # the named-ref path resolves the same post-vacuum state
    by_ref = read_iceberg(spark, t.path, ref="release-1")
    assert {tuple(r) for r in by_ref.select(*eng.columns).collect()} \
        == {tuple(r) for r in eng.collect()}


def test_external_writer_fixture_field_id_resolution(spark, tmp_base):
    """The modern-writer interop case: parquet columns stamped with
    real PARQUET:field_id metadata, first file named differently from
    the table schema, no name mapping, deflate Avro — resolution must
    ride the spec's primary field-id rule."""
    from tb_lakehouse_enhanced_spark.sources.synthetic import (
        write_external_iceberg,
    )
    path = os.path.join(tmp_base, "ext")
    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("L"), F.col("id") % 3).alias("lang"),
        (F.col("id") * 11).alias("n_chars"))
    write_external_iceberg(df, path)
    # deflate codec actually on disk
    import glob
    avros = glob.glob(os.path.join(path, "metadata", "*.avro"))
    assert avros
    for p in avros:
        _s, meta, _r = read_ocf(p)
        assert meta["avro.codec"] == b"deflate"
    got = read_iceberg(spark, path)
    assert {tuple(r) for r in
            got.select("doc_id", "lang", "n_chars").collect()} \
        == {tuple(r) for r in df.collect()}
    # the physically-renamed first snapshot resolves alone too
    doc = current_metadata(path)
    first = min(doc["snapshots"], key=lambda s: s["sequence-number"])
    s1 = read_iceberg(spark, path,
                      snapshot_id=first["snapshot-id"])
    assert s1.count() == 15


def test_snapshot_retention_bounds_metadata(spark, tmp_base,
                                            monkeypatch):
    """The snapshots list — and with it each commit's metadata.json
    write — stays O(SNAPSHOT_RETENTION) as commits accumulate; tagged
    snapshots survive the expiry."""
    from tb_lakehouse_enhanced_spark.sources.iceberg import (
        IcebergMirror,
    )
    monkeypatch.setattr(IcebergMirror, "SNAPSHOT_RETENTION", 5)
    t = ManagedTable(spark, os.path.join(tmp_base, "snapret"))
    t.overwrite(spark.range(5).select(
        F.col("id"), (F.col("id") * 2).alias("v")))
    t.tag("pin0")                           # pins v0
    for i in range(9):
        t.append(spark.range(100 + i, 101 + i).select(
            F.col("id"), (F.col("id") * 2).alias("v")))
    doc = current_metadata(t.path)
    assert len(doc["snapshots"]) <= 6       # 5 recent + the tag
    seqs = {s["sequence-number"] for s in doc["snapshots"]}
    assert 0 in seqs, "tagged snapshot must survive expiry"
    assert t.current_version() in seqs
    # the current snapshot still round-trips
    got = {tuple(r) for r in read_iceberg(spark, t.path).collect()}
    assert got == {tuple(r) for r in t.read().collect()}


def test_mirror_under_objectstore_backend(spark, tmp_base,
                                          monkeypatch):
    """The emulated object-store commit backend (no flock/O_EXCL/
    hardlinks — logstore.py) and the Iceberg mirror compose: a short
    episode commits through lease-file mutexes + copy carries and the
    metadata round-trips identically."""
    monkeypatch.setenv("TB_LAKEHOUSE_COMMIT_STORE", "objectstore")
    t = ManagedTable(spark, os.path.join(tmp_base, "objstore"),
                     partition_by=("p",))
    t.overwrite(_mk(spark, 0, 20))
    t.append(_mk(spark, 20, 30))
    t.delete_mor(F.col("id") < 5, key_cols=("id",))
    t.update(F.col("p") == "r1", {"val": F.lit(-3)})
    _check(spark, t, "objectstore-episode")
    doc = current_metadata(t.path)
    assert doc["last-sequence-number"] == t.current_version()


def test_discovery_without_version_hint(spark, tmp_base):
    """REST/Glue-catalog writers keep the metadata pointer in the
    catalog, not a version-hint file — discovery falls back to the
    newest *.metadata.json."""
    t = ManagedTable(spark, os.path.join(tmp_base, "nohint"))
    t.overwrite(spark.range(12).select(
        F.col("id"), (F.col("id") * 3).alias("v")))
    t.append(spark.range(12, 15).select(
        F.col("id"), (F.col("id") * 3).alias("v")))
    os.remove(os.path.join(t.path, "metadata", "version-hint.text"))
    got = {tuple(r) for r in read_iceberg(spark, t.path).collect()}
    assert got == {(i, i * 3) for i in range(15)}


def test_external_position_deletes_applied(spark, tmp_base):
    """Position deletes (external writers; the mirror's own MOR state
    is key-based) drop exactly the named (file, row-position) pairs,
    honoring the spec's <= sequence rule."""
    from tb_lakehouse_enhanced_spark.sources.synthetic import (
        write_external_iceberg,
    )
    path = os.path.join(tmp_base, "posdel")
    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("L"), F.col("id") % 2).alias("lang"),
        (F.col("id") * 11).alias("n_chars"))
    pdf = df.toPandas()
    import numpy as np
    mask = (np.arange(len(pdf)) % 2) == 0
    halves = [pdf[mask].reset_index(drop=True),
              pdf[~mask].reset_index(drop=True)]
    # delete row 0 and 3 of snapshot-0's file, row 1 of snapshot-1's
    dels = [(0, 0), (0, 3), (1, 1)]
    write_external_iceberg(df, path, delete_positions=dels)
    expected = set()
    for i, half in enumerate(halves):
        dead = {pos for j, pos in dels if j == i}
        for pos, row in half.iterrows():
            if pos not in dead:
                expected.add((row.doc_id, row.lang, row.n_chars))
    got = {tuple(r) for r in read_iceberg(spark, path)
           .select("doc_id", "lang", "n_chars").collect()}
    assert got == expected
    # the pre-delete snapshot still reads in full
    doc = current_metadata(path)
    full = sorted(doc["snapshots"],
                  key=lambda s: s["sequence-number"])[1]
    assert read_iceberg(spark, path,
                        snapshot_id=full["snapshot-id"]).count() == 20


def test_pre_mirror_table_bootstraps_full_live_set(spark, tmp_base,
                                                   monkeypatch):
    """A table created before the mirror existed (emission disabled)
    must bootstrap with its FULL live set on the first mirrored
    commit, even when that commit is an incremental append — an
    adds-only first emission would describe just the batch."""
    path = os.path.join(tmp_base, "legacy")
    monkeypatch.setenv("TB_LAKEHOUSE_ICEBERG_MIRROR", "0")
    t = ManagedTable(spark, path, partition_by=("p",))
    t.overwrite(_mk(spark, 0, 20))
    t.append(_mk(spark, 20, 30))
    assert not os.path.isdir(os.path.join(path, "metadata"))
    monkeypatch.setenv("TB_LAKEHOUSE_ICEBERG_MIRROR", "1")
    t.append(_mk(spark, 30, 35))
    _check(spark, t, "bootstrap-append")


def test_unpartitioned_table(spark, tmp_base):
    t = ManagedTable(spark, os.path.join(tmp_base, "flat"))
    t.overwrite(spark.range(25).select(
        F.col("id"), (F.col("id") % 5).alias("k")))
    t.append(spark.range(25, 30).select(
        F.col("id"), (F.col("id") % 5).alias("k")))
    t.delete_mor(F.col("k") == 0, key_cols=("id",))
    _check(spark, t, "flat-mor")
    doc = current_metadata(t.path)
    assert doc["partition-specs"] == [{"spec-id": 0, "fields": []}]


def test_timestamp_time_travel(spark, history):
    """as_of_ms resolves through snapshot-log: each log entry's own
    timestamp reads exactly that snapshot's state; before-first raises;
    snapshot_id+as_of_ms together is an error."""
    t, _steps = history
    doc = current_metadata(t.path)
    log = doc["snapshot-log"]
    assert log, "history fixture must retain snapshots"
    snaps = {s["snapshot-id"]: s for s in doc["snapshots"]}
    # probe a few points: first retained, a middle one, the last
    probes = [log[0], log[len(log) // 2], log[-1]]
    for entry in probes:
        want = read_iceberg(spark, t.path,
                            snapshot_id=entry["snapshot-id"])
        got = read_iceberg(spark, t.path,
                           as_of_ms=entry["timestamp-ms"])
        cols = want.columns
        assert ({tuple(r) for r in want.collect()}
                == {tuple(r) for r in got.select(*cols).collect()}), \
            entry
    # a timestamp between two commits reads the EARLIER snapshot
    if len(log) >= 2 and log[1]["timestamp-ms"] > log[0]["timestamp-ms"] + 1:
        mid = (log[0]["timestamp-ms"] + log[1]["timestamp-ms"]) // 2
        got = read_iceberg(spark, t.path, as_of_ms=mid)
        want = read_iceberg(spark, t.path,
                            snapshot_id=log[0]["snapshot-id"])
        assert got.count() == want.count()
    with pytest.raises(ValueError, match="no retained snapshot"):
        read_iceberg(spark, t.path,
                     as_of_ms=log[0]["timestamp-ms"] - 1)
    with pytest.raises(ValueError, match="not both"):
        read_iceberg(spark, t.path,
                     snapshot_id=log[-1]["snapshot-id"],
                     as_of_ms=log[-1]["timestamp-ms"])
    # schema pinning follows the historical rule: a pre-rename
    # timestamp read surfaces the pre-rename column name
    pre_rename = [e for e in log
                  if snaps[e["snapshot-id"]]["sequence-number"] <= 3]
    if pre_rename:
        early = read_iceberg(spark, t.path,
                             as_of_ms=pre_rename[-1]["timestamp-ms"])
        assert "val" in early.columns and "amount" not in early.columns


def test_ref_reads(spark, tmp_base):
    """Named-ref reads: an engine tag surfaces as an Iceberg tag ref
    and reads the tagged state with the SNAPSHOT's schema; 'main' is a
    branch ref reading the current state with the table's CURRENT
    schema (the Iceberg branch/tag schema rule); unknown refs raise."""
    t = ManagedTable(spark, os.path.join(tmp_base, "refs"),
                     partition_by=("p",))
    t = t.overwrite(_mk(spark, 0, 10))                      # v0
    t = t.tag("stable")                                     # tags v0
    t = t.append(_mk(spark, 10, 15))                        # v1
    cmap = t.identity_column_map()
    for e in cmap:
        if e[1] == "val":
            e[1] = "amount"
    t = t.evolve_schema(cmap, "RENAME COLUMN")              # v2
    # tag ref: v0 rows, pre-rename schema (snapshot-pinned)
    tagged = read_iceberg(spark, t.path, ref="stable")
    assert tagged.count() == 10
    assert "val" in tagged.columns and "amount" not in tagged.columns
    eng = {tuple(r) for r in t.read(version=0).collect()}
    assert {tuple(r) for r in
            tagged.select(*t.read(version=0).columns).collect()} == eng
    # branch ref 'main': current rows under the CURRENT (renamed)
    # schema even though the rename commit snapshots nothing
    main = read_iceberg(spark, t.path, ref="main")
    assert main.count() == 15
    assert "amount" in main.columns and "val" not in main.columns
    with pytest.raises(ValueError, match="unknown ref"):
        read_iceberg(spark, t.path, ref="nope")
    with pytest.raises(ValueError, match="at most one"):
        read_iceberg(spark, t.path, ref="main", as_of_ms=1)


def test_drop_column_roundtrip(spark, tmp_base):
    """DROP COLUMN through the Iceberg mirror: the current snapshot
    schema loses the field, an external read matches the engine, a
    post-drop append stays readable, and a historical snapshot read
    still surfaces the dropped column's values (its field id never
    leaves the old schema entry)."""
    t = ManagedTable(spark, os.path.join(tmp_base, "dropc"),
                     partition_by=("p",))
    t = t.overwrite(_mk(spark, 0, 10))                      # v0
    doc0 = current_metadata(t.path)
    first_sid = doc0["current-snapshot-id"]
    cmap = [e for e in t.identity_column_map() if e[1] != "val"]
    t = t.evolve_schema(cmap, "DROP COLUMN")                # v1
    _check(spark, t, "post-drop")
    ice = read_iceberg(spark, t.path)
    assert "val" not in ice.columns
    t = t.append(_mk(spark, 10, 14).drop("val"))            # v2
    _check(spark, t, "post-drop-append")
    assert read_iceberg(spark, t.path).count() == 14
    # historical read: pre-drop snapshot still resolves val from the
    # old files via its pinned schema
    old = read_iceberg(spark, t.path, snapshot_id=first_sid)
    assert "val" in old.columns
    assert old.filter(F.col("val").isNotNull()).count() == 10
    # re-adding the same NAME mints a fresh field id — stale values
    # must not resurrect
    cmap2 = t.identity_column_map() + [[None, "val", "long"]]
    t = t.evolve_schema(cmap2, "ADD COLUMNS")               # v3
    _check(spark, t, "post-readd")
    readd = read_iceberg(spark, t.path)
    assert readd.filter(F.col("val").isNotNull()).count() == 0


def test_partition_values_beyond_int64_mirror_as_string(spark, tmp_base):
    """A partition column whose integral values exceed int64 mirrors as
    an Iceberg string: typed long, its bounds would not pack into 8
    bytes and the commit would raise."""
    big = str(2 ** 70)
    t = ManagedTable(spark, os.path.join(tmp_base, "big"),
                     partition_by=("p",))
    t.overwrite(spark.createDataFrame([(1, "1"), (2, big)],
                                      "k long, p string"))
    got = {(r["k"], r["p"]) for r in read_iceberg(spark, t.path).collect()}
    assert got == {(1, "1"), (2, big)}
