"""Apache Iceberg v2 metadata mirror for managed tables.

The reference's north star names "Delta/Iceberg table ops"
(BASELINE.json); the engine's commit plane already mirrors every
commit into a Delta-protocol ``_delta_log`` (``managed.py``), and this
module completes the stated interop surface with the Iceberg side:
every commit additionally emits

  ``metadata/v{N}.metadata.json``        table metadata (spec v2)
  ``metadata/snap-{id}-*.avro``          manifest list (Avro OCF)
  ``metadata/m-{uuid}.avro``             manifest files (Avro OCF)
  ``metadata/version-hint.text``         HadoopTables-style pointer

following the public Iceberg table-spec (iceberg.apache.org/spec).
No Iceberg/Avro library exists in this environment, so the Avro
container encoding lives in ``avroio.py`` and the reader half of this
module (``read_iceberg``) doubles as the conformance validator: it
reconstructs the table FROM THE ICEBERG METADATA ALONE — metadata.json
-> manifest list -> manifests -> parquet + equality deletes — and the
test suite asserts it matches ``ManagedTable.read`` after every kind
of commit.

Design notes (all grounded in the spec):

* **Sequence numbers.** The snapshot sequence number is the engine's
  commit version.  Every manifest entry carries an EXPLICIT
  ``sequence_number`` derived from the file's directory name, chosen
  to reproduce the engine's MOR resolution order exactly
  (``managed._base_seq_expr`` / the ``delta_vN``/``tomb_vN`` parsers):
  append batches ``v{N}-a*`` and MOR state dirs ``delta_v{N}*`` /
  ``tomb_v{N}*`` sequence at N, every other base dir at 0.  Iceberg's
  rule — an equality delete applies to data files with a STRICTLY
  lower sequence — then yields the same winners, because distinct
  commits have distinct versions and all state dirs have N >= 1.

* **MOR state as equality deletes.** The engine's key-based
  tombstones ARE Iceberg equality deletes (``managed.delete_mor``
  documents the semantics as such): each tombstone dir becomes a
  delete manifest whose entries have ``content=2`` and
  ``equality_ids`` = the key columns' field ids.  A delta (upsert)
  dir becomes BOTH a data manifest and a delete manifest over the
  same files — the spec allows equality delete files to carry
  non-key columns, and the strictly-lower rule keeps a batch from
  deleting itself, which is precisely last-writer-wins.  Appends
  landing while MOR state is outstanding are emitted the same way
  (data + self-delete): under the engine's re-append contract (a
  multi-copy key is by construction tombstoned) this reproduces the
  LWW window's winners.  Unlike the Delta mirror — which must mark
  MOR commits unreadable (``deletionVectors``) because add/remove
  actions can't express key deletes — the Iceberg mirror stays fully
  readable through MOR episodes.

* **Field ids.** Iceberg requires stable, never-reused column ids.
  Ids are allocated once per PHYSICAL column path and persisted in
  the mirror's sidecar state, so renames via the engine's live column
  maps keep their id (the physical plane is the column's identity)
  and a materializing commit transfers ids physical->logical.  The
  data files carry no parquet field-id metadata (they're written by
  stock Spark), which the spec covers with the
  ``schema.name-mapping.default`` table property — emitted here with
  both physical and logical names per field.

* **O(batch) appends.** An append commit writes one new manifest for
  its batch and re-lists prior manifests untouched (explicit
  sequence numbers make carried entries self-contained); the sidecar
  keeps manifest-level stats only.  Partial rewrites filter just the
  data manifests (metadata-only read-back, same cost class as the
  Delta mirror's log replay); when the manifest count exceeds a
  bound they are folded into one (Iceberg's RewriteManifests).

Reference parity: the reference's tables live on Databricks
(notebooks/12_ETL_Bronze_PySpark.py:66 ``saveAsTable``); Delta/Iceberg
interop is the exported format surface of that platform.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from .avroio import read_ocf, write_ocf

META_DIR = "metadata"
FOLD_MANIFESTS_AT = 16          # RewriteManifests threshold


class IcebergMirrorCorruptionError(Exception):
    """The mirror's sidecar state exists but cannot be parsed; see
    ``ManagedTable.rebuild_mirrors`` for the remedy."""
# past this many files, per-file parquet-footer work (row counts on
# the emit side, schema grouping on the read side) fans out as ONE
# Spark job instead of a serial driver loop
DRIVER_FANOUT_THRESHOLD = 256

_SEQ_RE = re.compile(r"^(?:v(\d+)-a|delta_v(\d+)|tomb_v(\d+))")


def file_sequence(rel_path: str) -> int:
    """Iceberg data sequence number of a file, parsed from its
    top-level directory — the exact counterpart of the engine's
    ``_base_seq_expr`` + ``delta/tomb`` path parsers."""
    m = _SEQ_RE.match(rel_path.split("/", 1)[0])
    if not m:
        return 0
    return int(next(g for g in m.groups() if g is not None))


# -- Spark <-> Iceberg types -------------------------------------------------

def _iceberg_type(dt, alloc, path: str):
    """Iceberg schema type JSON for a Spark DataType, allocating
    stable ids for nested fields via ``alloc(path)``."""
    from pyspark.sql import types as T
    if isinstance(dt, T.StructType):
        return {"type": "struct", "fields": [
            {"id": alloc(f"{path}.{f.name}"), "name": f.name,
             "required": False,
             "type": _iceberg_type(f.dataType, alloc,
                                   f"{path}.{f.name}")}
            for f in dt.fields]}
    if isinstance(dt, T.ArrayType):
        return {"type": "list", "element-id": alloc(f"{path}.element"),
                "element-required": False,
                "element": _iceberg_type(dt.elementType, alloc,
                                         f"{path}.element")}
    if isinstance(dt, T.MapType):
        return {"type": "map", "key-id": alloc(f"{path}.key"),
                "value-id": alloc(f"{path}.value"),
                "value-required": False,
                "key": _iceberg_type(dt.keyType, alloc, f"{path}.key"),
                "value": _iceberg_type(dt.valueType, alloc,
                                       f"{path}.value")}
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    simple = {T.LongType: "long", T.IntegerType: "int",
              T.ShortType: "int", T.ByteType: "int",
              T.StringType: "string", T.DoubleType: "double",
              T.FloatType: "float", T.BooleanType: "boolean",
              T.DateType: "date", T.BinaryType: "binary",
              T.TimestampType: "timestamptz"}
    for cls, name in simple.items():
        if isinstance(dt, cls):
            return name
    if dt.__class__.__name__ == "TimestampNTZType":
        return "timestamp"
    raise NotImplementedError(f"no Iceberg type for Spark {dt}")


def _spark_type(ice):
    """Spark DataType for an Iceberg type (reader side)."""
    from pyspark.sql import types as T
    if isinstance(ice, dict):
        if ice["type"] == "struct":
            return T.StructType([
                T.StructField(f["name"], _spark_type(f["type"]), True)
                for f in ice["fields"]])
        if ice["type"] == "list":
            return T.ArrayType(_spark_type(ice["element"]), True)
        if ice["type"] == "map":
            return T.MapType(_spark_type(ice["key"]),
                             _spark_type(ice["value"]), True)
        raise NotImplementedError(str(ice))
    if ice.startswith("decimal"):
        p, s = ice[ice.index("(") + 1:-1].split(",")
        return T.DecimalType(int(p), int(s))
    return {"long": T.LongType(), "int": T.IntegerType(),
            "string": T.StringType(), "double": T.DoubleType(),
            "float": T.FloatType(), "boolean": T.BooleanType(),
            "date": T.DateType(), "binary": T.BinaryType(),
            "timestamptz": T.TimestampType(),
            "timestamp": T.TimestampNTZType()}[ice]


# -- Avro schemas for the Iceberg metadata files -----------------------------

def _partition_avro(spec_fields: list, types: dict) -> dict:
    """Avro record type of the partition tuple for a spec — one
    optional field per spec field, typed by the source column."""
    return {"type": "record", "name": "r102", "fields": [
        {"name": f["name"],
         "type": ["null", "long" if types.get(f["name"]) in
                  ("long", "int") else "string"],
         "default": None, "field-id": f["field-id"]}
        for f in spec_fields]}


def _data_file_avro(partition_schema: dict) -> dict:
    return {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_schema, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int",
                           "element-id": 136}],
         "default": None, "field-id": 135},
        {"name": "sort_order_id", "type": ["null", "int"],
         "default": None, "field-id": 140},
    ]}


def _manifest_entry_avro(partition_schema: dict) -> dict:
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "type": _data_file_avro(partition_schema),
         "field-id": 2},
    ]}


_MANIFEST_FILE_AVRO = {"type": "record", "name": "manifest_file",
                       "fields": [
    {"name": "manifest_path", "type": "string", "field-id": 500},
    {"name": "manifest_length", "type": "long", "field-id": 501},
    {"name": "partition_spec_id", "type": "int", "field-id": 502},
    {"name": "content", "type": "int", "field-id": 517},
    {"name": "sequence_number", "type": "long", "field-id": 515},
    {"name": "min_sequence_number", "type": "long", "field-id": 516},
    {"name": "added_snapshot_id", "type": "long", "field-id": 503},
    {"name": "added_files_count", "type": "int", "field-id": 504},
    {"name": "existing_files_count", "type": "int", "field-id": 505},
    {"name": "deleted_files_count", "type": "int", "field-id": 506},
    {"name": "added_rows_count", "type": "long", "field-id": 512},
    {"name": "existing_rows_count", "type": "long", "field-id": 513},
    {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    {"name": "partitions", "type": ["null", {
        "type": "array", "element-id": 508,
        "items": {"type": "record", "name": "r508", "fields": [
            {"name": "contains_null", "type": "boolean",
             "field-id": 509},
            {"name": "contains_nan", "type": ["null", "boolean"],
             "default": None, "field-id": 518},
            {"name": "lower_bound", "type": ["null", "bytes"],
             "default": None, "field-id": 510},
            {"name": "upper_bound", "type": ["null", "bytes"],
             "default": None, "field-id": 511}]}}],
     "default": None, "field-id": 507},
]}


def _bound_bytes(val, ice_type: str | None = None) -> bytes:
    """Single-value serialization for partition bounds (spec
    Appendix D): 4-byte little-endian for int-typed source columns,
    8-byte for longs, UTF-8 for strings.  External planners decode
    bounds by the SOURCE column's Iceberg type, so an int column's
    bounds must be exactly 4 bytes (r13 advice fix)."""
    if isinstance(val, int):
        n = 4 if ice_type == "int" and -2**31 <= val < 2**31 else 8
        return val.to_bytes(n, "little", signed=True)
    return str(val).encode("utf-8")


def _partition_summaries(entries: list[dict], spec_fields: list,
                         types: dict | None = None) -> list[dict] | None:
    """Per-spec-field summaries over a manifest's LIVE entries —
    contains_null + lower/upper bounds, the metadata external planners
    prune manifests with."""
    if not spec_fields:
        return None
    out = []
    for f in spec_fields:
        vals, has_null = [], False
        for e in entries:
            if e["status"] == 2:
                continue
            v = e["data_file"]["partition"].get(f["name"])
            if v is None:
                has_null = True
            else:
                vals.append(v)
        import base64
        ice_type = (types or {}).get(f["name"])
        out.append({
            "contains_null": has_null, "contains_nan": None,
            # base64 so the summaries survive the JSON sidecar;
            # decoded back to raw bytes at manifest-list write time
            "lower_bound": base64.b64encode(
                _bound_bytes(min(vals), ice_type)).decode("ascii")
            if vals else None,
            "upper_bound": base64.b64encode(
                _bound_bytes(max(vals), ice_type)).decode("ascii")
            if vals else None})
    return out


def _decode_summaries(summ):
    if summ is None:
        return None
    import base64
    return [{**fs,
             "lower_bound": (base64.b64decode(fs["lower_bound"])
                             if fs.get("lower_bound") else None),
             "upper_bound": (base64.b64decode(fs["upper_bound"])
                             if fs.get("upper_bound") else None)}
            for fs in summ]


# -- the mirror --------------------------------------------------------------

class IcebergMirror:
    """Per-table Iceberg v2 metadata emitter.  Instantiated around a
    ``ManagedTable``; all methods run under the table's pointer mutex
    (called from ``_publish``), so sidecar updates are serialized."""

    # metadata.json carries the snapshots list, so each commit's
    # metadata write is O(retained snapshots); past this bound the
    # OLDEST untagged snapshots drop from the document (Iceberg's
    # snapshot expiration, decoupled from data retention — the ENGINE
    # log still time-travels everything; only external-reader
    # visibility of ancient snapshots ages out). Tags always survive.
    SNAPSHOT_RETENTION = 64

    def __init__(self, table):
        self.t = table
        self.dir = os.path.join(table.path, META_DIR)

    # -- sidecar state ------------------------------------------------------
    @property
    def _state_file(self) -> str:
        return os.path.join(self.dir, "_mirror_state.json")

    def _load_state(self) -> dict:
        try:
            with open(self._state_file) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"ids": {}, "next_id": 1, "meta_seq": 0,
                    "schema_id": -1, "schema_fields": None,
                    "last_map": None, "manifests": [],
                    "state_dirs": {}, "specs": None,
                    "metadata_file": None, "table_uuid": None}
        except ValueError as e:
            # a CORRUPT sidecar must not silently reset to empty —
            # the next emission would re-allocate field ids from 1 and
            # the mirror's schema would contradict every stamped file
            # (r13 hardening, same philosophy as the r12 archive fix).
            # ``ManagedTable.rebuild_mirrors()`` regenerates the whole
            # tree from the commit log.
            raise IcebergMirrorCorruptionError(
                f"Iceberg mirror sidecar {self._state_file} exists "
                f"but cannot be parsed ({e}); refusing to emit on a "
                f"reset id allocator — run rebuild_mirrors() to "
                f"regenerate the metadata tree from the commit log"
            ) from None

    def _save_state(self, st: dict) -> None:
        prev = self._state_file + ".prev"
        try:
            os.replace(self._state_file, prev)
        except FileNotFoundError:
            pass
        tmp = self._state_file + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._state_file)

    # -- id allocation ------------------------------------------------------
    @staticmethod
    def _alloc(st: dict):
        def alloc(path: str) -> int:
            ids = st["ids"]
            if path not in ids:
                ids[path] = st["next_id"]
                st["next_id"] += 1
            return ids[path]
        return alloc

    @staticmethod
    def _rekey_materialized(ids: dict, last_map: list) -> None:
        """Re-key allocator entries physical -> logical for a
        materializing commit (renames keep their ids)."""
        for p, logical, _t in last_map:
            src = p if p is not None else f"col-added-{logical}"
            if src in ids and logical not in ids:
                renamed = {}
                for k, v in list(ids.items()):
                    if k == src or k.startswith(src + "."):
                        renamed[logical + k[len(src):]] = v
                        del ids[k]
                ids.update(renamed)

    # -- schema -------------------------------------------------------------
    def _logical_fields(self, st: dict, meta: dict,
                        files: list) -> list[dict]:
        """Current LOGICAL schema as Iceberg field dicts, with stable
        ids keyed by physical identity.  Mirrors the Delta mirror's
        schemaString derivations (``_mapped_schema_string`` /
        ``_delta_schema_string``)."""
        from pyspark.sql.types import _parse_datatype_string
        alloc = self._alloc(st)
        cmap = meta.get("column_map")
        if cmap is None and st.get("last_map"):
            # materializing commit on a previously-mapped table: the
            # files' physical names BECAME the logical names — carry
            # each column's id across the rename (spec: renames keep
            # ids) by re-keying the allocator entries
            self._rekey_materialized(st["ids"], st["last_map"])
        if cmap:
            phys = {f.name: f for f in
                    self.t._physical_struct(files).fields} if files else {}
            out = []
            for p, logical, typ in cmap:
                pname = p if p is not None else f"col-added-{logical}"
                if p is not None and p in phys:
                    dt = phys[p].dataType
                else:
                    dt = _parse_datatype_string(typ)
                out.append({"id": alloc(pname), "name": logical,
                            "required": False,
                            "type": _iceberg_type(dt, alloc, pname),
                            "_phys": pname})
            return out
        struct = self.t._physical_struct(files)
        if files:
            # native-id adoption (r13): a RESTORE can re-introduce a
            # column whose allocator entry a rename-materialize
            # re-keyed away (the physical name "val" became "amount");
            # minting a fresh id would then contradict the files' own
            # stamped PARQUET:field_id and the authoritative-id reader
            # would NULL the column.  The files are the source of
            # truth: adopt their stamped id for any path the allocator
            # no longer names, rolling the conflicting key (the
            # renamed-away name) out exactly as the restore rolled it
            # off the table.  Top-level only, like the stamping.
            import pyarrow.parquet as pq
            try:
                sch = list(pq.read_schema(files[0][1]))
            except (OSError, ValueError):
                sch = []
            ids = st["ids"]
            for fld in sch:
                raw = (fld.metadata or {}).get(b"PARQUET:field_id")
                if raw is None or fld.name in ids:
                    continue
                fid = int(raw)
                for k in [k for k, i in list(ids.items()) if i == fid]:
                    del ids[k]
                ids[fld.name] = fid
                st["next_id"] = max(st["next_id"], fid + 1)
        return [{"id": alloc(f.name), "name": f.name, "required": False,
                 "type": _iceberg_type(f.dataType, alloc, f.name),
                 "_phys": f.name}
                for f in struct.fields]

    def peek_ids(self, struct, cmap: list | None = None,
                 allow_new: bool = False) -> dict:
        """Top-level (physical column -> field id) exactly as the NEXT
        emission will allocate them, WITHOUT persisting — the write
        path stamps these into parquet footers as ``parquet.field.id``
        column metadata (``managed._stamp_field_ids``, r13) so every
        engine-written file resolves by id, the spec's primary rule.

        Existing sidecar ids are authoritative; on a fresh sidecar the
        emitter's exact traversal is replayed — data columns in write
        order, then directory-encoded partition columns in
        ``partition_by`` order (mirroring ``_physical_struct``), with
        nested paths burning ids through ``_iceberg_type`` — so the
        stamped ids and the first emission's schema agree.  On a table
        whose sidecar already has ids, only VOUCHED columns are
        returned unless ``allow_new`` — a FULL-schema rewrite
        (overwrite) traverses in the emitter's order, so its simulated
        ids for brand-new columns are exact, while a partial-column
        write (a tombstone batch) must not guess ids for columns the
        mirror has not named.  A materializing write on a mapped
        table re-keys physical -> logical first, mirroring
        ``_logical_fields``."""
        st = self._load_state()
        sim_ids = dict(st["ids"])
        if cmap is None and st.get("last_map"):
            self._rekey_materialized(sim_ids, st["last_map"])
        vouched = set(sim_ids)          # ids the mirror already named
        had_ids = bool(st["ids"])
        sim = {"ids": sim_ids, "next_id": st["next_id"]}
        alloc = self._alloc(sim)
        out: dict[str, int] = {}
        phys_types = {f.name: f.dataType for f in struct.fields}
        if cmap:
            from pyspark.sql.types import _parse_datatype_string
            for p, lg, typ in cmap:
                pname = p if p is not None else f"col-added-{lg}"
                dt = phys_types.get(pname)
                if dt is None:
                    dt = _parse_datatype_string(typ or "string")
                out[pname] = alloc(pname)
                _iceberg_type(dt, alloc, pname)
        else:
            pb = list(self.t.partition_by)
            ordered = [f for f in struct.fields if f.name not in pb]
            by_name = {f.name: f for f in struct.fields}
            ordered += [by_name[c] for c in pb if c in by_name]
            for f in ordered:
                out[f.name] = alloc(f.name)
                _iceberg_type(f.dataType, alloc, f.name)
        if had_ids and not allow_new:
            out = {k: i for k, i in out.items() if k in vouched}
        return {k: i for k, i in out.items() if k in phys_types}

    @staticmethod
    def _name_mapping(st: dict, fields: list[dict]) -> list[dict]:
        """CUMULATIVE name mapping: every (file-column-name -> field-id)
        pair ever valid stays recorded, so historical snapshots remain
        resolvable after renames/materializes/restores re-key the
        current schema.  A name may map to several ids across history
        (rename away, then re-introduce under a fresh id); readers
        disambiguate per snapshot — a snapshot's schema names its own
        fields, and only its field ids consult the mapping."""
        acc = {int(k): list(v)
               for k, v in (st.get("name_map") or {}).items()}
        for f in fields:
            names = acc.setdefault(f["id"], [])
            # PHYSICAL names only: the mapping describes what is in
            # files, and no file ever stores a column under a logical
            # name that differs from its physical one.  Recording the
            # logical name too made a DROP-then-re-ADD ambiguous (the
            # re-used NAME entered the fresh id's entry, and a reader
            # resolving the new id against pre-drop files resurrected
            # the dropped column's stale values).
            if f["_phys"] not in names:
                names.append(f["_phys"])
        st["name_map"] = {str(k): v for k, v in acc.items()}
        return [{"field-id": k, "names": v}
                for k, v in sorted(acc.items())]

    @staticmethod
    def _public_fields(fields: list[dict]) -> list[dict]:
        return [{k: v for k, v in f.items() if k != "_phys"}
                for f in fields]

    # -- specs --------------------------------------------------------------
    def _specs(self, st: dict, fields: list[dict]) -> list[dict]:
        if st.get("specs") is not None:
            return st["specs"]
        by_logical = {f["name"]: f["id"] for f in fields}
        spec0 = {"spec-id": 0, "fields": [
            {"name": pcol, "transform": "identity",
             "source-id": by_logical.get(pcol, 0),
             "field-id": 1000 + i}
            for i, pcol in enumerate(self.t.partition_by)]}
        specs = [spec0]
        if self.t.partition_by:
            # unpartitioned spec for flat MOR-state / delta-dir files
            # (the spec applies global equality deletes through it)
            specs.append({"spec-id": 1, "fields": []})
        st["specs"] = specs
        return specs

    def _flat_spec_id(self, st: dict) -> int:
        return 1 if self.t.partition_by else 0

    # -- manifest writing ---------------------------------------------------
    def _spec_types(self, fields: list[dict]) -> dict:
        return {f["name"]: (f["type"] if isinstance(f["type"], str)
                            else "string") for f in fields}

    def _row_counts(self, rels: list[str]) -> dict[str, int]:
        """Per-file parquet row counts (``data_file.record_count`` is
        required by the spec).  Small sets read footers on the driver;
        large sets fan out ONE Spark job, so a full-table emission
        never serializes millions of footer reads through the driver —
        the only O(files) data-plane step emission has (everything
        else is commit metadata)."""
        if len(rels) <= DRIVER_FANOUT_THRESHOLD:
            import pyarrow.parquet as pq
            return {r: pq.ParquetFile(
                os.path.join(self.t.path, r)).metadata.num_rows
                for r in rels}
        root = self.t.path

        def _count(r):
            import os as _os

            import pyarrow.parquet as _pq
            return r, _pq.ParquetFile(
                _os.path.join(root, r)).metadata.num_rows
        sc = self.t.spark.sparkContext
        return dict(sc.parallelize(
            rels, max(1, len(rels) // 512)).map(_count).collect())

    def _entry(self, rel: str, snapshot_id: int, *, status: int = 1,
               content: int = 0, equality_ids: list[int] | None = None,
               seq: int | None = None, spec_fields: list | None = None,
               types: dict | None = None,
               row_count: int | None = None) -> dict:
        full = os.path.join(self.t.path, rel)
        if row_count is None:
            import pyarrow.parquet as pq
            row_count = pq.ParquetFile(full).metadata.num_rows
        part = {}
        for f in spec_fields or ():
            val = self.t._partition_values(rel).get(f["name"])
            if val is not None and types \
                    and types.get(f["name"]) in ("long", "int"):
                val = int(val)
            part[f["name"]] = val
        return {"status": status, "snapshot_id": snapshot_id,
                "sequence_number": (file_sequence(rel)
                                    if seq is None else seq),
                "file_sequence_number": None,
                "data_file": {
                    "content": content,
                    "file_path": full,
                    "file_format": "PARQUET",
                    "partition": part,
                    "record_count": row_count,
                    "file_size_in_bytes": os.path.getsize(full),
                    "equality_ids": equality_ids,
                    "sort_order_id": None}}

    def _write_manifest(self, st: dict, entries: list[dict], *,
                        content: int, spec_id: int, snapshot_id: int,
                        fields: list[dict], spec_fields: list,
                        types: dict, state_dir: str | None = None) -> dict:
        name = f"m-{uuid.uuid4().hex}.avro"
        path = os.path.join(self.dir, name)
        part_schema = _partition_avro(spec_fields, types)
        schema = _manifest_entry_avro(part_schema)
        meta = {"schema": json.dumps({
                    "type": "struct", "schema-id": max(st["schema_id"], 0),
                    "fields": self._public_fields(fields)}),
                "schema-id": str(max(st["schema_id"], 0)),
                "partition-spec": json.dumps(spec_fields),
                "partition-spec-id": str(spec_id),
                "format-version": "2",
                "content": "data" if content == 0 else "deletes"}
        length = write_ocf(path, schema, entries, meta)
        live = [e for e in entries if e["status"] != 2]
        seqs = [e["sequence_number"] for e in live] or [0]
        added = [e for e in live if e["status"] == 1]
        existing = [e for e in live if e["status"] == 0]
        deleted = [e for e in entries if e["status"] == 2]
        summaries = _partition_summaries(entries, spec_fields, types)
        return {"path": name, "length": length, "content": content,
                "partitions": summaries,
                "spec_id": spec_id, "added_snapshot_id": snapshot_id,
                "seq": max(seqs), "min_seq": min(seqs),
                "added_files": len(added), "existing_files": len(existing),
                "deleted_files": len(deleted),
                "added_rows": sum(e["data_file"]["record_count"]
                                  for e in added),
                "existing_rows": sum(e["data_file"]["record_count"]
                                     for e in existing),
                "deleted_rows": sum(e["data_file"]["record_count"]
                                    for e in deleted),
                "state_dir": state_dir}

    def _read_manifest_entries(self, m: dict) -> list[dict]:
        _schema, _meta, recs = read_ocf(os.path.join(self.dir, m["path"]))
        return recs

    def _fold_manifests(self, st: dict, snapshot_id: int,
                        fields: list[dict]) -> None:
        """RewriteManifests: merge plain data manifests into one once
        they pile past FOLD_MANIFESTS_AT — bounds the manifest-list
        size and the read-back cost of partition-scoped rewrites.
        Delta-dir data manifests (state-linked) keep their identity so
        MOR purges can drop them."""
        plain = [m for m in st["manifests"]
                 if m["content"] == 0 and m["state_dir"] is None]
        if len(plain) <= FOLD_MANIFESTS_AT:
            return
        specs = self._specs(st, fields)
        spec0 = specs[0]
        types = self._spec_types(fields)
        entries = []
        for m in plain:
            for e in self._read_manifest_entries(m):
                if e["status"] == 2:
                    continue
                e["status"] = 0
                # flat-spec entries fold only with matching spec
                if m["spec_id"] != spec0["spec-id"]:
                    entries = None
                    break
                entries.append(e)
            if entries is None:
                return
        folded = self._write_manifest(
            st, entries, content=0, spec_id=spec0["spec-id"],
            snapshot_id=snapshot_id, fields=fields,
            spec_fields=spec0["fields"], types=types)
        st["manifests"] = [m for m in st["manifests"] if m not in plain]
        st["manifests"].append(folded)

    # -- metadata.json ------------------------------------------------------
    def _prev_metadata(self, st: dict) -> dict | None:
        if not st.get("metadata_file"):
            return None
        try:
            with open(os.path.join(self.dir, st["metadata_file"])) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def _write_metadata(self, st: dict, doc: dict) -> None:
        st["meta_seq"] += 1
        name = f"v{st['meta_seq']}.metadata.json"
        tmp = os.path.join(self.dir, name + ".tmp")
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, os.path.join(self.dir, name))
        hint = os.path.join(self.dir, "version-hint.text")
        with open(hint + ".tmp", "w") as f:
            f.write(str(st["meta_seq"]))
        os.replace(hint + ".tmp", hint)
        st["metadata_file"] = name

    def _metadata_doc(self, st: dict, *, v: int, fields: list[dict],
                      snapshot: dict | None, ts_ms: int,
                      expire: bool = False,
                      drop_from_seq: int | None = None) -> dict:
        prev = self._prev_metadata(st)
        schemas = list(prev["schemas"]) if prev else []
        if not any(s["schema-id"] == st["schema_id"] for s in schemas):
            schemas.append({"type": "struct",
                            "schema-id": st["schema_id"],
                            "fields": self._public_fields(fields)})
        snapshots = list(prev["snapshots"]) if prev else []
        snap_log = list(prev.get("snapshot-log") or []) if prev else []
        meta_log = list(prev.get("metadata-log") or []) if prev else []
        if expire:
            # vacuum dropped the historical data dirs, so prior
            # snapshots are unreadable — expire them (Iceberg's
            # expireSnapshots), EXCEPT tagged versions: the engine's
            # vacuum retains a tagged version's data dirs, so its
            # snapshot (and manifests, see after_vacuum's gc) stays
            # readable under the tag ref
            tagged = set(self.t.tags().values())
            snapshots = [s for s in snapshots
                         if s["sequence-number"] in tagged]
            if snapshot is not None:
                # the replace snapshot SUPERSEDES any retained
                # snapshot at its own sequence (current version
                # tagged): both describe the same logical state, but
                # the old record's manifests predate the vacuum
                # re-point — keeping it would duplicate a snapshot at
                # one sequence (r13 advice fix: the stale record won
                # reader resolution and blocked manifest GC).  The
                # tag ref re-resolves to the replace snapshot below.
                snapshots = [s for s in snapshots
                             if s["sequence-number"]
                             != snapshot["sequence-number"]]
            kept_ids = {s["snapshot-id"] for s in snapshots}
            snap_log = [e for e in snap_log
                        if e["snapshot-id"] in kept_ids]
        if drop_from_seq is not None:
            # orphan heal: the engine log disowned version(s) from
            # ``drop_from_seq`` — their snapshots leave the table
            snapshots = [s for s in snapshots
                         if s["sequence-number"] < drop_from_seq]
            kept = {s["snapshot-id"] for s in snapshots}
            snap_log = [e for e in snap_log
                        if e["snapshot-id"] in kept]
        if snapshot is not None:
            snapshots.append(snapshot)
            snap_log.append({"timestamp-ms": ts_ms,
                             "snapshot-id": snapshot["snapshot-id"]})
        if len(snapshots) > self.SNAPSHOT_RETENTION:
            tagged = set(self.t.tags().values())
            keep_tail = snapshots[-self.SNAPSHOT_RETENTION:]
            keep = [s for s in snapshots[:-self.SNAPSHOT_RETENTION]
                    if s["sequence-number"] in tagged] + keep_tail
            kept_ids = {s["snapshot-id"] for s in keep}
            snapshots = keep
            snap_log = [e for e in snap_log
                        if e["snapshot-id"] in kept_ids]
        if prev:
            meta_log.append({"timestamp-ms": prev["last-updated-ms"],
                             "metadata-file": os.path.join(
                                 self.dir, st["metadata_file"])})
            meta_log = meta_log[-10:]
        if snapshot is not None:
            current = snapshot["snapshot-id"]
        elif drop_from_seq is not None:
            current = snapshots[-1]["snapshot-id"] if snapshots else -1
        else:
            current = (prev.get("current-snapshot-id", -1)
                       if prev else -1)
        specs = self._specs(st, fields)
        if st["table_uuid"] is None:
            st["table_uuid"] = str(uuid.uuid4())
        n_spec_fields = sum(len(s["fields"]) for s in specs)
        # named refs: the engine's tags (ManagedTable.tag — pinned
        # versions that survive vacuum) surface as Iceberg tag refs;
        # "main" tracks the current snapshot as a branch. Tags created
        # between commits appear at the next emission.
        by_seq = {s["sequence-number"]: s["snapshot-id"]
                  for s in snapshots}
        refs = {}
        if current != -1:
            refs["main"] = {"snapshot-id": current, "type": "branch"}
        for name, tv in sorted(self.t.tags().items()):
            if tv in by_seq:
                refs[name] = {"snapshot-id": by_seq[tv], "type": "tag"}
        return {
            "format-version": 2,
            "table-uuid": st["table_uuid"],
            "location": self.t.path,
            "last-sequence-number": v,
            "last-updated-ms": ts_ms,
            "last-column-id": st["next_id"] - 1,
            "current-schema-id": st["schema_id"],
            "schemas": schemas,
            "default-spec-id": 0,
            "partition-specs": specs,
            "last-partition-id": 999 + n_spec_fields,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            # tables whose files carry native PARQUET:field_id
            # metadata (r13 writer stamping) need no name mapping —
            # id resolution is the spec's primary rule; legacy tables
            # (pre-r13 files) keep the cumulative mapping
            "properties": {
                **({} if st.get("native_ids") else {
                    "schema.name-mapping.default": json.dumps(
                        self._name_mapping(st, fields))}),
                "write.format.default": "parquet",
                "commit.engine": "tb-lakehouse-enhanced-spark"},
            "current-snapshot-id": current,
            "snapshots": snapshots,
            "snapshot-log": snap_log,
            "metadata-log": meta_log,
            "refs": refs,
        }

    def _snapshot(self, st: dict, *, v: int, snapshot_id: int,
                  operation: str, ts_ms: int) -> dict:
        """Write the manifest list for the sidecar's current manifest
        set and return the snapshot record."""
        prev = self._prev_metadata(st)
        parent = prev.get("current-snapshot-id") if prev else None
        name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
        records = [{
            "manifest_path": os.path.join(self.dir, m["path"]),
            "manifest_length": m["length"],
            "partition_spec_id": m["spec_id"],
            "content": 1 if m["content"] != 0 else 0,
            "sequence_number": m["seq"],
            "min_sequence_number": m["min_seq"],
            "added_snapshot_id": m["added_snapshot_id"],
            "added_files_count": m["added_files"],
            "existing_files_count": m["existing_files"],
            "deleted_files_count": m["deleted_files"],
            "added_rows_count": m["added_rows"],
            "existing_rows_count": m["existing_rows"],
            "deleted_rows_count": m["deleted_rows"],
            "partitions": _decode_summaries(m.get("partitions")),
        } for m in st["manifests"]]
        write_ocf(os.path.join(self.dir, name), _MANIFEST_FILE_AVRO,
                  records, {"snapshot-id": str(snapshot_id),
                            "sequence-number": str(v),
                            "parent-snapshot-id": str(parent),
                            "format-version": "2"})
        added = sum(m["added_files"] for m in st["manifests"]
                    if m["added_snapshot_id"] == snapshot_id)
        rows = sum(m["added_rows"] + m["existing_rows"]
                   for m in st["manifests"] if m["content"] == 0)
        snap = {"snapshot-id": snapshot_id,
                "sequence-number": v,
                "timestamp-ms": ts_ms,
                "manifest-list": os.path.join(self.dir, name),
                "summary": {"operation": operation,
                            "added-data-files": str(added),
                            "total-records": str(rows)},
                "schema-id": st["schema_id"]}
        if parent is not None and parent != -1:
            snap["parent-snapshot-id"] = parent
        return snap

    # -- per-commit emission ------------------------------------------------
    def emit(self, v: int, meta: dict) -> None:
        """Mirror commit ``v`` into the Iceberg metadata tree.  Runs
        under the table's pointer mutex, right after the Delta mirror
        emit (``managed._publish``)."""
        os.makedirs(self.dir, exist_ok=True)
        st = self._load_state()
        ts_ms = int((meta.get("ts") or time.time()) * 1000)
        snapshot_id = v + 1           # engine versions are 0-based
        cmap = meta.get("column_map")
        mor_keys = meta.get("tombstone_keys") or []
        # a table predating the mirror (no prior emission) bootstraps
        # with a FULL live-set snapshot regardless of commit type — an
        # incremental (append/partial) first emission would describe
        # only the batch and lose the rest of the table
        bootstrapping = st["schema_fields"] is None
        if st.get("native_ids") is None:
            # decided ONCE, at the table's first emission: when the
            # engine's writer stamped PARQUET:field_id into the
            # footers (managed._stamp_field_ids, r13), every file
            # resolves by id — the spec's primary rule — and the
            # schema.name-mapping.default property is omitted
            # entirely, retiring the whole name-collision class the
            # r12 resurrection fix had to guard
            probe = sorted(self.t._live_files(v).items()) \
                or self.t._data_files(meta["dir"])
            if probe:
                import pyarrow.parquet as pq
                sch = pq.read_schema(probe[0][1])
                st["native_ids"] = any(
                    (f.metadata or {}).get(b"PARQUET:field_id")
                    is not None for f in sch)

        # ---- schema pass (skipped on schema-preserving commits) ----
        data_changed = True
        operation = "overwrite"
        if meta.get("added_files") is not None and v > 0:
            operation = "append"
            fields = st["schema_fields"]
        elif meta.get("partitions_rewritten") is not None and v > 0:
            fields = st["schema_fields"]
        elif cmap is not None and meta.get("live_base") == v - 1 \
                and st["schema_fields"] is not None \
                and not self._state_dirs_changed(st, meta):
            # metadata-only schema evolution: files untouched
            files = [(rel, full) for rel, full in
                     sorted(self.t._live_files(v).items())]
            fields = self._logical_fields(st, meta, files)
            data_changed = False
        elif meta.get("live_base") == v - 1 \
                and st["schema_fields"] is not None:
            # MOR-only commit (new tombstone/delta on the same base)
            fields = st["schema_fields"]
            data_changed = False
            operation = "delete" if not meta.get("deltas") else "overwrite"
        else:
            # full replace / restore / first commit
            files = [(rel, full) for rel, full in
                     sorted(self.t._live_files(v).items())]
            if not files:
                files = self.t._data_files(meta["dir"])
            if not files and meta.get("column_map") is None:
                if st["schema_fields"] is None:
                    return      # schema-less empty table: nothing to
                                # mirror until the first data commit
                fields = st["schema_fields"]
            else:
                fields = self._logical_fields(st, meta, files)
        if fields is None:
            # first-ever emission arriving via an incremental commit
            # (a table predating the mirror): derive schema from the
            # batch, else from the live set
            files = [(f"{meta['dir']}/{rel}",
                      os.path.join(self.t.path, meta["dir"], rel))
                     for rel in meta.get("added_files") or ()]
            if not files:
                files = sorted(self.t._live_files(v).items())
            if not files and meta.get("column_map") is None:
                return          # nothing mirrorable yet
            fields = self._logical_fields(st, meta, files)
        pub = self._public_fields(fields)
        if st["schema_fields"] is None \
                or self._public_fields(st["schema_fields"]) != pub:
            st["schema_id"] += 1
        st["schema_fields"] = fields
        st["last_map"] = cmap
        by_phys = {f["_phys"]: f["id"] for f in fields}
        phys_of = {lg: p for p, lg, _t in (cmap or [])}
        eq_ids = [by_phys[phys_of.get(k, k)] for k in mor_keys
                  if phys_of.get(k, k) in by_phys] or None
        specs = self._specs(st, fields)
        spec0 = specs[0]
        types = self._spec_types(fields)
        flat_id = self._flat_spec_id(st)

        # ---- data pass ----
        mor_live = bool(meta.get("tombstones") or meta.get("deltas"))
        if bootstrapping:
            # force the full-regenerate route below (see note above)
            data_changed = True
        if not bootstrapping \
                and meta.get("added_files") is not None and v > 0:
            rels = [f"{meta['dir']}/{r}" for r in meta["added_files"]]
            counts = self._row_counts(rels)
            entries = [self._entry(
                r, snapshot_id,
                content=0, equality_ids=None,
                spec_fields=spec0["fields"], types=types,
                row_count=counts[r])
                for r in rels]
            st["manifests"].append(self._write_manifest(
                st, entries, content=0, spec_id=spec0["spec-id"],
                snapshot_id=snapshot_id, fields=fields,
                spec_fields=spec0["fields"], types=types))
            if mor_live and eq_ids:
                # append during MOR debt: the batch doubles as its own
                # equality delete, reproducing the engine's LWW window
                # (re-appended keys shadow older copies; the strictly-
                # lower rule protects the batch itself)
                dels = [self._entry(r, snapshot_id, content=2,
                                    equality_ids=eq_ids,
                                    spec_fields=[], types=types,
                                    row_count=counts[r])
                        for r in rels]
                st["manifests"].append(self._write_manifest(
                    st, dels, content=1, spec_id=flat_id,
                    snapshot_id=snapshot_id, fields=fields,
                    spec_fields=[], types=types,
                    state_dir=f"{meta['dir']}#selfdel"))
        elif not bootstrapping \
                and meta.get("partitions_rewritten") is not None \
                and v > 0:
            touched = list(meta["partitions_rewritten"])

            def _in_touched(rel: str) -> bool:
                inside = rel.split("/", 1)[1] if "/" in rel else ""
                return any(inside.startswith(t + "/") for t in touched)
            new_manifests = []
            for m in st["manifests"]:
                if m["content"] != 0 or m["state_dir"] is not None:
                    new_manifests.append(m)
                    continue
                entries = self._read_manifest_entries(m)
                keep, drop = [], []
                for e in entries:
                    if e["status"] == 2:
                        continue
                    rel = os.path.relpath(e["data_file"]["file_path"],
                                          self.t.path)
                    (drop if _in_touched(rel) else keep).append(e)
                if not drop:
                    new_manifests.append(m)
                    continue
                for e in keep:
                    e["status"] = 0
                for e in drop:
                    e["status"] = 2
                    e["snapshot_id"] = snapshot_id
                if keep or drop:
                    new_manifests.append(self._write_manifest(
                        st, keep + drop, content=0,
                        spec_id=m["spec_id"], snapshot_id=snapshot_id,
                        fields=fields, spec_fields=spec0["fields"],
                        types=types))
            adds = []
            for t_rel in touched:
                d = os.path.join(self.t.path, meta["dir"], t_rel)
                for root, _dirs, fns in os.walk(d):
                    for fn in fns:
                        if fn.endswith(".parquet"):
                            rel = os.path.relpath(
                                os.path.join(root, fn), self.t.path)
                            adds.append(rel)
            # append-only partitions (e.g. SCD2 history): new files only
            # — hardlinked old files keep their original entries
            prev_basenames = {
                os.path.basename(e["data_file"]["file_path"])
                for m in st["manifests"] if m["content"] == 0
                for e in self._read_manifest_entries(m)
                if e["status"] != 2} if meta.get("partitions_appended") \
                else set()
            for a_rel in meta.get("partitions_appended") or ():
                d = os.path.join(self.t.path, meta["dir"], a_rel)
                for root, _dirs, fns in os.walk(d):
                    for fn in fns:
                        if fn.endswith(".parquet") \
                                and fn not in prev_basenames:
                            rel = os.path.relpath(
                                os.path.join(root, fn), self.t.path)
                            adds.append(rel)
            st["manifests"] = new_manifests
            if adds:
                rels = sorted(set(adds))
                counts = self._row_counts(rels)
                entries = [self._entry(
                    r, snapshot_id, content=0,
                    spec_fields=spec0["fields"], types=types,
                    row_count=counts[r])
                    for r in rels]
                st["manifests"].append(self._write_manifest(
                    st, entries, content=0, spec_id=spec0["spec-id"],
                    snapshot_id=snapshot_id, fields=fields,
                    spec_fields=spec0["fields"], types=types))
        elif not bootstrapping and not data_changed:
            pass
        else:
            # full replace / restore / first commit: regenerate the
            # base data manifests from the live set
            files = [(rel, full) for rel, full in
                     sorted(self.t._live_files(v).items())]
            if not files:
                files = self.t._data_files(
                    meta["dir"] if meta.get("live_base") is None
                    else self.t._materialized_root(v))
            st["manifests"] = [m for m in st["manifests"]
                               if m["content"] != 0
                               or m["state_dir"] is not None]
            # a full replace also invalidates delta-dir data manifests
            # unless those dirs are still carried in meta
            carried = set(meta.get("deltas") or ()) \
                | set(meta.get("tombstones") or ())
            st["manifests"] = [
                m for m in st["manifests"]
                if m["state_dir"] is None or (
                    m["state_dir"].split("#", 1)[0] in carried)]
            if files:
                counts = self._row_counts([rel for rel, _f in files])
                entries = [self._entry(
                    rel, snapshot_id, content=0,
                    spec_fields=spec0["fields"], types=types,
                    row_count=counts[rel])
                    for rel, _full in files]
                st["manifests"].append(self._write_manifest(
                    st, entries, content=0, spec_id=spec0["spec-id"],
                    snapshot_id=snapshot_id, fields=fields,
                    spec_fields=spec0["fields"], types=types))

        # ---- MOR state pass: diff meta's state dirs vs the sidecar ----
        state_changed = False
        new_state = {d: 0 for d in (meta.get("tombstones") or ())}
        new_state.update({d: 1 for d in (meta.get("deltas") or ())})
        old_state = st["state_dirs"]
        for d in list(old_state):
            if d not in new_state:
                st["manifests"] = [
                    m for m in st["manifests"]
                    if m["state_dir"] is None
                    or m["state_dir"].split("#", 1)[0] != d]
                del old_state[d]
                state_changed = True
        if not new_state:
            # MOR debt fully resolved: drop the self-delete manifests
            # appends emitted during the episode (their data manifests
            # stay — those rows are live)
            st["manifests"] = [
                m for m in st["manifests"]
                if m["state_dir"] is None
                or not m["state_dir"].endswith("#selfdel")]
        for d, kind in new_state.items():
            if d in old_state:
                continue
            state_changed = True
            rels = []
            base = os.path.join(self.t.path, d)
            for root, _dirs, fns in os.walk(base):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        rels.append(os.path.relpath(
                            os.path.join(root, fn), self.t.path))
            if eq_ids is None:
                raise ValueError(
                    f"MOR state dir {d} without resolvable key ids")
            counts = self._row_counts(sorted(rels))
            dels = [self._entry(r, snapshot_id, content=2,
                                equality_ids=eq_ids,
                                spec_fields=[], types=types,
                                row_count=counts[r])
                    for r in sorted(rels)]
            st["manifests"].append(self._write_manifest(
                st, dels, content=1, spec_id=flat_id,
                snapshot_id=snapshot_id, fields=fields,
                spec_fields=[], types=types, state_dir=d))
            if kind == 1:     # delta (upsert) dir: rows are also data
                dats = [self._entry(r, snapshot_id, content=0,
                                    spec_fields=[], types=types,
                                    row_count=counts[r])
                        for r in sorted(rels)]
                st["manifests"].append(self._write_manifest(
                    st, dats, content=0, spec_id=flat_id,
                    snapshot_id=snapshot_id, fields=fields,
                    spec_fields=[], types=types, state_dir=d))
            old_state[d] = kind

        self._fold_manifests(st, snapshot_id, fields)
        snapshot = None
        if data_changed or state_changed:
            snapshot = self._snapshot(st, v=v, snapshot_id=snapshot_id,
                                      operation=operation, ts_ms=ts_ms)
        self._write_metadata(st, self._metadata_doc(
            st, v=v, fields=fields, snapshot=snapshot, ts_ms=ts_ms))
        self._save_state(st)

    def _state_dirs_changed(self, st: dict, meta: dict) -> bool:
        new = set(meta.get("tombstones") or ()) \
            | set(meta.get("deltas") or ())
        return new != set(st["state_dirs"])

    # -- heal / repair / vacuum --------------------------------------------
    def emit_noop(self, v: int) -> None:
        """Orphan-heal counterpart of the Delta mirror's
        commitInfo-only entry: a fresh metadata.json that re-points at
        the PARENT's state.  The crashed writer emitted its mirror
        metadata before dying (emission precedes the pointer flip, the
        same window the Delta mirror has), so the heal must DISOWN it:
        the sidecar rolls back one step (the ``.prev`` snapshot the
        orphan's emit saved) and the orphan's snapshot leaves the
        snapshots list; metadata numbering stays monotone."""
        st = self._load_state()
        if st["schema_fields"] is None:
            return
        doc = self._prev_metadata(st)
        if doc is not None and doc.get("last-sequence-number", -1) >= v:
            # the orphan's emit landed: adopt the pre-orphan sidecar
            # (manifest set, schema state) so the disowned version's
            # manifests leave the current set
            try:
                with open(self._state_file + ".prev") as f:
                    st_rb = json.load(f)
            except (FileNotFoundError, ValueError):
                st_rb = None
            if st_rb is not None and \
                    st_rb.get("meta_seq", 0) == st.get("meta_seq", 1) - 1:
                st_rb["meta_seq"] = st["meta_seq"]
                st_rb["table_uuid"] = st.get("table_uuid") \
                    or st_rb.get("table_uuid")
                st = st_rb
                if st["schema_fields"] is None:
                    return      # the orphan was the first-ever emit
        self._write_metadata(st, self._metadata_doc(
            st, v=v, fields=st["schema_fields"], snapshot=None,
            ts_ms=int(time.time() * 1000), drop_from_seq=v))
        self._save_state(st)

    def retract(self, v: int) -> None:
        """Manual orphan rollback (``repair_orphan_commit``): restore
        the sidecar and pointer to the pre-orphan state.  One-deep by
        construction — later commits collide on the orphan."""
        prev = self._state_file + ".prev"
        if not os.path.isfile(prev):
            return
        with open(prev) as f:
            st = json.load(f)
        cur = self._load_state()
        if cur.get("meta_seq", 0) > st.get("meta_seq", 0):
            doomed = os.path.join(
                self.dir, f"v{cur['meta_seq']}.metadata.json")
            try:
                os.remove(doomed)
            except FileNotFoundError:
                pass
        hint = os.path.join(self.dir, "version-hint.text")
        with open(hint + ".tmp", "w") as f:
            f.write(str(st["meta_seq"]))
        os.replace(hint + ".tmp", hint)
        tmp = self._state_file + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._state_file)

    def after_vacuum(self) -> None:
        """Vacuum counterpart: expired history's data dirs are gone,
        so (a) expire every snapshot but the current one, (b)
        regenerate the base data manifests from the live set (vacuum
        re-points legacy live files into the retained root — exactly
        like the Delta mirror's checkpoint rewrite), and (c) delete
        now-unreferenced manifest/metadata files."""
        st = self._load_state()
        if st["schema_fields"] is None:
            return
        v = self.t.current_version()
        meta = self.t._commit(v)
        fields = st["schema_fields"]
        specs = self._specs(st, fields)
        spec0 = specs[0]
        types = self._spec_types(fields)
        # replace snapshots live in a DISJOINT id space from the
        # per-commit convention (commit N -> id N+1): when the current
        # version is tagged, its pre-vacuum snapshot is retained at
        # the same sequence, and reusing v+1 would put two snapshot
        # records with one id in the document (r13 advice fix; the
        # same-sequence record is also dropped in _metadata_doc)
        snapshot_id = (1 << 40) + v + 1
        ts_ms = int(time.time() * 1000)
        keep_state = [m for m in st["manifests"]
                      if m["state_dir"] is not None
                      and os.path.isdir(os.path.join(
                          self.t.path,
                          m["state_dir"].split("#", 1)[0]))]
        files = sorted(self.t._live_files(v).items())
        st["manifests"] = keep_state
        if files:
            counts = self._row_counts([rel for rel, _f in files])
            entries = [self._entry(rel, snapshot_id, content=0,
                                   spec_fields=spec0["fields"],
                                   types=types, row_count=counts[rel])
                       for rel, _full in files]
            st["manifests"].append(self._write_manifest(
                st, entries, content=0, spec_id=spec0["spec-id"],
                snapshot_id=snapshot_id, fields=fields,
                spec_fields=spec0["fields"], types=types))
        snapshot = self._snapshot(st, v=v, snapshot_id=snapshot_id,
                                  operation="replace", ts_ms=ts_ms)
        doc = self._metadata_doc(
            st, v=v, fields=fields, snapshot=snapshot, ts_ms=ts_ms,
            expire=True)
        self._write_metadata(st, doc)
        self._save_state(st)
        # gc: drop avro/metadata files not referenced by any RETAINED
        # snapshot (the replace snapshot + tagged survivors) or the
        # metadata log
        referenced = {m["path"] for m in st["manifests"]}
        referenced.add(st["metadata_file"])
        for s in doc["snapshots"]:
            referenced.add(os.path.basename(s["manifest-list"]))
            try:
                for mf in read_ocf(s["manifest-list"])[2]:
                    referenced.add(os.path.basename(mf["manifest_path"]))
            except FileNotFoundError:
                pass
        for e in doc.get("metadata-log") or []:
            referenced.add(os.path.basename(e["metadata-file"]))
        for fn in os.listdir(self.dir):
            if fn.startswith("_") or fn == "version-hint.text":
                continue
            if fn not in referenced and (fn.endswith(".avro")
                                         or fn.endswith(".metadata.json")):
                try:
                    os.remove(os.path.join(self.dir, fn))
                except FileNotFoundError:
                    pass


# -- external reader / conformance validator ---------------------------------

def current_metadata(path: str) -> dict:
    """Parse the table's current Iceberg metadata document.

    HadoopTables layout first (``version-hint.text`` -> ``v{N}``);
    without a hint — REST/Glue-catalog writers name metadata
    ``00000-{uuid}.metadata.json`` and keep the pointer in the catalog
    — fall back to the newest ``*.metadata.json`` by version prefix
    then mtime, the standard recovery rule."""
    mdir = os.path.join(path, META_DIR)
    try:
        with open(os.path.join(mdir, "version-hint.text")) as f:
            n = int(f.read().strip())
        with open(os.path.join(mdir, f"v{n}.metadata.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        pass
    cands = [fn for fn in os.listdir(mdir)
             if fn.endswith(".metadata.json")]
    if not cands:
        raise FileNotFoundError(f"no Iceberg metadata under {mdir}")

    def _key(fn: str):
        head = fn.split("-", 1)[0].lstrip("v")
        seq = int(head) if head.isdigit() else -1
        return (seq, os.path.getmtime(os.path.join(mdir, fn)))
    with open(os.path.join(mdir, max(cands, key=_key))) as f:
        return json.load(f)


def read_iceberg(spark, path: str, snapshot_id: int | None = None,
                 as_of_ms: int | None = None,
                 ref: str | None = None):
    """Reconstruct a managed table FROM ITS ICEBERG METADATA ALONE —
    metadata.json -> manifest-list Avro -> manifest Avro -> parquet
    scan + equality-delete application.  Never consults the engine's
    commit log: this is the external-reader protocol, and the
    conformance suite asserts its output matches ``ManagedTable.read``
    after every commit type (the same role ``deltaread.read_delta``
    plays for the Delta mirror).

    Time travel: ``snapshot_id`` pins an exact snapshot (Iceberg's
    ``VERSION AS OF``); ``as_of_ms`` resolves the newest snapshot-log
    entry at or before the timestamp (``TIMESTAMP AS OF`` — the log
    only holds retained snapshots, so an expired point in time raises
    rather than silently reading a different state); ``ref`` reads a
    named ref from the metadata's ``refs`` map (engine tags surface as
    Iceberg tag refs, ``main`` as a branch — ``VERSION AS OF 'tag'``).
    The three selectors are mutually exclusive."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    doc = current_metadata(path)
    if doc["format-version"] != 2:
        raise ValueError(f"unsupported Iceberg format-version "
                         f"{doc['format-version']}")
    if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
        raise ValueError(
            "pass at most one of snapshot_id / as_of_ms / ref, "
            "not both")
    branch_read = False
    if ref is not None:
        refs = doc.get("refs") or {}
        if ref not in refs:
            raise ValueError(
                f"unknown ref {ref!r} (available: "
                f"{sorted(refs) or 'none'})")
        snapshot_id = refs[ref]["snapshot-id"]
        # Iceberg rule: branch reads use the table's CURRENT schema,
        # tag reads the schema pinned on the snapshot
        branch_read = refs[ref].get("type") == "branch"
    if as_of_ms is not None:
        log = doc.get("snapshot-log") or []
        at_or_before = [e for e in log if e["timestamp-ms"] <= as_of_ms]
        if not at_or_before:
            raise ValueError(
                f"no retained snapshot at or before timestamp "
                f"{as_of_ms} (snapshot-log starts at "
                f"{log[0]['timestamp-ms'] if log else 'empty'})")
        # log entries append in commit order; the last eligible one is
        # the state visible at as_of_ms
        snapshot_id = at_or_before[-1]["snapshot-id"]
    sid = snapshot_id if snapshot_id is not None \
        else doc["current-snapshot-id"]
    if sid is None or sid == -1:
        # no current snapshot (pre-first-commit metadata, or a heal
        # that disowned every snapshot): an empty DataFrame on the
        # table's logical schema, not a StopIteration (r13 advice fix)
        cur_schema = next(s for s in doc["schemas"]
                          if s["schema-id"] == doc["current-schema-id"])
        from .managed import empty_local_df
        return empty_local_df(spark, StructType(
            [StructField(f["name"], _spark_type(f["type"]), True)
             for f in cur_schema["fields"]]))
    snap = next((s for s in doc["snapshots"]
                 if s["snapshot-id"] == sid), None)
    if snap is None:
        raise ValueError(
            f"snapshot {sid} not found in table metadata (retained "
            f"snapshot ids: "
            f"{sorted(s['snapshot-id'] for s in doc['snapshots'])})")
    # a metadata-only schema evolution bumps current-schema-id without
    # a new snapshot, so a CURRENT read takes the table's current
    # schema; an explicit historical snapshot read takes the schema
    # pinned on that snapshot
    schema_id = doc["current-schema-id"] \
        if snapshot_id is None or branch_read \
        else snap.get("schema-id", doc["current-schema-id"])
    schema = next(s for s in doc["schemas"]
                  if s["schema-id"] == schema_id)
    mapping = json.loads(
        doc.get("properties", {}).get("schema.name-mapping.default",
                                      "[]"))
    name_of_id = {f["id"]: f["name"] for f in schema["fields"]}
    names_of_id: dict[int, list[str]] = {
        m["field-id"]: list(m["names"]) for m in mapping}
    # physical-name ownership: a file column the mapping assigns to
    # some OTHER field id must not resolve this one (a re-used NAME —
    # column dropped then re-added under a fresh id — would otherwise
    # resurrect the dropped column's values from pre-drop files)
    owner_fids: dict[str, set] = {}
    for m in mapping:
        for n in m["names"]:
            owner_fids.setdefault(n, set()).add(m["field-id"])

    def _resolve(fid: int, lname: str, columns,
                 file_ids: dict[int, str] | None = None) -> str | None:
        """File column holding field ``fid``: the file's own parquet
        field ids first (the spec's primary rule), then the snapshot
        schema's field name (files written on that schema), then the
        name-mapping's recorded names for the id (mapped-era physical
        names).  Per-snapshot resolution keeps re-used NAMES (a column
        renamed away and later re-introduced under a fresh id)
        unambiguous.

        When the file carries field ids they are AUTHORITATIVE for the
        columns they claim (the spec's primary rule): a field id the
        file maps resolves only through that mapping, and a file
        column CLAIMED by some other id never resolves a different id
        by name — a dropped-then-re-added column name would otherwise
        resurrect stale values from pre-drop files (the r12 guard,
        previously enforced via name-mapping ownership, now holds for
        native-id tables with no mapping at all).  Unclaimed columns
        (e.g. a brand-new column the writer could not stamp in its
        first commit) still fall back to name resolution."""
        if file_ids:
            nm = file_ids.get(fid)
            if nm is not None:
                return nm if nm in columns else None
            id_claimed = set(file_ids.values())
        else:
            id_claimed = set()
        for cand in [lname] + names_of_id.get(fid, []):
            if cand in columns:
                if cand in id_claimed:
                    continue    # the file assigns this column elsewhere
                claimed = owner_fids.get(cand)
                if claimed and fid not in claimed:
                    continue
                return cand
        return None

    specs = {s["spec-id"]: s for s in doc["partition-specs"]}
    _schema, _meta, manifests = read_ocf(snap["manifest-list"])
    data_files: list[tuple[str, int, dict]] = []
    delete_files: list[tuple[str, int, list[int]]] = []
    pos_deletes: list[tuple[str, int]] = []
    for mf in manifests:
        _s, _m, entries = read_ocf(mf["manifest_path"])
        spec = specs[mf["partition_spec_id"]]
        for e in entries:
            if e["status"] == 2:
                continue
            df_rec = e["data_file"]
            seq = e["sequence_number"]
            if seq is None:
                seq = mf["sequence_number"]
            if df_rec["content"] == 0:
                # identity-transform sources absent from the file are
                # read from the manifest's partition tuple (spec:
                # "Identity partition field values ... used to
                # reconstruct the source column")
                part = {}
                for sf in spec["fields"]:
                    if sf["transform"] == "identity":
                        part[sf["source-id"]] = \
                            df_rec["partition"].get(sf["name"])
                data_files.append((df_rec["file_path"], seq, part))
            elif df_rec["content"] == 2:
                delete_files.append((df_rec["file_path"], seq,
                                     df_rec["equality_ids"]))
            elif df_rec["content"] == 1:
                # position deletes: external writers only (this
                # mirror's MOR state is key-based); applied below via
                # (file path, row position) anti-join
                pos_deletes.append((df_rec["file_path"], seq))
            else:
                raise ValueError(
                    f"unknown data_file content {df_rec['content']}")

    logical_fields = [(f["name"], _spark_type(f["type"]))
                      for f in schema["fields"]]

    def _project(df, files: list[tuple[str, int, dict]],
                 file_ids: dict[int, str] | None = None):
        """Physical -> logical projection via the name mapping.
        Per-file sequence numbers and identity-partition values attach
        through ONE broadcast join on the normalized file path
        (manifest paths are absolute; ``_metadata.file_path`` carries
        a URI scheme) — O(1) plan size regardless of file count, so
        the reader's shape survives tables with millions of files."""
        from pyspark.sql.types import StringType as _Str
        from pyspark.sql.types import StructField as _SF
        from pyspark.sql.types import StructType as _ST
        base_cols = list(df.columns)
        part_fids = sorted({fid for _p, _s, part in files
                            for fid, val in part.items()
                            if val is not None})
        meta_rows = [(p, s, *[None if part.get(fid) is None
                              else str(part[fid])
                              for fid in part_fids])
                     for p, s, part in files]
        if len(meta_rows) <= 4096:
            # inline VALUES LocalRelation: createDataFrame builds a
            # LogicalRDD whose broadcast materialization runs a
            # default-parallelism (32-task) job per read; VALUES folds
            # to a LocalRelation and the broadcast build is job-free
            # (guide §2.4). Metadata-sized by construction; huge file
            # sets keep the distributed path.
            def _lit(v):
                if v is None:
                    return "NULL"
                if isinstance(v, str):
                    return ("'" + v.replace("\\", "\\\\")
                            .replace("'", "\\'") + "'")
                return str(v)
            rows_sql = ",".join(
                "(" + ",".join(_lit(c) for c in r) + ")"
                for r in meta_rows)
            names = ",".join(f"c{i}" for i in range(2 + len(part_fids)))
            meta_df = spark.sql(
                f"SELECT * FROM (VALUES {rows_sql}) AS t({names})"
            ).select(
                F.col("c0").cast("string").alias("_ice_fp"),
                F.col("c1").cast("bigint").alias("_ice_seq"),
                *[F.col(f"c{i + 2}").cast("string")
                  .alias(f"_ice_p{fid}")
                  for i, fid in enumerate(part_fids)])
        else:
            meta_df = spark.createDataFrame(meta_rows, _ST(
                [_SF("_ice_fp", _Str(), False),
                 _SF("_ice_seq", LongType(), True)]
                + [_SF(f"_ice_p{fid}", _Str(), True)
                   for fid in part_fids]))
        from .deltaread import scan_file_path
        df = df.withColumn("_ice_fp", scan_file_path())
        if pos_deletes:
            # row position per file, for position-delete application
            df = df.withColumn("_ice_pos",
                               F.col("_metadata.row_index"))
        df = df.join(F.broadcast(meta_df), "_ice_fp", "left")
        cols = []
        for fid, (lname, ltype) in zip(
                [f["id"] for f in schema["fields"]], logical_fields):
            src = _resolve(fid, lname, base_cols, file_ids)
            if src is not None:
                cols.append(F.col(src).alias(lname))
            elif fid in part_fids:
                cols.append(F.col(f"_ice_p{fid}").cast(ltype)
                            .alias(lname))
            else:
                cols.append(F.lit(None).cast(ltype).alias(lname))
        extra = [F.col("_ice_seq")]
        if pos_deletes:
            extra += [F.col("_ice_fp"), F.col("_ice_pos")]
        return df.select(*cols, *extra)

    # group data files by physical footer schema so one scan covers
    # each physical generation; each group carries its footer's
    # parquet field ids for spec-primary column resolution.  Footer
    # reads are metadata-sized but O(files): small sets read on the
    # driver, large sets fan out ONE Spark job (r13 advice fix — the
    # same shape as the emitter's _row_counts), so planning a
    # million-file table never serializes a million footer reads.
    def _footer_info(paths: list[str]) -> dict[str, tuple[str, dict]]:
        def _info(p):
            import pyarrow.parquet as _pq
            sch = _pq.read_schema(p)
            fids = {}
            for f in sch:
                md = f.metadata or {}
                v = md.get(b"PARQUET:field_id")
                if v is not None:
                    fids[int(v)] = f.name
            return p, (str(sch), fids)
        uniq = sorted(set(paths))
        if len(uniq) <= DRIVER_FANOUT_THRESHOLD:
            return dict(_info(p) for p in uniq)
        sc = spark.sparkContext
        return dict(sc.parallelize(
            uniq, max(1, len(uniq) // 512)).map(_info).collect())

    footers = _footer_info(
        [p for p, _s, _pt in data_files]
        + [p for p, _s, _ids in delete_files]
        + [p for p, _s in pos_deletes])
    groups: dict[str, tuple[dict, list]] = {}
    for p, seq, part in data_files:
        key, fids = footers[p]
        entry = groups.setdefault(key, (fids, []))
        entry[1].append((p, seq, part))
    parts = []
    for fids, grp in groups.values():
        df = spark.read.parquet(*[p for p, _s, _pt in grp])
        parts.append(_project(df, grp, fids))
    if not parts:
        return spark.createDataFrame(
            [], StructType([StructField(n, t, True)
                            for n, t in logical_fields]))
    data = parts[0]
    for p in parts[1:]:
        data = data.unionByName(p)

    if pos_deletes:
        # position deletes (external writers; this mirror's own MOR
        # state is key-based): one scan per (sequence, footer schema)
        # group, newest delete per (file, pos), and rows fall when a
        # delete at sequence >= the row's data sequence names their
        # exact (file, position) — the spec's <= rule for position
        # deletes (contrast equality's strictly-lower rule)
        pgroups: dict[tuple, list[str]] = {}
        for pth, s in pos_deletes:
            pgroups.setdefault((s, footers[pth][0]), []).append(pth)
        pparts = []
        for (s, _sch), paths in pgroups.items():
            raw = spark.read.parquet(*paths)
            pparts.append(raw.select(
                F.regexp_replace(F.col("file_path"),
                                 "^[a-zA-Z0-9.+-]+:/+", "/")
                .alias("_ice_fp"),
                F.col("pos").cast(LongType()).alias("_ice_pos"))
                .withColumn("_pd_seq", F.lit(s).cast(LongType())))
        pd_all = pparts[0]
        for pp in pparts[1:]:
            pd_all = pd_all.unionByName(pp)
        pd_all = pd_all.groupBy("_ice_fp", "_ice_pos").agg(
            F.max("_pd_seq").alias("_pd_seq"))
        data = (data.join(pd_all, ["_ice_fp", "_ice_pos"],
                          "left_outer")
                .filter(F.col("_pd_seq").isNull()
                        | (F.col("_pd_seq") < F.col("_ice_seq")))
                .drop("_pd_seq", "_ice_fp", "_ice_pos"))

    if delete_files:
        eq_sets = {tuple(sorted(ids)) for _p, _s, ids in delete_files}
        if len(eq_sets) != 1:
            raise NotImplementedError(
                "mixed equality-id sets in one snapshot")
        key_names = [name_of_id[i] for i in next(iter(eq_sets))]
        key_schema = StructType(
            [StructField(n, dict(logical_fields)[n], True)
             for n in key_names])
        key_ids = next(iter(eq_sets))
        # one scan per (sequence, footer schema) group — a delete
        # state dir holds many part files sharing both, so this stays
        # a handful of scans however many files the state spans
        dgroups: dict[tuple, list[str]] = {}
        dfids: dict[tuple, dict] = {}
        for p, s, _ids in delete_files:
            key, fids = footers[p]
            k = (s, key)
            dgroups.setdefault(k, []).append(p)
            dfids[k] = fids
        dparts = []
        for (s, _sch), paths in dgroups.items():
            # delete files may carry physical column names — resolve
            # each key field like data columns, then keep only keys
            raw = spark.read.parquet(*paths)
            ren = []
            for fid in key_ids:
                nm = name_of_id[fid]
                src = _resolve(fid, nm, raw.columns, dfids[(s, _sch)])
                if src is not None:
                    ren.append(F.col(src).alias(nm))
            dparts.append(raw.select(*ren)
                          .withColumn("_del_seq",
                                      F.lit(s).cast(LongType())))
        dels = dparts[0]
        for p in dparts[1:]:
            dels = dels.unionByName(p)
        dels = dels.groupBy(*key_names).agg(
            F.max("_del_seq").alias("_del_seq"))
        data = (data.join(dels, key_names, "left_outer")
                .filter(F.col("_del_seq").isNull()
                        | (F.col("_ice_seq") >= F.col("_del_seq")))
                .drop("_del_seq"))
    return data.drop("_ice_seq")
