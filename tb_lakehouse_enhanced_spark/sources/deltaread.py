"""Delta-format table READER — log replay without ``delta-spark``.

The reference's tables are Databricks-managed *Delta* tables
(reference notebooks/12_ETL_Bronze_PySpark.py:66 ``saveAsTable``,
22_ETL_Silver_PySpark.py:62 ``MERGE INTO``); ``delta-spark`` is absent
from this environment, so format interop is implemented directly
against the open protocol. The write side
(`managed.py::_emit_delta_log`) makes ManagedTable commits visible to
external Delta readers; this module is the inverse:
open any Delta-format directory (parquet data + ``_delta_log``) by
replaying the transaction log the way the protocol specifies
(delta-io/delta PROTOCOL.md):

1. if ``_last_checkpoint`` exists, load the live file set from the
   checkpoint parquet (one row per action, struct columns) and replay
   only the JSON commits AFTER it — the reason checkpoints exist: at
   100 TB of table history, replay cost stays bounded by checkpoint
   cadence, not commit count;
2. otherwise fold every ``<v>.json`` in version order: ``add`` inserts
   a file, ``remove`` tombstones it, latest ``metaData`` wins;
3. read exactly the live parquet files with the schema from
   ``metaData.schemaString``; partition columns (directory-encoded,
   absent from the files) are re-attached from each add action's
   ``partitionValues`` via a broadcast map-side join on
   ``_metadata.file_path`` — ONE scan regardless of partition count,
   never a per-partition union.

``checkpoint_delta_log`` writes the matching checkpoint (+
``_last_checkpoint`` pointer) for tables this engine emits, enabling
log truncation.

Modern-writer coverage: classic MULTI-PART checkpoints
(``<v>.checkpoint.<i>.<n>.parquet`` + ``parts`` in
``_last_checkpoint``) and COLUMN MAPPING (reader protocol 2 /
the ``columnMapping`` reader feature, modes ``name``/``id``: parquet
files carry ``delta.columnMapping.physicalName`` columns, renamed back
to the log schema's logical names; partitionValues keyed physically)
are read natively. Reader features this module cannot honor
(deletion vectors, v2 checkpoints) are refused loudly rather than
read wrongly.
"""

from __future__ import annotations

import glob
import json
import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def _commit_versions(path: str) -> list[int]:
    return sorted(
        int(os.path.basename(f).split(".")[0])
        for f in glob.glob(os.path.join(_log_dir(path), "*.json"))
        if os.path.basename(f).split(".")[0].isdigit())


def path_uri(rel: str) -> str:
    """An action's ``path`` for a table-relative file path. PROTOCOL.md
    makes it a URI (RFC 2396) that readers decode, so a hive-escaped
    partition dir such as ``region=a%3Ab`` is written
    ``region=a%253Ab``."""
    return urllib.parse.quote(rel, safe="/=")


def url_decoded(c):
    """Column ``c`` with one layer of %XX escapes decoded; a literal
    '+' is protected first (``url_decode`` would read it as a space).
    Values without a '%' skip the decode."""
    return F.when(c.contains("%"), F.url_decode(
        F.regexp_replace(c, r"\+", "%2B"))).otherwise(c)


def scan_file_path():
    """A scan's ``_metadata.file_path`` as the plain local path: the
    column is a URI, so the scheme is stripped and its %XX escapes are
    decoded. Must be applied on the scan relation."""
    return url_decoded(F.regexp_replace(
        F.col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))


def _load_checkpoint(spark: SparkSession, path: str,
                     max_version: int | None):
    """(live adds dict, metaData dict|None, protocol dict|None,
    checkpoint version) from ``_last_checkpoint``, or
    (None, None, None, -1) when absent/too new."""
    lc = os.path.join(_log_dir(path), "_last_checkpoint")
    if not os.path.exists(lc):
        return None, None, None, -1
    with open(lc) as f:
        lc_meta = json.load(f)
    v = lc_meta["version"]
    if max_version is not None and v > max_version:
        return None, None, None, -1  # time travel before the checkpoint
    parts = lc_meta.get("parts")
    if parts:
        # classic MULTI-PART checkpoint (PROTOCOL.md: the actions are
        # sharded over `parts` files named
        # <v>.checkpoint.<i>.<parts>.parquet) — large tables' writers
        # emit these so no single checkpoint file needs the whole
        # action set; the union of the parts is the checkpoint
        cps = [os.path.join(
            _log_dir(path),
            f"{v:020d}.checkpoint.{i:010d}.{int(parts):010d}.parquet")
            for i in range(1, int(parts) + 1)]
        missing = [p for p in cps if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"multi-part checkpoint v{v} incomplete: missing "
                f"{os.path.basename(missing[0])}")
        rows = spark.read.parquet(*cps).collect()
    else:
        cp = os.path.join(_log_dir(path), f"{v:020d}.checkpoint.parquet")
        rows = spark.read.parquet(cp).collect()
    adds, meta, proto = {}, None, None
    for r in rows:
        d = r.asDict(recursive=True)
        if d.get("add"):
            adds[urllib.parse.unquote(d["add"]["path"])] = d["add"]
        if d.get("metaData") and d["metaData"].get("id"):
            meta = d["metaData"]
        if d.get("protocol") and d["protocol"].get("minReaderVersion"):
            proto = d["protocol"]
    return adds, meta, proto, v


def _replay(spark: SparkSession, path: str,
            version: int | None = None) -> tuple[dict, dict, dict | None]:
    """Fold the log into (live adds by decoded table-relative file
    path, latest metaData, latest protocol). Protocol is LATEST-WINS
    per the spec: a table that passed through a reader-feature episode
    (e.g. a merge-on-read delete marked with deletionVectors) and then
    returned to protocol v1 via a copy-on-write commit is readable
    again — callers enforce the FINAL protocol, not transient ones."""
    adds, meta, proto, cp_v = _load_checkpoint(spark, path, version)
    if adds is None:
        adds, meta, proto = {}, None, None
    versions = [v for v in _commit_versions(path) if v > cp_v]
    if version is not None:
        versions = [v for v in versions if v <= version]
    elif not versions and cp_v < 0:
        raise FileNotFoundError(f"no Delta log at {path}")
    for v in versions:
        with open(os.path.join(_log_dir(path), f"{v:020d}.json")) as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "protocol" in a:
                    proto = a["protocol"]
                if "metaData" in a:
                    meta = a["metaData"]
                if "remove" in a:
                    adds.pop(urllib.parse.unquote(a["remove"]["path"]),
                             None)
                if "add" in a:
                    adds[urllib.parse.unquote(a["add"]["path"])] = a["add"]
    if meta is None:
        raise ValueError(f"Delta log at {path} carries no metaData")
    return adds, meta, proto


_READABLE_FEATURES = {"columnMapping", "timestampNtz",
                      "deletionVectors"}


def _nested_mapped_fields(dtype, inside: bool = False) -> list:
    """Names of NESTED fields (struct members, incl. inside arrays/
    maps) that carry ``delta.columnMapping.physicalName`` metadata.
    Under an active columnMapping mode such fields read under their
    PHYSICAL parquet names while this module renames only top-level
    columns — Spark's by-name nested resolution would then silently
    yield NULLs, so read_delta refuses these tables loudly."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    hits = []
    if isinstance(dtype, StructType):
        for f in dtype.fields:
            if inside and (f.metadata or {}).get(
                    "delta.columnMapping.physicalName"):
                hits.append(f.name)
            hits += _nested_mapped_fields(f.dataType, inside=True)
    elif isinstance(dtype, ArrayType):
        hits += _nested_mapped_fields(dtype.elementType, inside=True)
    elif isinstance(dtype, MapType):
        hits += _nested_mapped_fields(dtype.keyType, inside=True)
        hits += _nested_mapped_fields(dtype.valueType, inside=True)
    return hits


def _check_protocol(proto: dict | None) -> None:
    """Refuse reader requirements this module cannot honor, loudly.
    Reader v1 = plain; v2 = column mapping (handled); v3 = feature
    list — readable iff every feature is in _READABLE_FEATURES.
    ``deletionVectors`` is READ natively (r13: dvio.py + the DV
    anti-join in read_delta); the engine's own mid-MOR windows where
    no DV has materialized yet carry the table-specific
    ``tbLakehouseMergeOnReadPending`` feature, which — like any
    unknown reader feature per PROTOCOL.md — raises here (and in every
    spec-conformant external reader) rather than replaying stale
    adds."""
    if not proto:
        return
    v = proto.get("minReaderVersion", 1)
    if v <= 2:
        return
    # reader v3 REQUIRES readerFeatures (PROTOCOL.md); absent or
    # unknown-version protocols are refused, not guessed at
    feats = set(proto["readerFeatures"]) \
        if proto.get("readerFeatures") is not None else None
    unsupported = (feats - _READABLE_FEATURES) if feats is not None \
        else {"<missing readerFeatures>"}
    if v > 3 or unsupported:
        raise ValueError(
            f"unsupported Delta reader protocol {proto} (features "
            f"{sorted(unsupported) or v} not implemented) — for this "
            "engine's own merge-on-read tables, run "
            "mirror_deletion_vectors() (or compact/overwrite) first, "
            "or use ManagedTable.read")


def read_delta(spark: SparkSession, path: str,
               version: int | None = None) -> DataFrame:
    """Open a Delta-format table (optionally ``VERSION AS OF``) by
    protocol replay; returns the live rows with the log's schema,
    partition columns included."""
    adds, meta, proto = _replay(spark, path, version)
    cm_mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    _check_protocol(proto)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    if cm_mode != "none":
        nested = _nested_mapped_fields(schema)
        if nested:
            raise ValueError(
                f"Delta table at {path} uses columnMapping with "
                f"physically-mapped NESTED fields {sorted(set(nested))}"
                f" — only top-level mapping is implemented; reading "
                f"would silently NULL those fields. Rewrite the table "
                f"without column mapping or flatten the structs.")
    # column mapping (reader protocol 2 / the columnMapping reader
    # feature): parquet files carry PHYSICAL column names
    # (delta.columnMapping.physicalName in each field's metadata —
    # typically col-<uuid>), the log schema carries the logical ones.
    # Read under the physical schema, then alias physical -> logical.
    # 'id' mode tables written by mainstream writers also record
    # physicalName (ids are the matching KEY only), so the same rename
    # path serves both; top-level mapping only (nested mapped
    # fields are refused by the _nested_mapped_fields scan above).
    phys = {f.name: ((f.metadata or {})
                     .get("delta.columnMapping.physicalName", f.name))
            for f in schema.fields}
    part_cols = meta.get("partitionColumns") or []
    data_schema = StructType([
        type(f)(phys[f.name], f.dataType, f.nullable)
        for f in schema.fields if f.name not in part_cols])
    if not adds:
        return spark.createDataFrame([], schema)
    files = sorted(adds)
    paths = [os.path.join(path, p) for p in files]
    df = spark.read.schema(data_schema).parquet(*paths)
    logical = [F.col(phys[f.name]).alias(f.name)
               for f in schema.fields if f.name not in part_cols]
    # deletion vectors (reader feature, r13): decode each add's DV
    # (dvio.py — u/i/p storage, RoaringBitmapArray) into (file, row
    # index) pairs and anti-join them off the scan on
    # ``_metadata.row_index``.  The dead set is MOR-state-sized (the
    # writer's contract), so the broadcast anti-join costs one small
    # build, never a shuffle of the data.
    dv_dead = []
    for p in files:
        dvd = adds[p].get("deletionVector")
        if dvd:
            from .dvio import load_dv
            ap = os.path.abspath(os.path.join(path, p))
            dv_dead += [(ap, int(pos)) for pos in load_dv(path, dvd)]
    # the scan's file URI (file:/x, file:///x, hdfs://nn/x) as the
    # plain path, to match the log-derived abspath
    norm = scan_file_path()
    if dv_dead or part_cols:
        # _metadata resolves only on the scan relation — materialize
        # the normalized path (and row index) before any join
        df = df.withColumn("_dl_fp", norm)
    if dv_dead:
        dead_df = spark.createDataFrame(
            dv_dead, "_dl_fp string, _dl_pos bigint")
        df = (df.withColumn("_dl_pos", F.col("_metadata.row_index"))
              .join(F.broadcast(dead_df), ["_dl_fp", "_dl_pos"],
                    "left_anti")
              .drop("_dl_pos"))
    if not part_cols:
        return df.select(*logical).select(
            *[f.name for f in schema.fields])
    # re-attach partition values: tiny (file -> values) relation,
    # broadcast-joined on the scan's _metadata.file_path — one scan,
    # partition count never multiplies the plan. partitionValues are
    # keyed by PHYSICAL name under column mapping (PROTOCOL.md).
    pv_rows = [(os.path.abspath(os.path.join(path, p)),
                *[adds[p]["partitionValues"].get(phys[c])
                  for c in part_cols])
               for p in files]
    pv = spark.createDataFrame(
        pv_rows, ["_dl_fp", *[f"_dl_{c}" for c in part_cols]])
    out = (df.join(F.broadcast(pv), "_dl_fp")
           .select(*logical, *[f"_dl_{c}" for c in part_cols]))
    for c in part_cols:
        typ = next(f.dataType for f in schema.fields if f.name == c)
        out = out.withColumn(c, F.col(f"_dl_{c}").cast(typ))
    return out.select(*[f.name for f in schema.fields])


def checkpoint_delta_log(spark: SparkSession, path: str,
                         parts: int | None = None,
                         dir_rewrites: dict | None = None) -> int:
    """Write a Delta checkpoint at the current latest version: one
    parquet row per live action (protocol + metaData + adds) and the
    ``_last_checkpoint`` pointer. Commits at or before the checkpoint
    can then be truncated — replay cost stays O(commits since last
    checkpoint). ``parts`` shards the actions over a classic
    MULTI-PART checkpoint (``<v>.checkpoint.<i>.<n>.parquet``) the way
    large tables' writers do, so no single file carries the whole
    action set. Returns the checkpointed version."""
    versions = _commit_versions(path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {path}")
    v = versions[-1]
    adds, meta, proto = _replay(spark, path)
    if dir_rewrites:
        # vacuum support: live adds whose leading dir is about to be
        # deleted re-point at the hardlinked copy in a retained dir
        # (same path inside the dir, same bytes — the hardlink
        # guarantee); sizes/partitionValues carry over unchanged
        rewritten = {}
        for p, a in adds.items():
            head, _, rest = p.partition("/")
            if head in dir_rewrites and rest:
                np = f"{dir_rewrites[head]}/{rest}"
                if os.path.exists(os.path.join(path, np)):
                    a = {**a, "path": path_uri(np)}
                    p = np
            rewritten[p] = a
        adds = rewritten
    proto_row = {"protocol": proto or {"minReaderVersion": 1,
                                       "minWriterVersion": 2,
                                       "readerFeatures": None,
                                       "writerFeatures": None},
                 "metaData": None, "add": None}
    meta_row = {"protocol": None, "metaData": meta, "add": None}
    add_rows = [{"protocol": None, "metaData": None, "add": a}
                for _p, a in sorted(adds.items())]
    schema = (
        "protocol struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>, "
        "metaData struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>,"
        "createdTime:bigint>, "
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean,"
        "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
        "offset:int,sizeInBytes:int,cardinality:bigint>>")
    import shutil
    all_rows = [proto_row, meta_row, *add_rows]

    def _write_one(rows: list, dest: str) -> None:
        tmp = dest + ".tmp"
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("overwrite").parquet(tmp))
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(part, dest)
        shutil.rmtree(tmp)

    lc = {"version": v, "size": len(all_rows)}
    if parts and parts > 1:
        n = int(parts)
        chunks = [all_rows[i::n] for i in range(n)]
        for i, chunk in enumerate(chunks, start=1):
            _write_one(chunk or [  # a part may be empty; keep schema
                {"protocol": None, "metaData": None, "add": None}],
                os.path.join(_log_dir(path),
                             f"{v:020d}.checkpoint.{i:010d}"
                             f".{n:010d}.parquet"))
        lc["parts"] = n
    else:
        _write_one(all_rows, os.path.join(
            _log_dir(path), f"{v:020d}.checkpoint.parquet"))
    lc_tmp = os.path.join(_log_dir(path), "_last_checkpoint.tmp")
    with open(lc_tmp, "w") as f:
        json.dump(lc, f)
    os.replace(lc_tmp, os.path.join(_log_dir(path), "_last_checkpoint"))
    return v
