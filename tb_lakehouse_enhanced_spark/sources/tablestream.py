"""ManagedTable as a Structured Streaming SOURCE (Delta streaming read).

The reference's pipelines stream *into* tables (streaming/sink.py is
that half); Delta tables are equally a streaming *source* — a
downstream job does ``spark.readStream.format("delta")`` and receives
each commit's appended rows as a micro-batch, exactly once, resuming
from its checkpoint (reference notebooks/12_ETL_Bronze_PySpark.py's
readStream consumption shape). ``delta-spark`` is absent here, so this
module exposes the SAME contract over :class:`ManagedTable`'s commit
log through Spark's native Python DataSource extension point:

- **offset = commit version** ({"version": N}), checkpointed by the
  engine; ``partitions(start, end)`` expands the commits in
  ``(start, end]`` into their ADDED files (recovered by relative-path
  set algebra over version dirs — hardlinked files keep their relpath,
  see ``ManagedTable._files_rel``) so a restarted query replays the
  exact committed range;
- **one InputPartition per added file**: a 1000-executor cluster reads
  a 1000-file append commit fully parallel, and NO existing data is
  ever re-read — streaming a 100 TB table costs O(new batches);
- **executor-side reads are Arrow batches** (pyarrow parquet →
  ``pa.RecordBatch``), partition-column values re-attached from the
  hive path and cast to the declared schema;
- **non-append commits** (UPDATE/DELETE/MERGE/overwrite — anything that
  removed a file) raise by default, mirroring Delta's streaming-source
  error; ``skipChangeCommits=true`` skips them (Delta's option of the
  same name). Row-preserving maintenance (``OPTIMIZE*`` compaction /
  clustering — Delta's ``dataChange=false``) is always skipped
  silently. A column-mapping commit raises: the stream's schema is
  fixed at start (Delta requires a restart on schema change too).

Options: ``path`` (table root, required), ``startingVersion`` (first
commit to serve, default 0 — i.e. the initial snapshot arrives as the
first micro-batches), ``startingTimestamp`` (epoch or ISO; resolves to
the earliest commit at/after it), ``skipChangeCommits``
("true"/"false"), ``readChangeFeed`` ("true"/"false").

Deliberate non-feature: Delta's ``maxFilesPerTrigger`` rate limiting.
The Python DataSource stream API exposes only a no-argument
``latestOffset()`` — no admission-control hook carrying the committed
offset — so any instance-state capping desyncs from the checkpoint on
restart and would re-serve or skip commits (breaking exactly-once).
Bound the initial batch with ``startingVersion``/``startingTimestamp``
instead; steady-state batches are one commit group and already sized
by the writer's cadence.
"""

from __future__ import annotations

import json
import os
import urllib.parse

from pyspark.sql.datasource import (
    DataSource, DataSourceStreamReader, InputPartition,
)

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


# -- session-free commit-log helpers (driver side, no Spark jobs) ------------

def _current_version(path: str) -> int:
    try:
        with open(os.path.join(path, "_CURRENT")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return -1


def _commit(path: str, v: int) -> dict:
    try:
        with open(os.path.join(path, f"_commit_v{v}.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        # retention (r11): old commits fold into one archive segment
        # (ManagedTable.archive_log); stream planning reads few commits
        # per batch, so the uncached load is fine session-free
        try:
            with open(os.path.join(path, "_commit_archive.json")) as f:
                arch = json.load(f)
            if str(v) in arch:
                return arch[str(v)]
        except (FileNotFoundError, ValueError):
            pass
        return {"version": v, "dir": f"v{v}", "op": "WRITE", "ts": None}


def _partition_by(path: str) -> tuple[str, ...]:
    try:
        with open(os.path.join(path, "_table_config.json")) as f:
            return tuple(json.load(f).get("partition_by") or ())
    except FileNotFoundError:
        return ()


def _files_rel(path: str, meta: dict, partitioned: bool) -> dict[str, str]:
    """{relpath-within-version-dir: absolute path} of a commit's LIVE
    parquet data files — resolved from the commit log for log-native
    commits (``live_base`` chains: appends are their batch files plus
    the parent's live set), from one directory walk for materialized
    commits; same exclusion rule as ``ManagedTable._files_rel`` (a
    partitioned table's root-level parquet is the parked zero-row
    schema file)."""
    chained = []        # newest → oldest commits above the replay bottom
    cur = meta
    out = None
    while True:
        # live-set checkpoint (``_live_v{N}.json``, written by the
        # appender every ManagedTable.LIVE_CHECKPOINT_EVERY chained
        # commits): bottoms the replay in O(K) JSON reads on any chain
        # length. Its paths are table-relative ("dir/rel"); this
        # function's keys are version-dir-relative, so strip the
        # owning-dir prefix (same key shape the incremental branches
        # produce — part filenames are UUID-unique across dirs).
        try:
            with open(os.path.join(
                    path, f"_live_v{cur['version']}.json")) as f:
                cp = json.load(f)
            out = {rel.split("/", 1)[1]: os.path.join(path, rel)
                   for rel in cp["files"]}
            break
        except FileNotFoundError:
            pass
        if cur.get("live_base") is None:
            d = os.path.join(path, cur["dir"])
            out = {}
            for root, _dirs, fns in os.walk(d):
                rel = os.path.relpath(root, d)
                if partitioned and rel == ".":
                    continue
                for fn in fns:
                    if fn.endswith(".parquet"):
                        out[fn if rel == "." else os.path.join(rel, fn)] \
                            = os.path.join(root, fn)
            break
        chained.append(cur)
        cur = _commit(path, cur["live_base"])
    for m in reversed(chained):     # oldest → newest
        for r in m.get("added_files") or ():
            out[r] = os.path.join(path, m["dir"], r)
    return out


def _part_values_rel(rel: str) -> dict:
    """Hive ``col=value`` string values (%XX escapes decoded) from a
    path RELATIVE to its version dir — safe for live sets spanning
    version dirs, where no single vdir is an ancestor of every file."""
    vals: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, val = seg.partition("=")
            vals[urllib.parse.unquote(k)] = None if val == _HIVE_NULL \
                else urllib.parse.unquote(val)
    return vals


_DDL_JSON_ALIAS = {
    "int": "integer", "bigint": "long", "smallint": "short",
    "tinyint": "byte", "dec": "decimal", "numeric": "decimal",
}


def _split_top(s: str) -> list[str]:
    """Split on commas at nesting depth 0 (respecting ``<>``/``()``)."""
    parts: list[str] = []
    depth, cur = 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts]


def _type_from_ddl(typ: str):
    """SESSION-FREE DDL -> Spark type (``_parse_datatype_string``
    needs an active SparkContext, which the Python data source worker
    doesn't have): a small recursive parser for the complex heads
    (``array<...>``, ``map<k,v>``, ``struct<a:T,...>`` — a column
    ADDed with one of these under a live map must stream before any
    post-ALTER batch lands, ADVICE r10), with SQL aliases normalized
    and atomics/decimal(p,s)/char/varchar handed to the session-free
    json-value parser."""
    from pyspark.sql.types import (
        ArrayType, MapType, StructField, StructType,
        _parse_datatype_json_value,
    )
    t = (typ or "string").strip()
    tl = t.lower()
    if tl.startswith("array<") and tl.endswith(">"):
        return ArrayType(_type_from_ddl(t[len("array<"):-1]))
    if tl.startswith("map<") and tl.endswith(">"):
        kv = _split_top(t[len("map<"):-1])
        if len(kv) != 2:
            raise ValueError(f"cannot parse DDL type {typ!r}")
        return MapType(_type_from_ddl(kv[0]), _type_from_ddl(kv[1]))
    if tl.startswith("struct<") and tl.endswith(">"):
        fields = []
        for part in _split_top(t[len("struct<"):-1]):
            if not part:
                continue
            name, _, ft = part.partition(":")
            fields.append(StructField(name.strip(), _type_from_ddl(ft)))
        return StructType(fields)
    tl2 = tl
    head = tl2.split("(", 1)[0]
    if head in _DDL_JSON_ALIAS:
        tl2 = _DDL_JSON_ALIAS[head] + tl2[len(head):]
    return _parse_datatype_json_value(tl2)


def _table_schema(path: str):
    """Logical Spark schema of the table HEAD, derived session-free:
    one parquet footer (pyarrow) + directory-encoded partition columns
    (typed by value inference, as the Delta mirror does) + the head
    commit's column map, if any."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    cur = _current_version(path)
    if cur < 0:
        raise FileNotFoundError(f"managed table {path} has no data")
    meta = _commit(path, cur)
    pb = _partition_by(path)
    files = _files_rel(path, meta, bool(pb))
    if not files:
        raise FileNotFoundError(
            f"managed table {path} is empty; start the stream after the "
            f"first data commit (the schema is derived from its files)")
    some = sorted(files.values())[0]
    struct = from_arrow_schema(pq.read_schema(some))
    seen = {f.name for f in struct.fields}
    part_vals: dict[str, list] = {}
    for r in files:
        for k, val in _part_values_rel(r).items():
            part_vals.setdefault(k, []).append(val)
    for pcol in pb:
        if pcol in seen:
            continue
        vals = [x for x in part_vals.get(pcol, []) if x is not None]
        is_int = bool(vals) and all(x.lstrip("-").isdigit() for x in vals)
        struct = struct.add(StructField(
            pcol, LongType() if is_int else StringType(), True))
    cmap = meta.get("column_map")
    if cmap:
        phys = {f.name: f for f in struct.fields}
        mapped = StructType()
        for p, logical, typ in cmap:
            # p missing from the sampled footer: a column ADDED under
            # the live map, physical only in post-ALTER batches — type
            # from the map's recorded DDL (parsed session-free: this
            # runs inside the Python data source worker)
            dt = (phys[p].dataType if p is not None and p in phys
                  else _type_from_ddl(typ))
            mapped = mapped.add(StructField(logical, dt, True))
        return mapped
    return struct


class _FilePartition(InputPartition):
    def __init__(self, file: str, part_values: dict,
                 version: int = -1, kind: str = "insert",
                 cmap: list | None = None):
        self.file = file
        self.part_values = part_values
        self.version = version       # _commit_version under readChangeFeed
        self.kind = kind             # "insert" (data file) | "cdc"
        self.cmap = cmap             # commit's column map (phys names)


class ManagedTableStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("managed_table_stream requires option 'path'")
        self.path = self.path.rstrip("/")
        self.start_v = int(options.get("startingVersion", 0))
        if options.get("startingTimestamp"):
            import datetime as _dt
            raw = options["startingTimestamp"]
            try:
                ts = float(raw)
            except ValueError:
                ts = _dt.datetime.fromisoformat(raw).timestamp()
            cand = [v for v in range(0, _current_version(self.path) + 1)
                    if (_commit(self.path, v).get("ts")
                        or float("-inf")) >= ts]
            if not cand:
                raise ValueError(
                    f"no commit of {self.path} at or after "
                    f"startingTimestamp={raw}")
            self.start_v = min(cand)
        self.skip_changes = str(
            options.get("skipChangeCommits", "false")).lower() == "true"
        self.change_feed = str(
            options.get("readChangeFeed", "false")).lower() == "true"
        self.schema_struct = schema
        self.pb = _partition_by(self.path)

    # offsets are {"version": last commit already served}
    def initialOffset(self):
        return {"version": self.start_v - 1}

    def latestOffset(self):
        return {"version": max(_current_version(self.path),
                               self.start_v - 1)}

    def _commit_partitions(self, v: int) -> list[_FilePartition]:
        meta = _commit(self.path, v)
        vdir = os.path.join(self.path, meta["dir"])
        # log-native commits don't require their OWN dir to exist (an
        # empty-batch append has none; MOR/restore commits point at a
        # chain) — the vacuum check runs per branch below
        if meta.get("live_base") is None and not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"version {v} of {self.path} was vacuumed; restart the "
                f"stream with startingVersion past the retention horizon")
        op = str(meta.get("op") or "")
        if op.startswith("OPTIMIZE") or meta.get("data_change") is False:
            return []  # dataChange=false maintenance: always skipped
        parent = _commit(self.path, v - 1) if v > 0 else None
        if parent is not None and meta.get("column_map") != \
                parent.get("column_map"):
            raise ValueError(
                f"commit {v} of {self.path} changes the column mapping; "
                f"the stream's schema is fixed at start — restart the "
                f"query (Delta streaming sources require the same)")
        if self.change_feed and meta.get("cdc"):
            # the writer recorded its change rows: serve the cdc files
            # directly (flat parquet, _change_type is a data column)
            cdc_dir = os.path.join(self.path, meta["cdc"])
            return [_FilePartition(os.path.join(cdc_dir, fn), {},
                                   version=v, kind="cdc")
                    for fn in sorted(os.listdir(cdc_dir))
                    if fn.endswith(".parquet")]
        if meta.get("added_files") is not None \
                and (meta["dir"] == f"v{v}"
                     or meta["dir"].startswith(f"v{v}-")):
            # append commit with the writer-recorded batch file list:
            # no version-dir walks, O(batch) planning at any table size
            vdir_real = os.path.join(self.path, meta["dir"])
            if meta["added_files"] and not os.path.isdir(vdir_real):
                raise FileNotFoundError(
                    f"version {v} of {self.path} was vacuumed; restart "
                    f"the stream with startingVersion past the "
                    f"retention horizon")
            return [_FilePartition(
                os.path.join(vdir_real, r), _part_values_rel(r),
                version=v, kind="insert",
                cmap=meta.get("column_map"))
                for r in sorted(meta["added_files"])]
        cur = _files_rel(self.path, meta, bool(self.pb))
        prev = ({} if parent is None or meta["dir"] == parent["dir"]
                else _files_rel(self.path, parent, bool(self.pb)))
        mor_grew = parent is not None and (
            len(meta.get("deltas") or []) > len(parent.get("deltas") or [])
            or len(meta.get("tombstones") or [])
            > len(parent.get("tombstones") or []))
        removed = [r for r in prev if r not in cur]
        if removed or mor_grew:
            if self.skip_changes:
                return []
            hint = ("enable delta.enableChangeDataFeed so change commits "
                    "are recorded as servable cdc files, or set "
                    "skipChangeCommits=true to stream past it"
                    if self.change_feed else
                    "set skipChangeCommits=true to stream past it "
                    "(Delta's option), or consume table_changes() for "
                    "the full change feed")
            raise ValueError(
                f"commit {v} of {self.path} ({op or 'WRITE'}) is not an "
                f"append: it "
                + ("updated/removed existing rows"
                   if removed else "carries merge-on-read changes")
                + f"; {hint}")
        if parent is not None and meta["dir"] == parent["dir"]:
            return []  # metadata-only commit (same map), nothing appended
        return [_FilePartition(p, _part_values_rel(r),
                               version=v, kind="insert",
                               cmap=meta.get("column_map"))
                for r, p in sorted(cur.items()) if r not in prev]

    def partitions(self, start, end):
        out = []
        for v in range(start["version"] + 1, end["version"] + 1):
            out.extend(self._commit_partitions(v))
        # an all-skipped range still needs one (empty) partition: Spark
        # requires partitions() to be non-empty for a planned batch
        return out or [_FilePartition("", {})]

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        target = to_arrow_schema(self.schema_struct)
        if not partition.file:
            return iter(())
        tbl = pq.read_table(partition.file)
        n = len(tbl)
        # a live column map means the file stores PHYSICAL names: read
        # each logical field from its mapped physical column (a legacy
        # None-phys entry, or a column added after this file was
        # written, falls through to the NULL branch below)
        phys_of = ({logical: p for p, logical, _t in partition.cmap}
                   if partition.cmap else {})
        cols = []
        for field in target:
            name = phys_of.get(field.name, field.name)
            if field.name == "_change_type" and partition.kind == "insert" \
                    and field.name not in tbl.column_names:
                col = pa.array(["insert"] * n, type=field.type)
            elif field.name == "_commit_version" \
                    and field.name not in tbl.column_names:
                col = pa.array([partition.version] * n).cast(field.type)
            elif name is not None and name in tbl.column_names:
                col = tbl.column(name).cast(field.type)
            elif field.name in partition.part_values:
                v = partition.part_values[field.name]
                col = (pa.nulls(n, field.type) if v is None
                       else pa.compute.cast(
                           pa.array([v] * n, type=pa.string()), field.type))
            else:
                # column added by metadata-only evolution after this
                # file was written: NULL, the read-time reconciliation
                col = pa.nulls(n, field.type)
            cols.append(col)
        out = pa.table(cols, schema=target)
        return iter(out.to_batches(max_chunksize=65536))

    def commit(self, end):
        pass  # offsets are durable in the query checkpoint


class ManagedTableStreamDataSource(DataSource):
    """``spark.readStream.format("managed_table_stream")`` over a
    :class:`ManagedTable` commit log."""

    @classmethod
    def name(cls):
        return "managed_table_stream"

    def schema(self):
        struct = _table_schema(self.options.get("path", "").rstrip("/"))
        if str(self.options.get("readChangeFeed",
                                "false")).lower() == "true":
            from pyspark.sql.types import LongType, StringType
            struct = (struct.add("_change_type", StringType())
                      .add("_commit_version", LongType()))
        return struct

    def streamReader(self, schema):
        return ManagedTableStreamReader(schema, self.options)


def register(spark) -> None:
    """Register the source; afterwards
    ``spark.readStream.format("managed_table_stream").option("path", p)
    .load()`` streams the table's commits."""
    spark.dataSource.register(ManagedTableStreamDataSource)


def stream_table(spark, path: str, starting_version: int = 0,
                 skip_change_commits: bool = False,
                 read_change_feed: bool = False):
    """Convenience: a streaming DataFrame over ``path``'s commit log.

    ``read_change_feed=True`` is Delta's streaming
    ``readChangeFeed``: rows carry ``_change_type`` and
    ``_commit_version``; appends stream as inserts, recorded DML
    commits (``delta.enableChangeDataFeed``) stream their cdc rows,
    and a change commit WITHOUT recorded cdc raises — the same
    enable-the-property requirement Delta imposes."""
    register(spark)
    return (spark.readStream.format("managed_table_stream")
            .option("path", path)
            .option("startingVersion", str(starting_version))
            .option("skipChangeCommits", str(skip_change_commits).lower())
            .option("readChangeFeed", str(read_change_feed).lower())
            .load())
