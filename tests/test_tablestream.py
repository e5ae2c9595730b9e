"""ManagedTable as a streaming source (sources/tablestream.py):
commit-log offsets, per-file partitions, exactly-once restart,
Delta's skipChangeCommits semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
from tb_lakehouse_enhanced_spark.sources.tablestream import stream_table


def _rows(df):
    return {(r["id"], r["k"], r["v"]) for r in df.collect()}


def _mk(spark, tmp_base, partitioned=True):
    t = ManagedTable(spark, f"{tmp_base}/src",
                     partition_by=("k",) if partitioned else ())
    t.overwrite(spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "k", "v"]))
    return t


def _drain(spark, tmp_path, table_path, out_name, **opts):
    q = (stream_table(spark, table_path, **opts)
         .writeStream.format("memory").queryName(out_name)
         .option("checkpointLocation", str(tmp_path / f"ck_{out_name}"))
         .start())
    q.processAllAvailable()
    q.stop()
    return spark.table(out_name)


def test_stream_serves_snapshot_then_appends(spark, tmp_base, tmp_path):
    t = _mk(spark, tmp_base)
    t.append(spark.createDataFrame([(3, "a", 30.0), (4, "a:b", 40.0)],
                                   ["id", "k", "v"]))
    got = _drain(spark, tmp_path, t.path, "ts_snap")
    assert _rows(got) == {(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0),
                          (4, "a:b", 40.0)}
    # partition column values recovered from the hive paths, hive
    # escapes (k=a%3Ab) decoded
    assert {r["k"] for r in got.collect()} == {"a", "b", "a:b"}


def test_stream_exactly_once_across_restart(spark, tmp_base, tmp_path):
    t = _mk(spark, tmp_base)
    ckpt = str(tmp_path / "ck_once")
    out = str(tmp_path / "out_once")

    def run():
        q = (stream_table(spark, t.path)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    run()
    assert _rows(spark.read.parquet(out)) == _rows(t.read())
    # appends land while the stream is down; restart serves ONLY them
    t.append(spark.createDataFrame([(3, "c", 30.0)], ["id", "k", "v"]))
    t.append(spark.createDataFrame([(4, "a", 40.0)], ["id", "k", "v"]))
    run()
    got = spark.read.parquet(out)
    assert _rows(got) == _rows(t.read())
    assert got.count() == 4  # no duplicates: each commit served once


def test_change_commit_raises_unless_skipped(spark, tmp_base, tmp_path):
    t = _mk(spark, tmp_base)
    t.update(F.col("id") == 1, {"v": F.lit(11.0)})
    q = (stream_table(spark, t.path)
         .writeStream.format("memory").queryName("ts_chg")
         .option("checkpointLocation", str(tmp_path / "ck_chg")).start())
    with pytest.raises(Exception, match="skipChangeCommits"):
        q.processAllAvailable()
        q.stop()
    q.stop()
    got = _drain(spark, tmp_path, t.path, "ts_chg_skip",
                 skip_change_commits=True)
    # v0's snapshot streams; the UPDATE commit is skipped wholesale
    assert _rows(got) == {(1, "a", 10.0), (2, "b", 20.0)}


def test_optimize_commits_always_skipped(spark, tmp_base, tmp_path):
    t = _mk(spark, tmp_base)
    t.compact(target_partitions=1)  # OPTIMIZE: dataChange=false
    t.append(spark.createDataFrame([(3, "c", 30.0)], ["id", "k", "v"]))
    got = _drain(spark, tmp_path, t.path, "ts_opt")
    # compaction rewrites files but is NOT re-served; the append is
    assert _rows(got) == {(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)}
    assert got.count() == 3


def test_starting_version_skips_history(spark, tmp_base, tmp_path):
    t = _mk(spark, tmp_base)
    t.append(spark.createDataFrame([(3, "c", 30.0)], ["id", "k", "v"]))
    t.append(spark.createDataFrame([(4, "a", 40.0)], ["id", "k", "v"]))
    got = _drain(spark, tmp_path, t.path, "ts_from2", starting_version=2)
    assert _rows(got) == {(4, "a", 40.0)}


def test_sink_to_source_composition(spark, tmp_base, tmp_path):
    """Write side (append commits) feeding the read side: batches
    ingested into a managed table stream out downstream with the same
    rows — the medallion bronze->silver streaming hop."""
    t = ManagedTable(spark, f"{tmp_base}/hop")
    for i in range(3):
        batch = spark.createDataFrame(
            [(i * 10 + j, "s", float(j)) for j in range(5)],
            ["id", "k", "v"])
        t.overwrite(batch) if not t.exists() else t.append(batch)
    got = _drain(spark, tmp_path, t.path, "ts_hop")
    assert _rows(got) == _rows(t.read())
    assert got.count() == 15


def test_read_change_feed_streams_cdc(spark, tmp_base, tmp_path):
    """Delta's streaming readChangeFeed: appends arrive as inserts,
    recorded DML commits as their cdc rows, each stamped with the
    producing _commit_version — and a consumer folding the feed
    reproduces the table."""
    t = _mk(spark, tmp_base)
    t.set_property("delta.enableChangeDataFeed", "true")
    t.append(spark.createDataFrame([(3, "c", 30.0)], ["id", "k", "v"]))  # v1
    t.update(F.col("id") == 1, {"v": F.lit(11.0)})                       # v2
    t.delete(F.col("id") == 2)                                           # v3
    q = (stream_table(spark, t.path, read_change_feed=True)
         .writeStream.format("memory").queryName("ts_cdf")
         .option("checkpointLocation", str(tmp_path / "ck_cdf")).start())
    q.processAllAvailable()
    q.stop()
    rows = {(r["id"], r["v"], r["_change_type"], r["_commit_version"])
            for r in spark.table("ts_cdf").collect()}
    assert rows == {
        (1, 10.0, "insert", 0), (2, 20.0, "insert", 0),
        (3, 30.0, "insert", 1),
        (1, 10.0, "update_preimage", 2), (1, 11.0, "update_postimage", 2),
        (2, 20.0, "delete", 3)}
    # folding the feed reproduces the final table state (materialized
    # copy: iterative self-joins over a live memory-sink relation are
    # not supported)
    from tb_lakehouse_enhanced_spark.operators.cdf import apply_changes
    feed = spark.createDataFrame(spark.table("ts_cdf").collect(),
                                 spark.table("ts_cdf").schema)
    state = None
    for v in range(0, 4):
        state = apply_changes(
            state, feed.filter(F.col("_commit_version") == v)
            .drop("_commit_version"), keys=("id",))
    assert _rows(state) == _rows(t.read())


def test_read_change_feed_requires_recorded_cdc(spark, tmp_base, tmp_path):
    t = _mk(spark, tmp_base)
    t.update(F.col("id") == 1, {"v": F.lit(11.0)})  # NOT recorded
    q = (stream_table(spark, t.path, read_change_feed=True)
         .writeStream.format("memory").queryName("ts_cdf_no")
         .option("checkpointLocation", str(tmp_path / "ck_no")).start())
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        q.processAllAvailable()
        q.stop()
    q.stop()


def test_starting_timestamp_resolves_to_version(spark, tmp_base, tmp_path):
    import datetime as dt
    import time
    t = _mk(spark, tmp_base)
    t.append(spark.createDataFrame([(3, "c", 30.0)], ["id", "k", "v"]))
    time.sleep(0.05)
    cut = dt.datetime.now().isoformat()
    time.sleep(0.05)
    t.append(spark.createDataFrame([(4, "a", 40.0)], ["id", "k", "v"]))
    from tb_lakehouse_enhanced_spark.sources.tablestream import register
    register(spark)
    q = (spark.readStream.format("managed_table_stream")
         .option("path", t.path).option("startingTimestamp", cut)
         .load()
         .writeStream.format("memory").queryName("ts_from_time")
         .option("checkpointLocation", str(tmp_path / "ck_time")).start())
    q.processAllAvailable()
    q.stop()
    assert _rows(spark.table("ts_from_time")) == {(4, "a", 40.0)}


def test_stream_raises_on_mid_stream_column_map_change(spark, tmp_base,
                                                       tmp_path):
    """Maps are long-lived since r10, so a running stream is likely to
    meet an ALTER mid-flight: the commit that CHANGES the mapping must
    fail the stream with the restart hint (the stream's schema is
    fixed at start — Delta streaming sources impose the same), while
    commits that merely CARRY the unchanged map keep streaming."""
    from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
    t = ManagedTable(spark, f"{tmp_base}/t")
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, s string"))
    cmap = t.identity_column_map()
    for e in cmap:
        if e[1] == "s":
            e[1] = "name"
    t.evolve_schema(cmap, "RENAME COLUMN")
    # stream starts AFTER the evolution: mapped appends serve fine
    t.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (stream_table(spark, t.path, starting_version=2)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == \
        [(2, "b")]
    # a SECOND evolution lands mid-stream: the restarted query fails
    # on the map-change commit with the documented hint
    cmap = t.identity_column_map() + [[None, "n", "int"]]
    t.evolve_schema(cmap, "ADD COLUMNS")
    t.append(spark.createDataFrame([(3, "c", 7)],
                                   "id long, name string, n int"))
    import pytest
    from pyspark.errors import StreamingQueryException
    q2 = (stream_table(spark, t.path, starting_version=2)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException,
                       match="column mapping"):
        q2.awaitTermination(120)
