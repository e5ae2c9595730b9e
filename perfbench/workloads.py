"""The benchmark workloads.

Each workload drives only the engine's public entry points and times
every call through :class:`probe.Tracer`. All are closed loops: a
client sends its next operation only when the previous one returned.

- ``etl_nightly``: one client applies seeded full-snapshot source batches
  through ``pipeline.run_pipeline``; after the last one, ``nproc``
  dashboard clients share the session and refresh the report's visuals
  over the gold tables.
- ``sql_dml``: one client sends a seeded statement stream through
  ``LakehouseSql.sql`` plus CDC applies on a 16-bucket fact table.

A workload exposes ``setup()`` (repeatable: restores the on-disk state
and generates inputs), ``warm()``, ``run(seconds)`` (the measured
operations), ``after()`` (work timed apart from them), ``check()`` (list
of failed checks), ``failed_ops()``, ``extra_ops()``, ``storage_ratio()``
and ``layer_metrics(ops)``.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time
from decimal import Decimal

import duckdb
import numpy as np

import gen
from probe import live_bytes, stored_bytes, table_roots
from stats import pct

BASE_SEED = 20240101
ETL_SCALE = 0.002
MIN_BATCHES = 2  # every run measures at least this many ETL batches
DML_SCALE = 0.002
KEY = ("l_orderkey", "l_linenumber")
CHANGES_WINDOW = 2  # commits the closing table_changes read covers


def _restore(src: str, dst: str) -> None:
    """Copy a table tree with its hard links preserved."""
    if os.path.exists(dst):
        shutil.rmtree(dst)
    subprocess.run(["cp", "-a", src, dst], check=True)


def build_lake(spark, cache_dir: str, lake: str) -> None:
    """The post-load lakehouse the ETL workload starts from: the base
    snapshot loaded once through the pipeline. It is built at ``lake``,
    the path every run restores it to (the Iceberg mirror records
    absolute paths), then copied into a temporary directory that is
    renamed, so a crash never leaves a half cache."""
    from tb_lakehouse_enhanced_spark.pipeline import PipelineConfig, run_pipeline
    tmp = cache_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(lake, ignore_errors=True)
    src = gen.Snapshot.base(ETL_SCALE, BASE_SEED).write(f"{tmp}/src0")
    run_pipeline(spark, PipelineConfig(sf_dir=src, base_dir=lake,
                                       load_ts="2024-01-01 00:00:00"))
    _restore(lake, f"{tmp}/lake")
    os.replace(tmp, cache_dir)


# --------------------------------------------------------------- ETL ------
class EtlNightly:
    name = "etl_nightly"
    needs_lake = True
    stages = ("run_bronze", "run_silver", "run_gold_dims", "run_gold_fact",
              "run_gold_mv")

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.lake = f"{ctx.work}/lake"
        self.applied: list[int] = []
        self.changed_rows: list[int] = []
        self.errors: list[str] = []

    def setup(self) -> None:
        _restore(f"{self.ctx.cache}/lake", self.lake)
        shutil.rmtree(f"{self.ctx.work}/src", ignore_errors=True)
        self.snaps = [gen.Snapshot.base(ETL_SCALE, BASE_SEED)]
        self.dirs = [f"{self.ctx.cache}/src0"]
        while len(self.snaps) <= MIN_BATCHES:
            self._next_snapshot()
        self.roots = table_roots(self.lake)
        self.dashboard = Dashboard(self.ctx, self.lake)

    def _next_snapshot(self) -> None:
        """Generate and write the next nightly batch of the sequence."""
        i = len(self.snaps)
        rng = np.random.default_rng([self.ctx.seed, i])
        self.snaps.append(self.snaps[-1].changed(rng))
        self.dirs.append(self.snaps[-1].write(f"{self.ctx.work}/src/b{i}"))

    def _cfg(self, i: int):
        from tb_lakehouse_enhanced_spark.pipeline import PipelineConfig
        return PipelineConfig(sf_dir=self.dirs[i], base_dir=self.lake,
                              load_ts=f"2024-01-{i + 2:02d} 00:00:00")

    def _batch(self, i: int, name: str) -> dict:
        from tb_lakehouse_enhanced_spark.pipeline import run_pipeline
        m: dict = {}
        _, span = self.ctx.tracer.call(
            name, lambda: run_pipeline(self.spark, self._cfg(i), metrics=m),
            roots=self.roots if self.ctx.traced else ())
        t = span["start"]
        for st in self.stages:
            sec = m[st]["seconds"]
            self.ctx.tracer.add({"name": f"pipeline.{st}", "parent": span["id"],
                                 "op": span["op"], "start": t, "end": t + sec,
                                 "wall_s": sec})
            t += sec
        return span

    def warm(self) -> None:
        # the sequence's no-change batch: the base snapshot again
        self.nochange = self._batch(0, "etl.nochange_batch")

    def run(self, seconds: float) -> list[dict]:
        spans, t_end, i = [], time.perf_counter() + seconds, 1
        while time.perf_counter() < t_end or i <= MIN_BATCHES:
            if i == len(self.snaps):
                self._next_snapshot()
            try:
                spans.append(self._batch(i, "etl.batch"))
            except Exception as e:  # the lake state is unknown after this
                self.errors.append(f"batch {i}: {type(e).__name__}: {e}")
                break
            self.applied.append(i)
            self.changed_rows.append(self._fact_changes(i))
            i += 1
        return spans

    def after(self) -> None:
        """The dashboard refresh that follows the night's last batch; it
        is timed apart from the batches."""
        self.bi_spans, self.bi_results, self.bi_wall = self.dashboard.refresh()

    def _fact_changes(self, i: int) -> int:
        """Fact rows batch ``i`` changes: new lines, lines whose quantity
        changed and lines of orders moved to another date."""
        prev, cur = self.snaps[i - 1].cols, self.snaps[i].cols
        n_old = len(prev["lineitem"]["l_orderkey"])
        li = cur["lineitem"]
        qty = li["l_quantity"][:n_old] != prev["lineitem"]["l_quantity"]
        n_ord = len(prev["orders"]["o_orderkey"])
        moved_keys = prev["orders"]["o_orderkey"][
            cur["orders"]["o_orderdate"][:n_ord] != prev["orders"]["o_orderdate"]]
        moved = np.isin(li["l_orderkey"][:n_old], moved_keys)
        return int((qty | moved).sum()) + len(li["l_orderkey"]) - n_old

    def failed_ops(self) -> int:
        return len(self.errors) + len(self.dashboard.errors)

    def extra_ops(self) -> int:
        return len(self.bi_spans)

    def check(self) -> list[str]:
        from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
        from pyspark.sql import functions as F
        failed = []
        for name, keys in (("customer", ("customer_id",)),
                           ("sales_order_header", ("order_id",)),
                           ("sales_order_detail", ("order_id", "line_number"))):
            df = ManagedTable(self.spark, f"{self.lake}/silver/{name}").read()
            dup = (df.filter(F.col("_tf_valid_to").isNull()).groupBy(*keys)
                   .count().filter("count > 1").count())
            bad = df.filter(F.col("_tf_valid_to").isNotNull()
                            & (F.col("_tf_valid_to") < F.col("_tf_valid_from"))
                            ).count()
            if dup or bad:
                failed.append(f"etl.scd2.{name}")
        last = self.dirs[self.applied[-1] if self.applied else 0]
        fact = ManagedTable(self.spark, f"{self.lake}/gold/fact_sales").read()
        got = fact.agg(F.count(F.lit(1)), F.sum("net_revenue")).collect()[0]
        want = duckdb.sql(f"""
            SELECT count(*), sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                   * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,8)))
            FROM read_parquet('{last}/lineitem.parquet')""").fetchone()
        if (got[0], Decimal(got[1])) != (want[0], Decimal(want[1])):
            failed.append("etl.fact_totals")
        return failed + self.dashboard.check(last, self.bi_results)

    def storage_ratio(self) -> tuple[int, int]:
        return stored_bytes(self.roots), sum(map(live_bytes, self.roots))

    def layer_metrics(self, ops: list[dict]) -> dict:
        bi = self.bi_spans

        def visual_s(v):
            return pct([s["wall_s"] for s in bi if s["visual"] == v], 50)
        slices = [s.get("spark_input_bytes", 0) for s in bi
                  if s["visual"] == "month_slice"]
        fact_live = live_bytes(f"{self.lake}/gold/fact_sales")
        out = {
            "bi.query_s.p50": pct([s["wall_s"] for s in bi], 50),
            "bi.queries_per_s": len(bi) / self.bi_wall,
            "managed.read_s": visual_s("ventes_by_month"),
            "managed.read_where_s": visual_s("month_slice"),
            "deltaread.read_delta_s": visual_s("month_rollup_delta"),
            "iceberg.read_iceberg_s": visual_s("month_rollup_iceberg"),
            "bi.scan_ratio": (sum(slices) / len(slices) / fact_live
                              if slices and fact_live else 0.0),
        }
        stage_spans = [s for s in self.ctx.tracer.spans
                       if s["name"].startswith("pipeline.")]
        measured = {s["id"] for s in ops}
        for st in self.stages:
            mine = [s for s in stage_spans if s["name"] == f"pipeline.{st}"
                    and s["parent"] in measured]
            out[f"pipeline.{st}_s"] = pct([s["wall_s"] for s in mine], 50)
            out[f"pipeline.{st}.spark_jobs"] = pct(
                [s.get("spark_jobs", 0) for s in mine], 50)
        out["etl.nochange_batch_s"] = self.nochange["wall_s"]
        fact_rows = [s.get("spark_output_rows", 0) for s in stage_spans
                     if s["name"] == "pipeline.run_gold_fact"
                     and s["parent"] in measured]
        out["etl.change_ratio"] = (sum(fact_rows) / max(1, sum(self.changed_rows))
                                   if fact_rows else 0.0)
        return out


# ---------------------------------------------------------- dashboard ------
class Dashboard:
    """The Power BI report's visuals over the gold tables, refreshed by
    ``clients`` threads that share one session after a nightly batch.
    Each client takes the next visual from a seeded queue and runs under
    its own job group."""

    def __init__(self, ctx, lake: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.lake = lake
        self.months = gen.months()
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def _visual(self, v: str, params: tuple) -> list:
        from tb_lakehouse_enhanced_spark.sources.deltaread import read_delta
        from tb_lakehouse_enhanced_spark.sources.iceberg import read_iceberg
        from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
        from pyspark.sql import functions as F
        fact_path = f"{self.lake}/gold/fact_sales"
        fact = ManagedTable(self.spark, fact_path)
        dim = ManagedTable(self.spark, f"{self.lake}/gold/dim_customer")
        rev = F.sum("net_revenue").alias("ventes")
        if v == "ventes_by_region":
            df = (fact.read().join(dim.read(), F.col("customer_key")
                                   == F.col("_tf_id"))
                  .groupBy("region_name").agg(rev))
        elif v == "ventes_by_month":
            df = fact.read().groupBy("order_month").agg(rev)
        elif v == "commandes_by_segment":
            df = (fact.read().join(dim.read(), F.col("customer_key")
                                   == F.col("_tf_id"))
                  .groupBy("market_segment")
                  .agg(F.countDistinct("order_id").alias("commandes")))
        elif v == "top10_customers":
            mv = ManagedTable(self.spark,
                              f"{self.lake}/gold/mv_sales_by_customer")
            df = (mv.read().join(dim.read(), F.col("customer_key")
                                 == F.col("_tf_id"))
                  .orderBy(F.col("total_net_revenue").desc(),
                           F.col("customer_id"))
                  .select("customer_id", "total_net_revenue").limit(10))
            return [tuple(r) for r in df.collect()]
        elif v == "month_slice":
            df = (fact.read_where("order_month", *params)
                  .groupBy("order_month").agg(rev, F.count(F.lit(1))))
        elif v == "month_rollup_delta":
            df = read_delta(self.spark, fact_path).groupBy("order_month").agg(rev)
        else:
            df = read_iceberg(self.spark, fact_path).groupBy(
                "order_month").agg(rev)
        return sorted(tuple(r) for r in df.collect())

    def _client(self, k: int, queue: list, spans: list, results: dict) -> None:
        group = f"bi-client-{k}"
        self.spark.sparkContext.setJobGroup(group, group)
        while True:
            with self._lock:
                if not queue:
                    return
                v, params = queue.pop(0)
            try:
                res, span = self.ctx.tracer.call(
                    f"bi.{v}", lambda: self._visual(v, params), group=group)
            except Exception as e:  # a failed visual counts, the client goes on
                with self._lock:
                    self.errors.append(f"{v}: {type(e).__name__}: {e}")
                continue
            span["visual"], span["params"] = v, list(params)
            with self._lock:
                spans.append(span)
                results[(v, params)] = res

    def refresh(self) -> tuple[list[dict], dict, float]:
        """Every visual once, in a seeded order, spread over the clients;
        returns (spans, results by (visual, params), wall seconds)."""
        queue = gen.visual_order(self.ctx.seed, self.months)
        spans: list[dict] = []
        results: dict = {}
        threads = [threading.Thread(target=self._client,
                                    args=(k, queue, spans, results))
                   for k in range(self.ctx.clients)]
        t = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return spans, results, time.perf_counter() - t

    @staticmethod
    def oracle(src: str, v: str, params: tuple) -> list:
        """The visual's answer computed by DuckDB from the sources the
        gold tables were loaded from."""
        li, o, c, n, r = (f"read_parquet('{src}/{t}.parquet')" for t in
                          ("lineitem", "orders", "customer", "nation",
                           "region"))
        fact = f"""(SELECT l.l_orderkey AS order_id, o.o_custkey AS cust,
            CAST(strftime(o.o_orderdate, '%Y%m') AS INTEGER) AS order_month,
            CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,8))
              AS net FROM {li} l JOIN {o} o ON l.l_orderkey = o.o_orderkey)"""
        dim = f"""(SELECT c.c_custkey AS cust, c.c_mktsegment AS seg,
            r.r_name AS region FROM {c} c JOIN {n} n ON c.c_nationkey
            = n.n_nationkey JOIN {r} r ON n.n_regionkey = r.r_regionkey)"""
        by_month = f"SELECT order_month, sum(net) FROM {fact} GROUP BY 1"
        lo, hi = params or (0, 0)
        sql = {
            "ventes_by_region": f"SELECT region, sum(net) FROM {fact} f "
                                f"JOIN {dim} d USING (cust) GROUP BY 1",
            "ventes_by_month": by_month,
            "commandes_by_segment": f"SELECT seg, count(DISTINCT order_id) "
                                    f"FROM {fact} f JOIN {dim} d USING (cust) "
                                    "GROUP BY 1",
            "top10_customers": f"SELECT cust, sum(net) AS s FROM {fact} "
                               "GROUP BY 1 ORDER BY s DESC, cust LIMIT 10",
            "month_slice": f"SELECT order_month, sum(net), count(*) FROM "
                           f"{fact} WHERE order_month BETWEEN {lo} AND {hi} "
                           "GROUP BY 1",
            "month_rollup_delta": by_month,
            "month_rollup_iceberg": by_month,
        }[v]
        rows = duckdb.sql(sql).fetchall()
        return rows if v == "top10_customers" else sorted(rows)

    def check(self, src: str, results: dict) -> list[str]:
        """Each visual against DuckDB, and the three read paths of the
        fact table (native, Delta mirror, Iceberg mirror) against each
        other."""
        from tb_lakehouse_enhanced_spark.sources.deltaread import read_delta
        from tb_lakehouse_enhanced_spark.sources.iceberg import read_iceberg
        from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
        failed = [f"bi.{v}{list(params)}"
                  for (v, params), got in sorted(results.items())
                  if got != self.oracle(src, v, params)]
        fact_path = f"{self.lake}/gold/fact_sales"
        cols = ["order_id", "line_number", "customer_key", "order_date_key",
                "quantity", "extended_price", "net_revenue", "order_month"]
        base = sorted(map(tuple, ManagedTable(self.spark, fact_path).read()
                          .select(cols).collect()))
        for name, df in (("delta", read_delta(self.spark, fact_path)),
                         ("iceberg", read_iceberg(self.spark, fact_path))):
            if sorted(map(tuple, df.select(cols).collect())) != base:
                failed.append(f"bi.mirror_{name}")
        return failed


# --------------------------------------------------------------- DML ------
class SqlDml:
    name = "sql_dml"
    needs_lake = False
    kinds = ("merge", "merge_after_insert", "update", "delete", "insert",
             "read", "mor_apply")

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.root = f"{ctx.work}/sql"
        self.failed: list[str] = []
        self.errors: list[str] = []

    def setup(self) -> None:
        from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
        from tb_lakehouse_enhanced_spark.sqlfront import LakehouseSql
        from pyspark.sql import functions as F
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.rmtree(f"{self.ctx.work}/dml_src", ignore_errors=True)
        snap = gen.Snapshot.base(DML_SCALE, BASE_SEED)
        src = snap.write(f"{self.ctx.work}/dml_src")
        rows = gen.dml_base_rows(snap)
        self.model = {k: (q, p, k[0] % gen.BUCKETS, gen.DML_T0)
                      for k, (q, p) in rows.items()}
        self.stream = gen.DmlStream(self.ctx.seed, rows)
        self.lake = LakehouseSql(self.spark, self.root, now=gen.DML_NOW)
        self.path = f"{self.root}/{gen.DML_TABLE.replace('.', '/')}"
        li = self.spark.read.parquet(f"{src}/lineitem.parquet")
        base = li.select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            (F.col("l_orderkey") % gen.BUCKETS).alias("l_bucket"),
            F.lit(gen.DML_T0).cast("timestamp").alias("_tf_update_date"))
        self.table = ManagedTable(self.spark, self.path,
                                  partition_by=("l_bucket",))
        self.table.overwrite(base.repartition("l_bucket"))
        self.v0 = self.table.current_version()
        self.insert_in_log = False
        # (version after the statement, order keys it touched)
        self.commits: list[tuple[int, set[int]]] = []

    # -- the Python model the final table must equal ----------------------
    def _apply_model(self, op: dict) -> set[int]:
        """Apply ``op`` to the model; returns the order keys of the rows
        whose content it changed (a MERGE can match a row and leave it
        as it was, and a change feed has nothing to say about that)."""
        m, now = self.model, gen.DML_NOW
        kind = op["kind"]
        if kind in ("read", "maintain"):
            return set()
        if "rows" in op:
            keys = [(a, b) for a, b, *_ in op["rows"]]
        elif "keys" in op:
            keys = [tuple(k) for k in op["keys"]]
        else:
            keys = [k for k in m if k[0] == op.get("order")]
        before = {k: m.get(k) for k in keys}
        if kind in ("merge", "insert") or op.get("op") == "upsert":
            for a, b, q, p, bk in op["rows"]:
                if kind == "merge" and (a, b) in m:
                    old = m[(a, b)]
                    m[(a, b)] = (q, old[1], old[2], now)
                else:
                    m[(a, b)] = (q, p, bk, now)
        elif kind == "update":
            for k in keys:
                q, p, bk, _ = m[k]
                m[k] = (q + 1.0, p, bk, now)
        elif kind == "delete" or op.get("op") == "delete":
            for k in keys:
                m.pop(k, None)
        return {k[0] for k in keys if m.get(k) != before[k]}

    def _expected_read(self, op: dict):
        rows = [(k, v) for k, v in self.model.items()
                if op["lo"] <= k[0] <= op["hi"]]
        if op["shape"] == "point":
            return sorted((k[0], k[1], v[0]) for k, v in rows)
        return [(len(rows), sum(v[0] for _, v in rows) if rows else None)]

    def _rows_df(self, rows):
        return self.spark.createDataFrame(
            [(a, b, q, p, bk) for a, b, q, p, bk in rows],
            "l_orderkey bigint, l_linenumber int, l_quantity double, "
            "l_extendedprice double, l_bucket bigint")

    def _prepare(self, op: dict):
        """Input preparation outside the timed call; returns the call."""
        from pyspark.sql import functions as F
        kind = op["kind"]
        if kind == "maintain":
            return lambda: self.table.maintain()
        if kind == "merge":
            self._rows_df(op["rows"]).createOrReplaceTempView("bench_merge_src")
        if kind == "read":
            return lambda: self.lake.sql(op["text"]).collect()
        if kind == "mor_apply":
            if op["op"] == "upsert":
                df = self._rows_df(op["rows"]).select(
                    "l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_bucket",
                    F.lit(gen.DML_NOW).cast("timestamp")
                    .alias("_tf_update_date"))
                return lambda: self.table.upsert_mor(df, KEY)
            kdf = self.spark.createDataFrame(
                [tuple(k) for k in op["keys"]],
                "l_orderkey bigint, l_linenumber int")
            return lambda: self.table.delete_mor_keys(kdf, KEY)
        return lambda: self.lake.sql(op["text"])

    def _op(self, op: dict) -> dict | None:
        kind = op["kind"]
        label = kind
        if kind == "merge" and self.insert_in_log:
            label = "merge_after_insert"
        fn = self._prepare(op)
        traced = self.ctx.traced
        try:
            res, span = self.ctx.tracer.call(
                f"dml.{label}", fn,
                roots=[self.path] if traced else (),
                versions=self.table.current_version if traced else None)
        except Exception as e:  # a failed statement counts, the stream goes on
            self.errors.append(f"{kind}: {type(e).__name__}: {e}")
            return None
        span["kind"] = label
        if kind == "read":
            got = sorted(tuple(r) for r in res)
            if got != self._expected_read(op):
                self.failed.append(f"dml.read: {op['text']}")
        if kind == "insert":
            self.insert_in_log = True
        if kind == "maintain" and res == "compact":
            self.insert_in_log = False
        if traced and "text" in op and kind != "read":
            span["parse_s"] = self._parse_s(op["text"])
        if kind in ("merge", "update"):
            span["rows_changed"] = (len(op["rows"]) if kind == "merge" else
                                    sum(1 for k in self.model
                                        if k[0] == op["order"]))
        self.commits.append((self.table.current_version(),
                             self._apply_model(op)))
        return span

    def _parse_s(self, text: str) -> float:
        from tb_lakehouse_enhanced_spark import sqlfront
        fn = {"MERGE": sqlfront.parse_merge, "UPDATE": sqlfront.parse_update,
              "DELETE": sqlfront.parse_delete,
              "INSERT": sqlfront.parse_insert}[text.split(" ", 1)[0]]
        t0 = time.perf_counter()
        fn(text)
        return time.perf_counter() - t0

    def warm(self) -> None:
        for kind in gen.DML_WARM:
            self._op(self.stream.next(kind))

    def run(self, seconds: float) -> list[dict]:
        """Whole rounds of the stream until ``seconds`` have passed (at
        least one)."""
        spans, t_end = [], time.perf_counter() + seconds
        while True:
            for kind in gen.DML_ROUND:
                span = self._op(self.stream.next(kind))
                if span is not None:
                    spans.append(span)
            if time.perf_counter() >= t_end:
                return spans

    def after(self) -> None:
        """A ``table_changes`` read of the last commits; it counts as an
        attempted operation but stays out of the statement latencies."""
        start = max(self.v0 + 1,
                    self.table.current_version() - CHANGES_WINDOW + 1)
        self.feed_expected = set().union(
            *(keys for v, keys in self.commits if v >= start))
        try:
            feed, self.changes_span = self.ctx.tracer.call(
                "dml.table_changes",
                lambda: self.table.table_changes(start).select(
                    "l_orderkey").distinct().collect())
            self.feed_keys = {r[0] for r in feed}
        except Exception as e:
            self.errors.append(f"table_changes: {type(e).__name__}: {e}")
            self.changes_span, self.feed_keys = None, set()

    def failed_ops(self) -> int:
        return len(self.errors)

    def extra_ops(self) -> int:
        return 1

    def check(self) -> list[str]:
        from tb_lakehouse_enhanced_spark.sources.deltaread import read_delta
        from tb_lakehouse_enhanced_spark.sources.iceberg import read_iceberg
        failed = list(self.failed)
        cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
                "l_bucket", "CAST(_tf_update_date AS STRING)"]

        def rows(df):
            return sorted(tuple(r) for r in df.selectExpr(*cols).collect())
        got = rows(self.table.read())
        want = sorted((k[0], k[1], q, p, bk, ts)
                      for k, (q, p, bk, ts) in self.model.items())
        if got != want:
            failed.append("dml.final_table")
        # the Delta mirror refuses pending merge-on-read state, so fold it
        # into a clean snapshot first (visible rows do not change)
        self.table.compact()
        if rows(self.table.read()) != got:
            failed.append("dml.compact")
        if rows(read_delta(self.spark, self.path)) != got:
            failed.append("dml.mirror_delta")
        if rows(read_iceberg(self.spark, self.path)) != got:
            failed.append("dml.mirror_iceberg")
        if not self.feed_expected <= self.feed_keys:
            failed.append("dml.table_changes")
        return failed

    def storage_ratio(self) -> tuple[int, int]:
        return stored_bytes([self.path]), live_bytes(self.path)

    def layer_metrics(self, ops: list[dict]) -> dict:
        out = {}
        for kind in self.kinds:
            mine = [s for s in ops if s["kind"] == kind]
            out[f"dml.{kind}_s.p50"] = pct([s["wall_s"] for s in mine], 50)
            for k in ("jvm_cpu_s", "py_cpu_s", "spark_jobs", "fs_new_bytes"):
                out[f"dml.{kind}.{k}"] = pct([s.get(k, 0) for s in mine], 50)
        out["dml.merge.samples"] = sum(1 for s in ops if s["kind"] == "merge")
        out["dml.merge_after_insert.samples"] = sum(
            1 for s in ops if s["kind"] == "merge_after_insert")
        stmts = [s for s in ops if "commits" in s]
        out["managed.commits"] = (sum(s["commits"] for s in stmts) / len(stmts)
                                  if stmts else 0.0)
        out["managed.maintain_s"] = pct([s["wall_s"] for s in ops
                                         if s["kind"] == "maintain"], 50)
        out["managed.table_changes_s"] = (self.changes_span["wall_s"]
                                          if self.changes_span else 0.0)
        out["sqlfront.parse_s"] = pct([s["parse_s"] for s in ops
                                       if "parse_s" in s], 50)
        rw = [s.get("spark_output_rows", 0) / s["rows_changed"] for s in ops
              if s.get("rows_changed")]
        out["dml.rewrite_ratio"] = sum(rw) / len(rw) if rw else 0.0
        return out


WORKLOADS = {w.name: w for w in (EtlNightly, SqlDml)}
