"""Medallion pipeline runner: bronze -> silver -> gold.

Re-expresses the reference's 4-task ETL DAG
(reference finalize_databricks_deployment.py:383-431 — bronze ingest,
silver SCD2, gold dims, gold fact) as a plain, config-driven Python
runner over the engine's operators. No REST orchestration: stages are
functions executed in dependency order; each is idempotent (MERGE
semantics), so re-running a stage after a failure is safe — the same
recovery property the reference gets from Databricks job retries.

Within a stage, tables that do not read each other's output run
concurrently on the shared session (``_each_table``: the 5 bronze
overwrites, the 3 silver SCD2 merges), one thread per table; the
stages themselves stay strictly ordered. Each table has its own
commit log and pointer lock, so no two threads commit to one table.
What this changes on failure: when one silver table fails its
expectation gate, its siblings may already have committed their
merge. That is safe for the same reason retries are — every stage is
idempotent, and a retry or a ``batch_id`` resume re-runs the whole
stage. ``metrics[stage]["seconds"]`` is the stage's wall time, over
tables that overlap, not a sum of per-table times.

Layer mapping onto the driver's testdata (FIXTURES.md):
  orders   -> sales_order_header   customer -> customer dim source
  lineitem -> sales_order_detail   nation/region -> geography
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable, Collection

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .operators.calendar import calendar_spine, date_key
from .operators.merge import ScdConfig, keyed_upsert, scd1_merge, scd2_merge
from .sources.managed import ManagedTable
from .sources.registry import load_table

UNKNOWN = -9  # unknown-member key (reference 01_Init.py:265-277)


@dataclass
class PipelineConfig:
    sf_dir: str
    base_dir: str          # root for managed bronze/silver/gold tables
    load_ts: str = "2024-01-01 00:00:00"
    # DLT-style gate on silver sources: "fail" stops the load with
    # per-rule counts, "drop" quarantines bad rows, "warn" only reports,
    # None disables
    expect_action: str | None = "fail"
    # maintain gold.mv_sales_by_customer incrementally off fact commits
    maintain_mv: bool = True


def _mt(spark, cfg: PipelineConfig, layer: str, name: str,
        partition_by: tuple[str, ...] = ()) -> ManagedTable:
    return ManagedTable(spark, f"{cfg.base_dir}/{layer}/{name}",
                        partition_by=partition_by)


def _each_table(spark: SparkSession, fn: Callable[[str], None],
                names: Collection[str]) -> None:
    """Run ``fn(name)`` for every table of a stage at once, one thread
    per table, and wait for all of them. A lone table's work leaves
    most cores idle through its driver/py4j round trips; its siblings'
    jobs fill them. Each call is wrapped where it is submitted, so it
    runs with its own copy of the caller's job group and local
    properties. The first failure in table order is re-raised, after
    every call has finished."""
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), n)
                   for n in names]
    for f in futures:
        f.result()


# ---------------------------------------------------------------- bronze ----
BRONZE_TABLES = ("orders", "customer", "lineitem", "nation", "region")


def run_bronze(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Full-refresh ingest, source-shaped (reference 12_ETL_Bronze:61-128).

    The reference overwrites bronze from JDBC each run; we overwrite
    from the parquet source adapter through the same interface.
    """
    def ingest(name: str) -> None:
        _mt(spark, cfg, "bronze", name).overwrite(
            load_table(spark, cfg.sf_dir, name))

    _each_table(spark, ingest, BRONZE_TABLES)


# ---------------------------------------------------------------- silver ----
# rename-projections (reference 22_ETL_Silver:46-56) + SCD2 configs
# null_safe_keys=False on every pipeline config: natural keys are NOT
# NULL per the reference's DDL (01_Init.py PRIMARY KEY columns), plain
# `=` is the reference's literal MERGE ON semantics, and it lets merge
# joins inherit upstream hashpartitioning (ScdConfig.null_safe_keys).
SILVER_SPECS = {
    "sales_order_header": dict(
        source="orders",
        renames={"o_orderkey": "order_id", "o_custkey": "customer_id",
                 "o_orderstatus": "status", "o_totalprice": "total_due",
                 "o_orderdate": "order_date", "o_orderpriority": "priority"},
        cfg=ScdConfig(keys=("order_id",),
                      tracked=("customer_id", "status", "total_due",
                               "order_date", "priority"),
                      null_safe_keys=False)),
    "customer": dict(
        source="customer",
        renames={"c_custkey": "customer_id", "c_name": "customer_name",
                 "c_nationkey": "nation_id", "c_acctbal": "account_balance",
                 "c_mktsegment": "market_segment"},
        cfg=ScdConfig(keys=("customer_id",),
                      tracked=("customer_name", "nation_id",
                               "account_balance", "market_segment"),
                      null_safe_keys=False)),
    "sales_order_detail": dict(
        source="lineitem",
        renames={"l_orderkey": "order_id", "l_linenumber": "line_number",
                 "l_quantity": "quantity", "l_extendedprice": "extended_price",
                 "l_discount": "discount", "l_shipdate": "ship_date"},
        # composite natural key (reference 22:203); the synthetic detail
        # table is non-unique on it, so dedupe at ingest with MAX
        cfg=ScdConfig(keys=("order_id", "line_number"),
                      tracked=("quantity", "extended_price", "discount"),
                      null_safe_keys=False)),
}


def _silver_source(spark, cfg, name) -> DataFrame:
    spec = SILVER_SPECS[name]
    df = _mt(spark, cfg, "bronze", spec["source"]).read()
    df = df.select([F.col(src).alias(dst) for src, dst in spec["renames"].items()])
    keys = list(spec["cfg"].keys)
    tracked = list(spec["cfg"].tracked)
    # source batches must be unique on the natural key for MERGE
    # (reference requires it of the Azure SQL source; our synthetic
    # detail table is not, so enforce with an order-insensitive agg)
    return df.groupBy(keys).agg(*[F.max(c).alias(c) for c in tracked])


def run_silver(spark: SparkSession, cfg: PipelineConfig) -> None:
    """SCD2 history load per table (reference 22_ETL_Silver:62-330),
    gated on data-quality expectations (non-null natural keys — a NULL
    key would silently full-outer-join into its own version chain)."""
    from .operators.analytics import enforce_expectations

    def load(name: str) -> None:
        spec = SILVER_SPECS[name]
        src = _silver_source(spark, cfg, name)
        if cfg.expect_action:
            rules = [(f"null_{k}", F.col(k).isNull())
                     for k in spec["cfg"].keys]
            src, _ = enforce_expectations(src, rules, action=cfg.expect_action)
        # silver tables partition on the is_current flag: the merge's
        # current-slice read prunes to one partition and history stays
        # append-only on disk (ManagedTable.scd2_merge_into)
        mt = _mt(spark, cfg, "silver", name,
                 partition_by=("_tf_is_current",))
        mt.scd2_merge_into(src, spec["cfg"], cfg.load_ts)

    _each_table(spark, load, SILVER_SPECS)


# ------------------------------------------------------------------ gold ----
DIM_CUSTOMER_CFG = ScdConfig(
    keys=("customer_id",),
    tracked=("customer_name", "market_segment", "nation_name", "region_name"),
    surrogate_key="_tf_id", null_safe_keys=False)


def _current(df: DataFrame) -> DataFrame:
    # filter on the PARTITION flag when present (prunes the scan to the
    # current partition); the valid_to predicate stays as the semantic
    # guard either way
    if "_tf_is_current" in df.columns:
        df = df.filter(F.col("_tf_is_current") == 1)
    return df.filter(F.col("_tf_valid_to").isNull())


def run_gold_dims(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Calendar spine + SCD1 customer/geography dim with unknown member
    (reference 01_Init.py:180-233, 33_ETL_Gold_Dim:44-184)."""
    cal = _mt(spark, cfg, "gold", "dim_calendar")
    if not cal.exists():
        cal.overwrite(calendar_spine(spark))

    cust = _current(_mt(spark, cfg, "silver", "customer").read())
    nation = _mt(spark, cfg, "bronze", "nation").read()
    region = _mt(spark, cfg, "bronze", "region").read()
    src = (cust.alias("c")
           .join(F.broadcast(nation).alias("n"),
                 F.col("c.nation_id") == F.col("n.n_nationkey"), "left_outer")
           .join(F.broadcast(region).alias("r"),
                 F.col("n.n_regionkey") == F.col("r.r_regionkey"), "left_outer")
           .select(F.col("c.customer_id").alias("customer_id"),
                   F.col("c.customer_name").alias("customer_name"),
                   F.col("c.market_segment").alias("market_segment"),
                   F.coalesce(F.col("n.n_name"), F.lit("N/A")).alias("nation_name"),
                   F.coalesce(F.col("r.r_name"), F.lit("N/A")).alias("region_name")))
    unknown = spark.createDataFrame(
        [(UNKNOWN, "N/A", "N/A", "N/A", "N/A")], schema=src.schema)
    src = src.unionByName(unknown)

    mt = _mt(spark, cfg, "gold", "dim_customer")
    target = mt.read() if mt.exists() else None
    mt.overwrite(scd1_merge(target, src, DIM_CUSTOMER_CFG, cfg.load_ts))


FACT_CFG = ScdConfig(keys=("order_id", "line_number"),
                     tracked=("customer_key", "order_date_key", "quantity",
                              "extended_price", "net_revenue"),
                     null_safe_keys=False)
# gold fact is hive-partitioned by order month (smart-key div 100): scans
# filtered on a date range prune to the touched months, and incremental
# merges rewrite only the partitions whose keys changed
FACT_PARTITION = ("order_month",)


def run_gold_fact(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Detail-grain fact with surrogate-key lookups + smart date key
    (reference 34_ETL_Gold_Fact:44-139)."""
    detail = _current(_mt(spark, cfg, "silver", "sales_order_detail").read()).alias("d")
    header = _current(_mt(spark, cfg, "silver", "sales_order_header").read()).alias("h")
    dim_c = _mt(spark, cfg, "gold", "dim_customer").read().alias("dc")

    src = (detail
           .join(header, F.col("d.order_id") == F.col("h.order_id"),
                 "left_outer")
           .join(dim_c,
                 F.col("h.customer_id") == F.col("dc.customer_id"), "left_outer")
           .select(
               F.col("d.order_id").alias("order_id"),
               F.col("d.line_number").alias("line_number"),
               F.coalesce(F.col("dc._tf_id"), F.lit(UNKNOWN).cast("bigint"))
               .alias("customer_key"),
               F.coalesce(date_key(F.col("h.order_date")), F.lit(UNKNOWN))
               .alias("order_date_key"),
               F.col("d.quantity").alias("quantity"),
               F.col("d.extended_price").alias("extended_price"),
               (F.col("d.extended_price").cast("decimal(18,4)")
                * (F.lit(1).cast("decimal(18,4)")
                   - F.col("d.discount").cast("decimal(18,4)")))
               .cast("decimal(38,8)").alias("net_revenue")))
    src = src.withColumn(
        "order_month",
        F.when(F.col("order_date_key") == UNKNOWN, F.lit(UNKNOWN))
        .otherwise((F.col("order_date_key") / 100).cast("int")))

    mt = _mt(spark, cfg, "gold", "fact_sales", partition_by=FACT_PARTITION)
    # partition-scoped merge: only months present in the batch (or that
    # matched keys are moving OUT of — order dates can change upstream)
    # are rewritten; the rest of the fact hardlinks forward untouched
    mt.merge_into(src, FACT_CFG, cfg.load_ts, stable_partitions=False)


def run_gold_mv(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Maintain the BI rollup (per-customer line count + net revenue) as
    a materialized view refreshed from fact_sales' change feed — the
    serving-layer upgrade over re-aggregating the fact per dashboard
    query (SURVEY.md §2.4); refresh cost ~ |changed fact rows|."""
    from .sources.matview import MaterializedAggView
    fact = _mt(spark, cfg, "gold", "fact_sales", partition_by=FACT_PARTITION)
    mv = MaterializedAggView(
        spark, f"{cfg.base_dir}/gold/mv_sales_by_customer", fact,
        keys=("order_id", "line_number"), group_cols=("customer_key",),
        sum_cols={"net_revenue": "total_net_revenue"}, count_col="n_lines")
    mv.refresh()


STAGES = (run_bronze, run_silver, run_gold_dims, run_gold_fact, run_gold_mv)


def _ledger_file(cfg: PipelineConfig, batch_id: str) -> str:
    import os
    import re
    # fail BEFORE any stage runs: a separator or traversal in the id
    # would otherwise surface only at the first _ledger_mark (after the
    # stage's work is already paid for) or write outside base_dir
    if not re.fullmatch(r"[A-Za-z0-9._=-]+", batch_id):
        raise ValueError(
            f"batch_id {batch_id!r} must match [A-Za-z0-9._=-]+ "
            "(no path separators)")
    d = f"{cfg.base_dir}/_pipeline"
    os.makedirs(d, exist_ok=True)
    return f"{d}/{batch_id}.json"


def _ledger_read(cfg: PipelineConfig, batch_id: str) -> list[str]:
    import json
    try:
        with open(_ledger_file(cfg, batch_id)) as f:
            return json.load(f)
    except FileNotFoundError:
        return []


def _ledger_mark(cfg: PipelineConfig, batch_id: str, stage_name: str) -> None:
    import json
    import os
    done = _ledger_read(cfg, batch_id)
    if stage_name not in done:
        done.append(stage_name)
    path = _ledger_file(cfg, batch_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(done, f)
    os.replace(tmp, path)  # atomic: a crash never leaves a torn ledger


def run_pipeline(spark: SparkSession, cfg: PipelineConfig,
                 retries: int = 0,
                 metrics: dict | None = None,
                 batch_id: str | None = None) -> dict[str, DataFrame]:
    """Execute the staged DAG in dependency order
    (reference finalize_databricks_deployment.py:383-431; the MV stage
    is this engine's serving-layer extension).

    ``retries``: per-stage retry count — safe because every stage is
    idempotent (MERGE semantics; the reference gets the same property
    from Databricks job retries). Data-quality failures
    (:class:`~.operators.analytics.ExpectationError`) are deterministic
    and never retried. ``metrics``: caller-supplied dict that receives
    per-stage wall seconds and attempt counts (a stage's seconds are
    its wall time; its tables run concurrently, see ``_each_table``).

    ``batch_id``: enables crash-safe RESUME. Each completed stage is
    recorded in an atomically-written run ledger under
    ``base_dir/_pipeline/<batch_id>.json``; re-running the same batch
    after a mid-DAG failure skips the stages that already committed and
    continues from the failure point (stage idempotency makes re-running
    the failed stage itself safe). A fresh batch_id re-runs everything.
    """
    import time as _time

    from .operators.analytics import ExpectationError
    done = set(_ledger_read(cfg, batch_id)) if batch_id is not None else set()
    for stage in STAGES:
        if stage is run_gold_mv and not cfg.maintain_mv:
            continue
        if stage.__name__ in done:
            if metrics is not None:
                metrics[stage.__name__] = {"seconds": 0.0, "attempts": 0,
                                           "skipped": True}
            continue
        t0 = _time.time()
        for attempt in range(retries + 1):
            try:
                stage(spark, cfg)
                break
            except ExpectationError:
                raise
            except Exception:
                if attempt == retries:
                    raise
        if batch_id is not None:
            _ledger_mark(cfg, batch_id, stage.__name__)
        if metrics is not None:
            metrics[stage.__name__] = {
                "seconds": round(_time.time() - t0, 3),
                "attempts": attempt + 1}
    out = {
        "silver.sales_order_header": _mt(spark, cfg, "silver", "sales_order_header").read(),
        "silver.customer": _mt(spark, cfg, "silver", "customer").read(),
        "silver.sales_order_detail": _mt(spark, cfg, "silver", "sales_order_detail").read(),
        "gold.dim_calendar": _mt(spark, cfg, "gold", "dim_calendar").read(),
        "gold.dim_customer": _mt(spark, cfg, "gold", "dim_customer").read(),
        "gold.fact_sales": _mt(spark, cfg, "gold", "fact_sales").read(),
    }
    if cfg.maintain_mv:
        out["gold.mv_sales_by_customer"] = ManagedTable(
            spark, f"{cfg.base_dir}/gold/mv_sales_by_customer").read()
    return out
