"""End-to-end medallion pipeline over the sf0.001 testdata."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from tb_lakehouse_enhanced_spark.pipeline import (
    SILVER_SPECS, PipelineConfig, run_pipeline,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    cfg = PipelineConfig(sf_dir=SF_DIR,
                         base_dir=str(tmp_path_factory.mktemp("lake")))
    return cfg, run_pipeline(spark, cfg)


def test_silver_all_current_after_first_load(tables):
    _, t = tables
    for name in ("silver.sales_order_header", "silver.customer",
                 "silver.sales_order_detail"):
        df = t[name]
        assert df.filter(F.col("_tf_valid_to").isNotNull()).count() == 0


def test_gold_dim_customer_has_unknown_member(tables):
    _, t = tables
    dim = t["gold.dim_customer"]
    unk = dim.filter(F.col("customer_id") == -9).collect()
    assert len(unk) == 1 and unk[0]["nation_name"] == "N/A"
    # surrogate keys unique + contiguous from 1
    ids = sorted(r["_tf_id"] for r in dim.collect())
    assert ids == list(range(1, len(ids) + 1))


def test_fact_grain_and_fk_resolution(tables):
    _, t = tables
    fact = t["gold.fact_sales"]
    detail = t["silver.sales_order_detail"]
    assert fact.count() == detail.filter(F.col("_tf_valid_to").isNull()).count()
    # every order resolves -> no unknown date keys; customer keys resolve
    assert fact.filter(F.col("order_date_key") == -9).count() == 0
    dim_ids = {r["_tf_id"] for r in t["gold.dim_customer"].collect()}
    fact_fks = {r["customer_key"] for r in
                fact.select("customer_key").distinct().collect()}
    assert fact_fks <= dim_ids


def test_fact_joins_calendar(tables):
    _, t = tables
    joined = (t["gold.fact_sales"].alias("f")
              .join(t["gold.dim_calendar"].alias("c"),
                    F.col("f.order_date_key") == F.col("c.date_key"),
                    "left_anti"))
    assert joined.count() == 0  # every fact date key exists in the spine


def test_pipeline_rerun_is_idempotent(spark, tables):
    cfg, t = tables
    before = {k: df.count() for k, df in t.items()}
    t2 = run_pipeline(spark, cfg)
    after = {k: df.count() for k, df in t2.items()}
    assert before == after
    assert (t2["silver.sales_order_header"]
            .filter(F.col("_tf_valid_to").isNotNull()).count() == 0)


def test_gold_mv_matches_fact_rollup(tables):
    _, t = tables
    fact, mv = t["gold.fact_sales"], t["gold.mv_sales_by_customer"]
    want = {r["customer_key"]: (r["n"], float(r["s"])) for r in
            fact.groupBy("customer_key")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("net_revenue").cast("decimal(28,6)")).alias("s"))
            .collect()}
    got = {r["customer_key"]: (r["n_lines"], float(r["total_net_revenue"]))
           for r in mv.collect()}
    assert got == want


def test_expectation_gate_blocks_bad_silver_source(spark, tmp_path):
    from tb_lakehouse_enhanced_spark.operators.analytics import ExpectationError
    from tb_lakehouse_enhanced_spark.pipeline import run_bronze, run_silver
    from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
    cfg = PipelineConfig(sf_dir=SF_DIR, base_dir=str(tmp_path / "lake"))
    run_bronze(spark, cfg)
    # poison a bronze natural key
    orders = ManagedTable(spark, f"{cfg.base_dir}/bronze/orders")
    orders.overwrite(orders.read().withColumn(
        "o_orderkey",
        F.when(F.col("o_custkey") % 50 == 0, F.lit(None)).otherwise(F.col("o_orderkey"))))
    with pytest.raises(ExpectationError):
        run_silver(spark, cfg)


def test_pipeline_metrics_and_retry(spark, tmp_path):
    metrics = {}
    cfg = PipelineConfig(sf_dir=SF_DIR, base_dir=str(tmp_path / "lake2"))
    run_pipeline(spark, cfg, retries=1, metrics=metrics)
    assert set(metrics) == {"run_bronze", "run_silver", "run_gold_dims",
                            "run_gold_fact", "run_gold_mv"}
    assert all(m["attempts"] == 1 and m["seconds"] >= 0 for m in metrics.values())


def test_pipeline_resume_skips_completed_stages(spark, tmp_path):
    """Crash-safe resume: with a batch_id, completed stages are recorded
    in the run ledger and a rerun of the same batch skips them; a mid-DAG
    crash resumes from the failure point."""
    from tb_lakehouse_enhanced_spark import pipeline as P

    cfg = PipelineConfig(sf_dir=SF_DIR, base_dir=str(tmp_path / "lake"))
    # simulate a crash in gold_dims on the first run
    real_gold_dims = P.run_gold_dims
    calls: list[str] = []

    def exploding_gold_dims(spark_, cfg_):
        calls.append("boom")
        raise RuntimeError("simulated crash")

    stages = tuple(exploding_gold_dims if s is P.run_gold_dims else s
                   for s in P.STAGES)
    orig = P.STAGES
    P.STAGES = stages
    try:
        with pytest.raises(RuntimeError):
            run_pipeline(spark, cfg, batch_id="b1")
    finally:
        P.STAGES = orig
    # bronze + silver committed and are in the ledger
    assert P._ledger_read(cfg, "b1") == ["run_bronze", "run_silver"]

    # resume the SAME batch: bronze/silver skip, the rest run
    metrics: dict = {}
    out = run_pipeline(spark, cfg, metrics=metrics, batch_id="b1")
    assert metrics["run_bronze"].get("skipped") is True
    assert metrics["run_silver"].get("skipped") is True
    assert metrics["run_gold_dims"]["attempts"] == 1
    assert out["gold.fact_sales"].count() > 0

    # running the finished batch again is a full no-op
    metrics2: dict = {}
    run_pipeline(spark, cfg, metrics=metrics2, batch_id="b1")
    assert all(v.get("skipped") for v in metrics2.values())

    # a new batch id re-runs everything
    metrics3: dict = {}
    run_pipeline(spark, cfg, metrics=metrics3, batch_id="b2")
    assert all(not v.get("skipped") for v in metrics3.values())


@contextlib.contextmanager
def _job_group(sc, group: str):
    """Run the body under Spark job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_bronze_tables_inherit_callers_job_group(spark, tmp_path):
    """The bronze tables run on worker threads; every job they launch
    must still carry the caller's job group (one overwrite per table,
    so at least five jobs)."""
    from tb_lakehouse_enhanced_spark.pipeline import BRONZE_TABLES, run_bronze
    sc = spark.sparkContext
    cfg = PipelineConfig(sf_dir=SF_DIR, base_dir=str(tmp_path / "lake"))
    with _job_group(sc, "pipeline-bronze-group"):
        run_bronze(spark, cfg)
    jobs = sc.statusTracker().getJobIdsForGroup("pipeline-bronze-group")
    assert len(jobs) >= len(BRONZE_TABLES) == 5


class _SilverBoom(RuntimeError):
    pass


def _fail_one_silver_table(monkeypatch, failing: str):
    from tb_lakehouse_enhanced_spark import pipeline as P
    real = P._silver_source

    def source(spark_, cfg_, name):
        if name == failing:
            raise _SilverBoom(name)
        return real(spark_, cfg_, name)
    monkeypatch.setattr(P, "_silver_source", source)


def test_silver_table_failure_fails_the_stage(spark, tmp_path, monkeypatch):
    """One silver table raising while its siblings succeed: the stage
    re-raises that error, its siblings have committed, and the ledger
    does not record the stage as done."""
    from tb_lakehouse_enhanced_spark import pipeline as P
    from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
    cfg = PipelineConfig(sf_dir=SF_DIR, base_dir=str(tmp_path / "lake"))
    _fail_one_silver_table(monkeypatch, "customer")
    with pytest.raises(_SilverBoom, match="customer"):
        run_pipeline(spark, cfg, batch_id="b1")
    assert P._ledger_read(cfg, "b1") == ["run_bronze"]
    for name in ("sales_order_header", "sales_order_detail"):
        assert ManagedTable(spark, f"{cfg.base_dir}/silver/{name}").exists()
    assert not ManagedTable(spark, f"{cfg.base_dir}/silver/customer").exists()


def test_resume_after_silver_failure_matches_uninterrupted_run(
        spark, tables, tmp_path, monkeypatch):
    """Resuming a batch whose silver stage failed part-way (two of
    three tables committed) re-runs the whole stage and converges to
    the silver contents of an uninterrupted run."""
    from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
    full_cfg, _ = tables
    cfg = PipelineConfig(sf_dir=SF_DIR, base_dir=str(tmp_path / "lake"))
    with monkeypatch.context() as m:
        _fail_one_silver_table(m, "sales_order_detail")
        with pytest.raises(_SilverBoom):
            run_pipeline(spark, cfg, batch_id="b1")
    metrics: dict = {}
    run_pipeline(spark, cfg, metrics=metrics, batch_id="b1")
    assert metrics["run_bronze"].get("skipped") is True
    assert metrics["run_silver"]["attempts"] == 1

    def rows(base, name):
        df = ManagedTable(spark, f"{base}/silver/{name}").read()
        return sorted(tuple(r) for r in
                      df.select(*sorted(df.columns)).collect())
    for name in SILVER_SPECS:
        assert rows(cfg.base_dir, name) == rows(full_cfg.base_dir, name), name


def test_each_table_waits_for_all_then_raises_first_in_table_order(spark):
    """The later-named table fails first in time; the earlier-named
    failure is the one raised, and every sibling ran to completion."""
    import time

    from tb_lakehouse_enhanced_spark.pipeline import _each_table
    done: list[str] = []

    def fn(name):
        if name == "b":
            time.sleep(0.3)
            raise ValueError(name)
        if name == "d":
            raise ValueError(name)
        time.sleep(0.1)
        done.append(name)
    with pytest.raises(ValueError, match="^b$"):
        _each_table(spark, fn, "abcde")
    assert sorted(done) == ["a", "c", "e"]


def test_each_table_stress_more_threads_than_cores(spark, tmp_path):
    """Twelve concurrent overwrites of distinct tables share the
    session and its schema caches; each table must read back exactly
    its own rows (a lost or crossed update would break that)."""
    import sys
    import threading

    from tb_lakehouse_enhanced_spark.pipeline import _each_table
    from tb_lakehouse_enhanced_spark.sources.managed import ManagedTable
    names = [f"t{i}" for i in range(12)]

    def bounds(name):
        i = int(name[1:])
        return i * 100, i * 100 + 10 + i

    def write(name):
        ManagedTable(spark, f"{tmp_path}/{name}").overwrite(
            spark.range(*bounds(name)))

    errors: list[BaseException] = []

    def run():
        try:
            _each_table(spark, write, names)
        except BaseException as e:  # surfaced by the assert below
            errors.append(e)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        t = threading.Thread(target=run)
        t.start()
        t.join(300)
    finally:
        sys.setswitchinterval(old)
    assert not t.is_alive() and errors == []
    for name in names:
        got = sorted(r.id for r in
                     ManagedTable(spark, f"{tmp_path}/{name}").read().collect())
        assert got == list(range(*bounds(name))), name
