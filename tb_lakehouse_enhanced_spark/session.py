"""SparkSession factory.

The reference runs on a Databricks single-node cluster and inherits every
optimization from the platform (SURVEY.md §4); locally we configure an OSS
session the way a 1000-executor deployment would be tuned, scaled down:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion).
- ``spark.sql.shuffle.partitions`` sized to the core count (at cluster
  scale this would be 2-3x total cores; AQE coalesces the tail).
- UTC session timezone so parquet timestamps round-trip identically
  between Spark and the DuckDB correctness oracle.
- Arrow enabled for the few Pandas-UDF code paths (similarity, multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(app_name: str = "tb-lakehouse-enhanced-spark",
                cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Mirrors the role of the reference's cluster spec
    (finalize_databricks_deployment.py:256-265) but expressed as OSS Spark
    conf. Safe to call repeatedly — ``getOrCreate`` reuses the live session.
    """
    cpus = cpus or DEFAULT_CPUS
    # driver memory is a JVM launch option: in local mode it must be set
    # before the gateway starts (the builder conf is silently ignored),
    # else the whole engine runs on the 1g default heap and GC dominates
    if SparkSession.getActiveSession() is None and "PYSPARK_SUBMIT_ARGS" not in os.environ:
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the workload is many distinct query shapes (90+ registered
        # plans); the default 100-entry generated-class cache thrashes
        # and whole-stage-codegen compile time (1-3 s for the wide
        # aggregate plans) gets paid on every re-run
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # list partition dirs on the driver: past the default 32 paths
        # Spark lists them in a Spark job of one task per dir, and every
        # read of a materialized version of a table with more leaf dirs
        # than that (the 44-month gold fact) paid a ~0.25 s listing job
        # for what is a few milliseconds of local directory reads
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", "/tmp/tb_lakehouse_warehouse")
        # r13 perf: the call-site capture wrapper does a py4j conf.get
        # PLUS a stack walk on EVERY DataFrame API call when enabled
        # (pyspark/errors/utils.py::_with_origin); the commit plane
        # builds thousands of Column/DataFrame objects per scenario, so
        # this is pure driver overhead on the serving path (guide §5:
        # the driver should do almost no work). PySpark documents the
        # flag as a performance option; errors lose only the Python
        # call-site decoration.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # r13 perf: the field-id stamping path (managed.py
        # _stamp_field_ids) used to flip this per write call — one
        # py4j roundtrip per commit; it is a session-stable engine
        # invariant (only acts on columns carrying parquet.field.id
        # metadata, which only the managed write path attaches)
        .config("spark.sql.parquet.fieldId.write.enabled", "true")
        # r13 perf: committer overhead is paid once per COMMIT and the
        # engine's scenario paths commit constantly. Algorithm v2
        # moves task output directly to the destination (no job-level
        # rename fan-in; standard practice on HDFS/local - object
        # stores use their own committers), and _SUCCESS markers are
        # dead weight for a log-native table whose visibility is the
        # commit log, not a marker file
        #
        # INVARIANT (r14, VERDICT r13 #8) — v2 trades task-commit
        # atomicity for speed: a failed/retried job can leave partial
        # task output at the destination. That hazard is fenced HERE
        # only because every engine write goes through the
        # ManagedTable commit plane, which stages into a version dir
        # that becomes visible solely via the commit log's pointer
        # flip (_publish): a failed job's staged dir is never
        # published and vacuum reclaims it. Any NEW writer added
        # OUTSIDE the commit plane (a direct df.write.parquet to a
        # serving location) inherits v2 semantics silently and MUST
        # either route through ManagedTable or write to a staging
        # path + atomic rename of its own.
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".marksuccessfuljobs", "false")
    )
    return builder.getOrCreate()

