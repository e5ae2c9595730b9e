#!/usr/bin/env python3
"""Lakehouse benchmark: one workload per run, seeded, closed-loop.

    python3 perfbench/run.py --workload sql_dml --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the repository root. The engine package is imported from the
root; everything the run writes goes under ``.perfbench_work/`` there.
With ``--trace 0`` the last stdout line is a JSON object holding every
end-to-end metric; with ``--trace 1`` it holds every per-layer metric and
the spans are written to ``.perfbench_work/out/``. The lines before it
list each metric with its unit and sample count. The exit code is not 0
when an operation or a correctness check failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "tb_lakehouse_enhanced_spark"
SETUP_REPEATS = 3

# (name, unit) — BENCHMARK.json lists the same names
END_TO_END = (
    ("setup_s", "s"),
    ("op_s.p50", "s"),
    ("ops_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("storage.bytes_per_live_byte", "ratio"),
)
DML_KINDS = ("merge", "merge_after_insert", "update", "delete", "insert",
             "read", "mor_apply")
STAGES = ("run_bronze", "run_silver", "run_gold_dims", "run_gold_fact",
          "run_gold_mv")
PER_LAYER = (
    ("session.start_s", "s"), ("session.warm_s", "s"), ("op_s.p90", "s"),
    *[(f"pipeline.{st}_s", "s") for st in STAGES],
    *[(f"pipeline.{st}.spark_jobs", "count") for st in STAGES],
    ("etl.nochange_batch_s", "s"), ("etl.change_ratio", "ratio"),
    ("sqlfront.parse_s", "s"),
    ("managed.commits", "count"), ("managed.maintain_s", "s"),
    ("managed.table_changes_s", "s"), ("managed.read_s", "s"),
    ("managed.read_where_s", "s"),
    ("deltaread.read_delta_s", "s"), ("iceberg.read_iceberg_s", "s"),
    ("fs.delta_log_bytes", "B"), ("fs.iceberg_meta_bytes", "B"),
    ("py.cpu_s", "s"), ("jvm.cpu_s", "s"), ("py4j.wait_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.job_busy_s", "s"),
    ("driver.gap_s", "s"), ("spark.input_bytes", "B"),
    ("spark.shuffle_bytes", "B"), ("spark.output_rows", "count"),
    ("spark.task_s", "s"), ("spark.gc_s", "s"),
    ("fs.new_files", "count"), ("fs.new_bytes", "B"),
    ("fs.new_bytes.data", "B"), ("fs.new_bytes.commit", "B"),
    ("fs.stored_bytes", "B"), ("fs.live_bytes", "B"),
    ("dml.rewrite_ratio", "ratio"), ("bi.scan_ratio", "ratio"),
    ("bi.query_s.p50", "s"), ("bi.queries_per_s", "1/s"),
    *[(f"dml.{k}_s.p50", "s") for k in DML_KINDS],
    *[(f"dml.{k}.{m}", u) for k in DML_KINDS
      for m, u in (("jvm_cpu_s", "s"), ("py_cpu_s", "s"),
                   ("spark_jobs", "count"), ("fs_new_bytes", "B"))],
    ("dml.merge.samples", "count"), ("dml.merge_after_insert.samples", "count"),
    ("ops_failed_ratio", "ratio"),
    ("trace.overhead_s", "s"), ("trace.spans", "count"),
    ("host.nproc", "count"), ("host.mem_mb", "MB"),
    ("host.steal_share", "ratio"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_nightly", "sql_dml", "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    rc = 0
    for w in ("etl_nightly", "sql_dml"):
        print(f"== {w}", flush=True)
        r = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", w, "--seed", str(args.seed),
                            "--seconds", str(args.seconds),
                            "--trace", str(args.trace)])
        rc = rc or r.returncode
    return rc


def cache_key() -> str:
    """Hash of the engine's and the benchmark's sources: the cached
    post-load lakehouse is rebuilt whenever either changes."""
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, PACKAGE), HERE):
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def configure_env(run_dir: str, host: dict) -> None:
    """Process environment for the session; must be set before the
    gateway JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(run_dir, host)


def submit_args(run_dir: str, host: dict, log_dir: str | None = None) -> str:
    """spark-submit options: the engine defaults to a 24g heap, so size
    it to the host instead, and commit it whole at start so the peak RSS
    does not depend on when the collector chose to grow the heap."""
    from sparklog import event_log_conf
    tmp = os.path.join(run_dir, "tmp")
    heap_mb = max(1024, min(4096, host["mem_mb"] // 8))
    submit = (f"--driver-memory {heap_mb}m --driver-java-options "
              f"\"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" ")
    if log_dir:
        submit += event_log_conf(log_dir) + " "
    return submit + "pyspark-shell"


class Context:
    """What a workload needs: the session, its tracer, directories and
    the run's parameters."""

    def __init__(self, spark, tracer, work, cache, seed, seconds, traced,
                 clients):
        self.spark, self.tracer = spark, tracer
        self.work, self.cache = work, cache
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.clients = clients


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def op_layers(ops: list[dict]) -> dict:
    """Per-operation medians of the probe and Spark counters."""
    from stats import pct

    def med(key):
        return pct([s.get(key, 0) for s in ops], 50)

    def mean(key):
        return sum(s.get(key, 0) for s in ops) / len(ops) if ops else 0.0
    out = {
        "py.cpu_s": med("py_cpu_s"),
        "jvm.cpu_s": med("jvm_cpu_s"),
        "py4j.wait_s": pct([s["wall_s"] - s.get("py_cpu_s", 0) for s in ops],
                           50),
    }
    for k in ("jobs", "stages", "tasks", "job_busy_s", "input_bytes",
              "shuffle_bytes", "output_rows", "task_s", "gc_s"):
        out[f"spark.{k}"] = med(f"spark_{k}")
    out["driver.gap_s"] = med("driver_gap_s")
    out["fs.new_files"] = mean("fs_new_files")
    out["fs.new_bytes"] = mean("fs_new_bytes")
    out["fs.new_bytes.data"] = mean("fs_new_bytes_data")
    out["fs.new_bytes.commit"] = mean("fs_new_bytes_commit")
    out["fs.delta_log_bytes"] = mean("fs_new_bytes_delta_log")
    out["fs.iceberg_meta_bytes"] = mean("fs_new_bytes_metadata")
    return out


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_cache(cache: str, lake: str) -> int:
    """Load the base lakehouse in a process of its own, so the measuring
    process always starts from a cold JVM."""
    import workloads
    from tb_lakehouse_enhanced_spark.session import get_session
    spark = get_session(app_name="perfbench-build")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        workloads.build_lake(spark, cache, lake)
    finally:
        stop_jvm(spark)
    return 0


def main(argv) -> int:
    if argv[:1] == ["--build-cache"]:
        sys.path[:0] = [HERE, ROOT]
        return build_cache(argv[1], argv[2])
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, HERE)
    from probe import Tracer, cpu_times, host_record, vm_hwm_mb
    from stats import pct

    host = host_record()
    run_dir = os.path.join(WORK, "live")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir, host)
    sys.path.insert(0, ROOT)
    try:
        import workloads
        from tb_lakehouse_enhanced_spark.session import get_session
    except ImportError as e:
        log(f"cannot import the engine: {e}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]
    cache = os.path.join(WORK, "cache", cache_key())
    if wl_cls.needs_lake and not os.path.isdir(cache):
        t = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--build-cache", cache,
                        os.path.join(run_dir, "lake")], check=True)
        log(f"built the base lakehouse in {time.perf_counter() - t:.1f} s")
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if log_dir:
        os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(run_dir, host, log_dir)

    t0 = time.perf_counter()
    spark = get_session(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        tracer = Tracer(bool(args.trace), jvm_pid)
        ctx = Context(spark, tracer, run_dir, cache, args.seed, args.seconds,
                      bool(args.trace), host["nproc"])
        wl = wl_cls(ctx)
        reps = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        log(f"session {start_s:.1f} s, set-ups {[round(r, 1) for r in reps]}"
            f" s, warm-up {warm_s:.1f} s")
        tracer.spans.clear()
        if args.workload == "etl_nightly":
            tracer.add(wl.nochange)

        total0, steal0 = cpu_times()
        t = time.perf_counter()
        ops = wl.run(args.seconds)
        window_s = time.perf_counter() - t
        total1, steal1 = cpu_times()
        t = time.perf_counter()
        wl.after()
        after_s = time.perf_counter() - t
        try:
            failed_checks = wl.check()
        except Exception as e:  # a check that cannot run is a failed check
            failed_checks = [f"check raised {type(e).__name__}: {e}"]
        stored, live = wl.storage_ratio()
        log(f"window {window_s:.1f} s, after {after_s:.1f} s, checks and "
            f"storage {time.perf_counter() - t - after_s:.1f} s")
        rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    finally:
        stop_jvm(spark)

    attempted = len(ops) + wl.failed_ops() + wl.extra_ops()
    failed = wl.failed_ops() + len(failed_checks)
    lat = [s["wall_s"] for s in ops]
    e2e = {
        "setup_s": start_s + pct(reps, 50) + warm_s,
        "op_s.p50": pct(lat, 50),
        "ops_per_s": len(ops) / window_s,
        "peak_rss_mb": rss,
        "storage.bytes_per_live_byte": stored / live if live else 0.0,
    }
    counts = {"op_s.p50": len(lat), "op_s.p90": len(lat),
              "ops_per_s": len(lat), "setup_s": SETUP_REPEATS}
    if args.trace:
        from sparklog import attribute, read_jobs
        jobs = read_jobs(log_dir)
        attribute([s for s in tracer.spans if "wall_s" in s], jobs)
        layers = wl.layer_metrics(ops)
        layers.update(op_layers(ops))
        layers.update({
            "session.start_s": start_s, "session.warm_s": warm_s,
            "op_s.p90": pct(lat, 90),
            "fs.stored_bytes": stored, "fs.live_bytes": live,
            "ops_failed_ratio": failed / attempted if attempted else 0.0,
            "trace.overhead_s": tracer.overhead_s / max(1, len(ops)),
            "trace.spans": len(tracer.spans),
            "host.nproc": host["nproc"], "host.mem_mb": host["mem_mb"],
            "host.steal_share": (steal1 - steal0) / max(1, total1 - total0),
        })
        out_dir = os.path.join(WORK, "out")
        tracer.write(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        wanted = PER_LAYER
        values = {n: float(layers.get(n, 0.0)) for n, _ in wanted}
    else:
        wanted = END_TO_END
        values = e2e
    for name, unit in wanted:
        n = counts.get(name, "")
        print(f"{args.workload:14s} {name:34s} {values[name]:>16.6f} {unit:6s}"
              f" n={n}" if n != "" else
              f"{args.workload:14s} {name:34s} {values[name]:>16.6f} {unit}")
    steal = (steal1 - steal0) / max(1, total1 - total0)
    print(f"{args.workload:14s} host nproc={host['nproc']} "
          f"mem_mb={host['mem_mb']} steal_share={steal:.4f} "
          f"window_s={window_s:.2f}")
    for msg in wl.errors + failed_checks:
        print(f"{args.workload:14s} FAILED {msg}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in wanted}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
