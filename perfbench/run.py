#!/usr/bin/env python3
"""Benchmark for the weather lakehouse engine, run from a source checkout.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 1 --trace 0

Drives the ``weather_etl_pipeline_spark`` package found next to this
directory (no installation) on ``local[<nproc>]``, one closed-loop
client. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` they are the per-layer ones
(``per_layer``), taken from a run whose operations alternate traced and
untraced. The line before it is a report with the run stamp and
details. See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "weather_etl_pipeline_spark"
# BENCHMARK.json lists the first two; the others run by name (README.md)
WORKLOADS = ("analytics", "medallion", "analytics-x10", "curation")
DRIVER_HEAP = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """SHA-256 over the package's Python sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def cpu_steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests instead of this one
    (the ``steal`` column of /proc/stat), where the kernel reports it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def prepare_env(run_dir: str) -> str:
    """Point every temp and scratch location of Python, the JVM and
    Spark inside ``run_dir``; make the package importable by the driver
    and by the Python workers Spark starts. Returns the JVM tmp dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)
    return tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_tracing(ctx, spark) -> None:
    """Wrap the public functions the per-layer metrics are built from."""
    from weather_etl_pipeline_spark import catalog
    from weather_etl_pipeline_spark.plans import layers, metadata, pipeline
    from weather_etl_pipeline_spark.operators import dedup_store, ivf_store
    from weather_etl_pipeline_spark.sources import lease, parquet_io
    from weather_etl_pipeline_spark.streaming import curation_loop

    t = ctx.tracer
    t.count_py4j(spark)
    t.count_jobs_with(spark)
    t.wrap(catalog.load_table, "catalog.load_table")
    t.wrap(parquet_io.append_partitions, "sources.append_partitions")
    t.wrap(parquet_io.write_partitions, "sources.write_partitions")
    t.wrap(lease.acquire_lease, "sources.acquire_lease")
    t.wrap(lease.release_lease, "sources.release_lease")
    t.wrap(pipeline.run_silver, "plans.run_silver")
    t.wrap(pipeline.run_gold, "plans.run_gold")
    t.wrap(layers.run_layer, "plans.run_layer")
    t.wrap(metadata.mark_processed_cols, "plans.mark_processed")
    t.wrap(metadata.processed_partitions_cols, "plans.processed_partitions")
    t.wrap(dedup_store.probe_signature_store, "dedup_store.probe")
    t.wrap(dedup_store.append_signature_batch, "dedup_store.append")
    t.wrap(ivf_store.probe_ivf_index, "ivf_store.probe")
    t.wrap(ivf_store.append_ivf_batch, "ivf_store.append")
    t.wrap(curation_loop.process_curation_batch, "streaming.batch")
    t.propagate_context(curation_loop._run_concurrently)


def make_workload(name: str, ctx):
    if name == "analytics":
        from analytics import Analytics

        return Analytics(ctx)
    if name == "analytics-x10":
        from analytics import X10_QUERIES, Analytics

        return Analytics(ctx, X10_QUERIES, sf=0.01, amplify=10)
    if name == "medallion":
        from medallion import Medallion

        return Medallion(ctx)
    from curation import Curation

    return Curation(ctx)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=runs)
    spark = None
    steal0 = cpu_steal_s()
    try:
        jvm_tmp = prepare_env(run_dir)
        import metrics
        from core import Context
        from tracing import StorageMeter, Tracer

        from weather_etl_pipeline_spark.session import get_spark

        t_setup = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            cpus=nproc(),
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp}"},
        )
        session_s = time.perf_counter() - t_setup
        ctx = Context(spark=spark, run_dir=run_dir, seed=args.seed,
                      seconds=args.seconds, tracer=Tracer(),
                      traced_run=bool(args.trace))
        wl = make_workload(args.workload, ctx)
        if hasattr(wl, "storage_labels"):
            ctx.storage = StorageMeter(*wl.storage_labels())
        if ctx.traced_run:
            install_tracing(ctx, spark)
        wl.setup()
        setup_s = time.perf_counter() - t_setup - ctx.untimed_setup_s
        if ctx.storage is not None:
            ctx.storage.step()  # baseline: set-up's files are not the ops'
        ops = wl.measure()
        wl.check(ops)
        ctx.tracer.uninstall()

        failed = sum(op.error is not None for op in ops)
        bad_checks = wl.failed_checks()
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc(),
            "master": spark.sparkContext.master, "spark_version": spark.version,
            "git_head": git_head(), "source_sha256": source_digest(),
            "fixture_dir": os.path.relpath(run_dir, ROOT),
            "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory"),
            "cpu_steal_s": None if steal0 is None else cpu_steal_s() - steal0,
        }
        e2e = metrics.end_to_end(ops, setup_s)
        report = {
            "report": stamp,
            "end_to_end": e2e,
            f"{wl.item}_per_s": e2e["items_per_s"],
            "op_tail": metrics.tail(ops),
            "fail_share": failed / max(1, len(ops)),
            "failures": sorted({op.error for op in ops if op.error})[:5],
            "failed_checks": bad_checks,
            "notes": ctx.notes,
            "ops": [[op.name, round(op.latency_s, 4)] for op in ops],
        }
        if ctx.traced_run:
            report["per_layer"] = metrics.per_layer(wl, ctx, ops, session_s)
            out = os.path.join(ROOT, ".perfbench_out",
                               f"spans-{args.workload}-seed{args.seed}.jsonl")
            ctx.tracer.dump(out)
            report["spans_file"] = os.path.relpath(out, ROOT)
        print(json.dumps(report, default=str))
        chosen = report["per_layer"] if ctx.traced_run else e2e
        print(json.dumps({
            "correct": failed == 0 and not bad_checks,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": metrics.UNITS[k]}
                        for k, v in chosen.items()},
        }))
        return 0
    except Exception:  # noqa: BLE001 — the run's boundary: report, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:  # noqa: BLE001 — cleanup must go on
                traceback.print_exc()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run's dir is still there


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
