"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized through the noop sink (no driver-side
collect — executor-complete wall time, the number that scales)."""

from __future__ import annotations

import json
import os
import subprocess
import time

from ..registry import load_all
from ..session import get_spark
from .bench_context import bench_context


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _git_head(repo_dir: str) -> str:
    """Short HEAD of the checkout at ``repo_dir``; "unknown" outside git."""
    try:
        out = subprocess.run(
            ["git", "-C", repo_dir, "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def diagnostics(
    spark, git_head: str, raw: dict, floor: float, engine_sec: float, context: dict
) -> dict:
    """The bench's diagnostics line: per-pass raw times, floor
    accounting and fixture context, stamped with what the run ran on
    (visible CPUs, Spark master and version, git head) so numbers taken
    on different hosts or commits are never compared blind."""
    return {
        "diagnostics": "bench",
        "passes": raw,
        "floor_sec": round(floor, 3),
        "engine_sec": round(engine_sec, 3),
        "context": context,
        "cpus": len(os.sched_getaffinity(0)),  # nproc
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "git_head": git_head,
    }


def main(repo_dir: str | None = None) -> None:
    # repo_dir: where the append-only BENCH_LEDGER.jsonl lives and
    # where `git rev-parse` runs — the repo-root bench.py shim passes
    # its own directory; installed `weather-etl-bench` defaults to the
    # current working directory (run it from the checkout to ledger).
    repo_dir = repo_dir or os.getcwd()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    label = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf = float(label)
    except ValueError:
        sf = label or "unknown"  # non-sfN dirs keep their name as the label
    reg = load_all()
    headline = {n: q for n, q in reg.items() if q.headline}

    spark = get_spark("bench")
    # JVM/codegen warm-up on a trivial job so query 1 isn't taxed with it
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    # best of N INTERLEAVED passes: the host shows noisy-neighbor
    # variance in multi-minute windows (an identical plan measured 0.55s
    # and 7.2s twenty minutes apart), so back-to-back retries of one
    # query land inside the same noise window and both read slow.
    # Running full passes over all queries and taking the per-query min
    # across passes spaces each query's tries minutes apart — a noise
    # window has to span the whole bench to poison a query's best.
    # local-mode scheduling floor: the wall time of a warm EMPTY job
    # (1-row noop write — no scan, no shuffle, no codegen of interest).
    # Every query in this bench pays it once; floor × n_queries is the
    # irreducible-locally, irrelevant-on-a-cluster part of the total,
    # so engine-bound time ≈ total − floor·n. Published in the JSON so
    # round-over-round comparisons can subtract it.
    floor = min(
        _timed(lambda: spark.range(1).write.format("noop").mode("overwrite").save())
        for _ in range(5)
    )

    # best-of-5 is the PUBLISHED CONTRACT (2→3 in round 7, 3→5 in
    # round 11): single-pass numbers swing ±20% on a noisy host (q1
    # measured 0.97s→1.36s on identical code between rounds), pass 1
    # additionally carries each heavy plan's one-time JVM/codegen
    # warmup (measured 3.6s for simsearch vs its 0.46s steady state),
    # so best-of-3 leaves heavy queries only two clean tries — round
    # 11 measured the SAME code at 10.04s (3 passes) vs 7.99s (5
    # passes) in one host window, with interleaved A/B confirming the
    # 5-pass numbers as the real steady state. Per-pass raw times are
    # persisted in the JSON so a regression can be told from a noise
    # window without re-running the bench.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5")))
    raw: dict[str, list[float]] = {n: [] for n in headline}
    for _ in range(passes):
        for name in sorted(headline):
            # drop any cache an operator created (e.g. minhash's signature
            # table): every pass pays the full plan, never a prior pass's
            # cache
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            headline[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            raw[name].append(round(time.perf_counter() - t0, 3))
    per_query = {n: min(ts) for n, ts in raw.items()}

    total = round(sum(per_query.values()), 3)
    # bench-accounting context (floor / fixed reference micro-job /
    # fixture scan + row-group layout) so a reader can normalize this
    # run against another taken in a different noise window — see
    # tools/bench_context.py. Measured AFTER the query passes so it
    # reads the same host window the per-query numbers came from.
    context = bench_context(spark, sf_dir)
    # Diagnostics (per-pass raws, floor accounting, fixture context) go out
    # FIRST on their own line: the driver captures only the output tail, and
    # round 9's full-fat single line overflowed it ("parsed": null in
    # BENCH_r09.json). The LAST stdout line is the compact contract object
    # {metric, value, unit, queries, sf} and nothing else.
    head = _git_head(repo_dir)
    engine_sec = total - floor * len(per_query)
    print(json.dumps(diagnostics(spark, head, raw, floor, engine_sec, context)))
    # append-only variance ledger (round-11 builder note #4): every
    # run's per-query bests PLUS the floor/ref context land in one
    # file, so adjudicating "is this +20% a regression or a host
    # window" stops requiring archaeology across BENCH_r*.json — the
    # fixed ref_job_sec column is the host-speed normalizer. Disable
    # with SPARK_GRAFT_NO_LEDGER=1 (e.g. throwaway experiments).
    if not os.environ.get("SPARK_GRAFT_NO_LEDGER"):
        with open(os.path.join(repo_dir, "BENCH_LEDGER.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": round(time.time(), 1),
                        "head": head,
                        "sf": sf,
                        "passes": passes,
                        # free-form run label (e.g. "cold-cache" /
                        # "warm" for page-cache-controlled decade
                        # rows); absent on unlabeled runs
                        **(
                            {"note": os.environ["SPARK_GRAFT_BENCH_NOTE"]}
                            if os.environ.get("SPARK_GRAFT_BENCH_NOTE")
                            else {}
                        ),
                        "total_best": total,
                        "floor_sec": round(floor, 3),
                        "ref_job_sec": context.get("ref_job_sec"),
                        "scan_sec": context.get("scan_sec"),
                        "queries": per_query,
                    }
                )
                + "\n"
            )

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
            }
        )
    )
    # drop memoized table handles before stopping the session they
    # reference (catalog._TABLE_CACHE is app-id keyed; a stopped app's
    # entries would otherwise linger in long-lived drivers)
    from weather_etl_pipeline_spark.catalog import clear_table_cache

    clear_table_cache()
    spark.stop()


if __name__ == "__main__":
    main()
