"""End-to-end and per-layer metrics from a run's operations and spans.

Every workload reports every metric BENCHMARK.json lists; ``curation``
also reports the layers only it reaches. A layer a workload does not
reach reports 0: that is the prediction for it (README.md, "Metric
map").
Per-layer values are means per traced operation unless the name says
otherwise.
"""

from __future__ import annotations

import statistics

from core import Context, Op

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}

# medallion's lake zones; curation's stores, lake and rejects
MEDALLION_DIRS = ("bronze", "silver", "gold", "metadata")
CURATION_DIRS = ("sig", "ivf", "lake", "rej")
STORAGE_LABELS = MEDALLION_DIRS + CURATION_DIRS
CURATION_STAGES = ("quality", "intra", "text", "ann")
STORAGE_KEYS = {"files_written": "count", "bytes_written": "bytes",
                "lease_files_left": "count"}

# BENCHMARK.json ``per_layer``: every layer its workloads reach
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "operators.build_s": "s",
    "operators.analyze_s": "s",
    "operators.exec_s": "s",
    "operators.py4j_calls": "count",
    "operators.spark_jobs": "count",
    "operators.spark_stages": "count",
    "operators.spark_tasks": "count",
    "sources.append_partitions_calls": "count",
    "sources.append_partitions_s": "s",
    "sources.write_partitions_calls": "count",
    "sources.write_partitions_s": "s",
    "sources.acquire_lease_calls": "count",
    "sources.acquire_lease_s": "s",
    "sources.release_lease_calls": "count",
    "sources.release_lease_s": "s",
    **{f"sources.{key}": unit for key, unit in STORAGE_KEYS.items()},
    **{f"sources.{key}.{lab}": unit
       for key, unit in STORAGE_KEYS.items() for lab in MEDALLION_DIRS},
    "sources.stored_bytes_per_row": "bytes",
    "plans.run_silver_s": "s",
    "plans.run_gold_s": "s",
    "plans.run_layer_self_s": "s",
    "plans.mark_processed_s": "s",
    "plans.processed_partitions_s": "s",
    "plans.partitions_processed": "count",
    "plans.spark_jobs": "count",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
}

# layers only the ``curation`` workload reaches; it is not in
# BENCHMARK.json (README.md, "Workloads"), so these are reported on
# curation runs only
CURATION_LAYER = {
    **{f"sources.{key}.{lab}": unit
       for key, unit in STORAGE_KEYS.items() for lab in CURATION_DIRS},
    "dedup_store.probe_s": "s",
    "dedup_store.append_s": "s",
    "ivf_store.probe_s": "s",
    "ivf_store.append_s": "s",
    "streaming.batch_self_s": "s",
    "streaming.spark_jobs": "count",
    "streaming.accepted_share": "ratio",
    **{f"streaming.quarantined.{st}": "count" for st in CURATION_STAGES},
}

UNITS = END_TO_END | PER_LAYER | CURATION_LAYER


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of every
    order statistic, the i-th weighted by the Beta((n+1)/2, (n+1)/2)
    mass on [(i-1)/n, i/n]. Unlike the sample median, it does not jump
    when two queries of different cost swap places in the middle of the
    sorted latencies."""
    xs = sorted(xs)
    n = len(xs)
    a1 = (n + 1) / 2 - 1
    m = 400  # midpoint-rule points per order statistic
    weights = []
    for i in range(n):
        ts = ((i + (k + 0.5) / m) / n for k in range(m))
        weights.append(sum((t * (1 - t)) ** a1 for t in ts))
    total = sum(weights)
    return sum(w * x for w, x in zip(weights, xs)) / total if n else 0.0


def typical(ops: list[Op]) -> tuple[list[float], list[float]]:
    """Each operation kind's median latency and median items completed
    over the run (a failed operation completed none). With three or more
    of a kind, as in ``analytics``' passes, one slow pass (a burst of
    host load, or the first one while the JIT still warms) moves no
    kind's figure."""
    by_name: dict[str, list[Op]] = {}
    for op in ops:
        by_name.setdefault(op.name, []).append(op)
    kinds = [by_name[n] for n in sorted(by_name)]
    return ([statistics.median(op.latency_s for op in k) for k in kinds],
            [statistics.median(op.items if op.error is None else 0 for op in k)
             for k in kinds])


def _p50(ops: list[Op]) -> float:
    return hd_median(typical(ops)[0])


def end_to_end(ops: list[Op], setup_s: float) -> dict[str, float]:
    """From the untraced operations (all of them in an untraced run):
    the median over operation kinds of each kind's median latency, and
    the items a round of one operation of each kind completes per second
    at those latencies."""
    lat, items = typical([op for op in ops if not op.traced])
    return {
        "setup_s": setup_s,
        "op_p50_s": hd_median(lat),
        "items_per_s": sum(items) / sum(lat) if lat else 0.0,
    }


def tail(ops: list[Op]) -> dict[str, float]:
    """The highest latency percentile with at least ten untraced
    samples beyond it, with the sample count."""
    lat = sorted(op.latency_s for op in ops if not op.traced)
    if len(lat) <= 10:
        return {"samples": len(lat)}
    k = len(lat) - 10
    return {"samples": len(lat), "percentile": 100 * k / len(lat), "value_s": lat[k - 1]}


def per_layer(wl, ctx: Context, ops: list[Op], session_s: float) -> dict[str, float]:
    t = ctx.tracer
    traced = [op for op in ops if op.traced and op.error is None]
    ids = {op.index for op in traced}
    n = max(1, len(ids))

    def total(name: str) -> float:
        return sum(s.duration for s in t.per_op(name, ids)) / n

    def calls(name: str) -> float:
        return len(t.per_op(name, ids)) / n

    def results(name: str) -> float:
        return sum(s.result or 0 for s in t.per_op(name, ids)) / n

    curation = wl.name == "curation"
    out = dict.fromkeys(PER_LAYER | (CURATION_LAYER if curation else {}), 0.0)
    out["session.get_spark_s"] = session_s
    out["catalog.load_table_calls"] = calls("catalog.load_table")
    out["catalog.load_table_s"] = total("catalog.load_table")
    for stage in ("build", "analyze", "exec"):
        out[f"operators.{stage}_s"] = total(f"operators.{stage}")
    out["operators.py4j_calls"] = results("operators.build")
    out["operators.spark_jobs"] = sum(
        s.jobs or 0 for s in t.per_op("operators.exec", ids)) / n
    out["operators.spark_stages"] = sum(
        s.stages or 0 for s in t.per_op("operators.exec", ids)) / n
    out["operators.spark_tasks"] = sum(
        s.tasks or 0 for s in t.per_op("operators.exec", ids)) / n
    for fn in ("append_partitions", "write_partitions", "acquire_lease", "release_lease"):
        out[f"sources.{fn}_calls"] = calls(f"sources.{fn}")
        out[f"sources.{fn}_s"] = total(f"sources.{fn}")

    steps = ctx.storage_steps
    if steps:
        labels = [lab for lab in STORAGE_LABELS if lab in steps[-1]]
        for key in STORAGE_KEYS:
            for lab in labels:
                out[f"sources.{key}.{lab}"] = sum(s[lab][key] for s in steps) / len(steps)
            out[f"sources.{key}"] = sum(out[f"sources.{key}.{lab}"] for lab in labels)
        stored = sum(steps[-1][lab]["bytes"] for lab in labels)
        out["sources.stored_bytes_per_row"] = stored / max(1, wl.rows_landed)

    out["plans.run_silver_s"] = total("plans.run_silver")
    out["plans.run_gold_s"] = total("plans.run_gold")
    out["plans.run_layer_self_s"] = sum(
        t.self_time(s) for s in t.per_op("plans.run_layer", ids)) / n
    out["plans.mark_processed_s"] = total("plans.mark_processed")
    out["plans.processed_partitions_s"] = total("plans.processed_partitions")
    out["plans.partitions_processed"] = (
        results("plans.run_silver") + results("plans.run_gold"))
    if getattr(wl, "op_jobs_metric", None):
        # Spark jobs per whole operation (tick or batch)
        out[wl.op_jobs_metric] = sum(s.jobs or 0 for s in t.per_op("op", ids)) / n

    if curation:
        out["dedup_store.probe_s"] = total("dedup_store.probe")
        out["dedup_store.append_s"] = total("dedup_store.append")
        out["ivf_store.probe_s"] = total("ivf_store.probe")
        out["ivf_store.append_s"] = total("ivf_store.append")
        out["streaming.batch_self_s"] = sum(
            t.self_time(s) for s in t.per_op("streaming.batch", ids)) / n
        n_ops = max(1, len(ops))
        out["streaming.accepted_share"] = wl.accepted / (n_ops * wl.batch_docs)
        for st in CURATION_STAGES:
            out[f"streaming.quarantined.{st}"] = wl.quarantined[st] / n_ops

    out["trace.op_p50_s"] = _p50(traced)
    out["trace.overhead_s"] = overhead(ops)
    return out


def overhead(ops: list[Op]) -> float:
    """Tracing overhead: the median, over traced operations, of the
    operation's latency minus the mean latency of the untraced
    operations of the same name just before and just after it.

    Comparing with both neighbours cancels a steady drift: medallion
    ticks and curation batches drift within a run (warm-up, growing
    inputs), so a comparison with one neighbour alone would be biased. In
    ``analytics`` each query's passes alternate traced and untraced, so
    its neighbours are its own untraced runs."""
    diffs = []
    for name in {op.name for op in ops}:
        seq = [op for op in ops if op.name == name]
        for i, op in enumerate(seq):
            if not op.traced:
                continue
            near = [seq[j].latency_s for j in (i - 1, i + 1)
                    if 0 <= j < len(seq) and not seq[j].traced]
            if near:
                diffs.append(op.latency_s - statistics.fmean(near))
    return statistics.median(diffs) if diffs else 0.0
