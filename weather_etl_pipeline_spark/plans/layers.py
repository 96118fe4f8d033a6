"""Generic incremental layer engine.

The reference hardcodes its two layers (silver clean, gold aggregate)
around one partition scheme (``city``, ``date``) — ``silver.py`` and
``gold.py`` are near-identical control flow around different SQL. This
module extracts that control flow once, parameterized by:

- ``transform``: DataFrame → DataFrame (the layer's logic; must
  preserve the partition columns);
- ``partition_cols``: the incremental unit (any arity — the weather
  lake uses (city, date), an event lake just (event_date));
- ``validations``: gates run against the transformed output before
  anything is written (reference silver.py:42-47, gold.py:45-59).

Execution contract (the scale-relevant part):
- ONE distributed job covers every pending partition (no per-partition
  loop);
- the work-list is the zone's partition tuples, parsed from its file
  index, minus the layer's keys collected from the metadata table (one
  job, plans/incremental.py); the input scan is restricted to it by a
  literal partition predicate, so only pending partitions are listed
  and read (no predicate when nothing is processed yet);
- every gate runs off ONE per-partition aggregate over the cached
  output (one action, however many gates);
- the write is dynamic-partition-overwrite (only touched partitions
  replaced);
- metadata marks processed only after a successful write.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_io import scan_zone, write_partitions
from .incremental import filter_to_partitions, partitions_relation, pending_partitions
from .metadata import mark_processed_cols, processed_partitions_cols


class ValidationError(ValueError):
    """A validation gate failed (reference raises ValueError)."""


class Validation(NamedTuple):
    """A gate: the per-partition aggregates it needs over the layer
    output (``aggs``, aliased) and a driver-side ``check(stats, todo)``.
    ``stats`` holds one row per produced partition (partition columns,
    ``_rows`` and every gate's aggregates); ``todo`` is the work-list."""

    check: Callable[[list[Row], list[Row]], None]
    aggs: tuple[Column, ...] = ()


@dataclass
class Layer:
    name: str
    transform: Callable[[DataFrame], DataFrame]
    partition_cols: tuple[str, ...] = ("city", "date")
    validations: Sequence[Validation] = field(default_factory=tuple)


def require_all_partitions_nonempty(layer: Layer) -> Validation:
    """Empty-partition gate: every pending partition must produce rows.

    A work-list tuple holding a NULL never counts as produced: NULL
    equals nothing, as in a SQL anti-join of the work-list against the
    output."""

    def check(stats: list[Row], todo: list[Row]) -> None:
        key = lambda r: tuple(r[c] for c in layer.partition_cols)  # noqa: E731
        got = set(map(key, stats))
        bad = [tuple(map(str, k)) for k in map(key, todo) if None in k or k not in got]
        if bad:
            raise ValidationError(
                f"layer {layer.name}: no rows produced for partitions {bad}"
            )

    return Validation(check)


def require_no_nulls(col: str) -> Validation:
    """Null-aggregate gate (reference gold.py:53-59)."""

    def check(stats: list[Row], todo: list[Row]) -> None:
        n = sum(r[f"_nulls_{col}"] for r in stats)
        if n:
            raise ValidationError(f"{n} rows with NULL {col}")

    return Validation(check, (F.count_if(F.col(col).isNull()).alias(f"_nulls_{col}"),))


def run_layer(
    spark: SparkSession,
    layer: Layer,
    input_path: str,
    output_path: str,
    meta_path: str,
    full_refresh: bool = False,
) -> int:
    """One incremental pass; returns the number of partitions processed."""
    from ..sources.fs import path_exists

    if not path_exists(spark, input_path):
        return 0  # missing-input guard (reference gold.py:26-28)
    src = scan_zone(spark, input_path)
    cols = list(layer.partition_cols)
    processed = set()
    if not full_refresh:
        keys = src.select(*cols).schema
        processed = processed_partitions_cols(spark, meta_path, layer.name, keys)
    todo = pending_partitions(src, processed, cols)  # tiny: one row per partition
    if not todo:
        return 0
    # nothing processed yet (or full refresh): every partition pends
    pending = filter_to_partitions(src, todo, cols) if processed else src
    out = layer.transform(pending).cache()
    try:
        if layer.validations:  # one action serves every gate
            aggs = [a for v in layer.validations for a in v.aggs]
            stats = out.groupBy(*cols).agg(F.count("*").alias("_rows"), *aggs).collect()
            for validation in layer.validations:
                validation.check(stats, todo)
        write_partitions(out, output_path, layer.partition_cols)
    finally:
        out.unpersist()
    todo_df = partitions_relation(src, todo, cols)
    mark_processed_cols(spark, meta_path, layer.name, todo_df, cols)
    return len(todo)
