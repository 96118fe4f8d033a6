"""Incremental work-list (reference op Q-antijoin — the pipeline's core).

The reference computes ``to_process = available − processed`` as a
Python set difference over ``(city, date)`` tuples (reference
``silver.py:66-69``, ``gold.py:113-118``). Distributed form: LEFT ANTI
join of the partition listing against the metadata table — Catalyst
broadcasts the (tiny) processed side — collected to the driver as the
work-list (one row per pending partition).

The follow-on divergence from the reference matters more: the
reference loops over ``to_process`` one partition at a time
(``silver.py:73``); here the work-list becomes one literal partition
predicate (``filter_to_partitions``) so all new partitions
clean/aggregate/write in a single distributed pass that lists and
reads only their files. At 100 TB that is the difference between N
sequential scans, or one scan of the whole zone, and one scan of the
new partitions.

Partition columns are parameterized — the weather lake uses
``(city, date)``, an event lake just ``(event_date,)``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

_SQL_ESCAPES = str.maketrans({"\\": "\\\\", "'": "\\'"})


def pending_partitions(
    zone_df: DataFrame, processed: DataFrame | None, cols: Sequence[str]
) -> list[Row]:
    """The collected work-list: DISTINCT partition tuples of a zone scan
    (reference silver.py:8-12) minus ``processed`` via broadcast
    anti-join; every available tuple when ``processed`` is None.

    The listing reads no column data, but Spark's metadata-only
    optimization is off by default, so its scan still covers every file
    of the zone. The result is one row per pending partition."""
    todo = zone_df.select(*cols).distinct()
    if processed is not None:
        todo = todo.join(F.broadcast(processed), on=list(cols), how="left_anti")
    return todo.collect()


def filter_to_partitions(
    zone_df: DataFrame, partitions: Sequence[Row], cols: Sequence[str]
) -> DataFrame:
    """Restrict a zone scan to a collected partition work-list in ONE plan.

    The work-list becomes a literal ``(c1, c2, ...) IN ((v1, v2, ...),
    ...)`` predicate over partition columns only, each value cast from
    its string form to its column's type. Spark puts it in the scan's
    ``PartitionFilters``, so only the listed partitions are listed and
    read, and no broadcast job runs. (The broadcast LEFT SEMI join this
    replaces pruned nothing: dynamic partition pruning needs a
    selective filter on the other join side, which a work-list relation
    lacks, so the scan read every file of the zone.)
    """
    types = {f.name: f.dataType.simpleString() for f in zone_df.schema}

    def lit(v: object, c: str) -> str:
        text = "NULL" if v is None else f"'{str(v).translate(_SQL_ESCAPES)}'"
        return f"CAST({text} AS {types[c]})"

    keys = ", ".join(f"`{c}`" for c in cols)
    rows = (", ".join(lit(r[c], c) for c in cols) for r in partitions)
    return zone_df.filter(f"({keys}) IN ({', '.join(f'({t})' for t in rows)})")
