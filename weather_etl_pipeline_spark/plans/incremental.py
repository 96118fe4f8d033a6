"""Incremental work-list (reference op Q-antijoin — the pipeline's core).

The reference computes ``to_process = available − processed`` as a
Python set difference over ``(city, date)`` tuples (reference
``silver.py:66-69``, ``gold.py:113-118``). So does this module, with no
Spark job for the available side: the partition tuples are parsed from
the zone's file index (``DataFrame.inputFiles()``, listed on the driver
when the zone was opened) and typed by collecting one SQL ``VALUES``
relation of cast literals, which Spark answers on the driver. The
processed side is the layer's keys collected from the metadata table
(``metadata.processed_partitions_cols``).

"Available" means "has a data file": a partition directory whose only
file holds zero rows is on the work-list, and the layer's
empty-partition gate then fails it by name (nothing written, nothing
marked) instead of skipping it forever.

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

from collections.abc import Collection, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, Row

_SQL_ESCAPES = str.maketrans({"\\": "\\\\", "'": "\\'"})
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _literal_tuples(
    zone_df: DataFrame, partitions: Sequence[Sequence], cols: Sequence[str]
) -> str:
    """``(CAST('v1' AS t1), ...), ...``: one SQL tuple per partition,
    each value cast from its string form to its zone column's type."""
    types = {f.name: f.dataType.simpleString() for f in zone_df.schema}

    def lit(v: object, c: str) -> str:
        text = "NULL" if v is None else f"'{str(v).translate(_SQL_ESCAPES)}'"
        return f"CAST({text} AS {types[c]})"

    return ", ".join(
        f"({', '.join(lit(v, c) for v, c in zip(p, cols))})" for p in partitions
    )


def partitions_relation(
    zone_df: DataFrame, partitions: Sequence[Sequence], cols: Sequence[str]
) -> DataFrame:
    """The partition tuples as a typed ``VALUES`` relation: a local
    relation, so collecting or writing it needs no Python worker and
    collecting it runs no Spark job."""
    keys = ", ".join(f"`{c}`" for c in cols)
    tuples = _literal_tuples(zone_df, partitions, cols)
    return zone_df.sparkSession.sql(f"SELECT * FROM VALUES {tuples} AS t({keys})")


def _path_value(segment: str) -> tuple[str, str | None]:
    """``name=value`` directory name → (name, value). Decoded twice:
    once for the URI, once for Spark's escaping of the value (decoding
    once leaves ``a%b`` as ``a%25b``)."""
    name, _, raw = unquote(segment).partition("=")
    return unquote(name), None if raw == _HIVE_NULL else unquote(raw)


def pending_partitions(
    zone_df: DataFrame, processed: Collection[tuple], cols: Sequence[str]
) -> list[Row]:
    """The work-list: the zone's partition tuples (one per partition
    that has a data file, typed like the zone's columns) minus
    ``processed``. A tuple holding a NULL always stays pending: NULL
    equals nothing, as in a SQL anti-join. Runs no Spark job."""
    listed = set()
    for path in zone_df.inputFiles():
        values = dict(_path_value(d) for d in path.split("/")[:-1] if "=" in d)
        listed.add(tuple(values[c] for c in cols))
    if not listed:
        return []
    rows = partitions_relation(zone_df, sorted(listed, key=str), cols).collect()
    return [r for r in rows if None in r or tuple(r) not in processed]


def filter_to_partitions(
    zone_df: DataFrame, partitions: Sequence[Row], cols: Sequence[str]
) -> DataFrame:
    """Restrict a zone scan to a collected partition work-list in ONE plan.

    The work-list becomes a literal ``(c1, c2, ...) IN ((v1, v2, ...),
    ...)`` predicate over partition columns only. Spark puts it in the
    scan's ``PartitionFilters``, so only the listed partitions are
    listed and read, and no broadcast job runs. (A broadcast LEFT SEMI
    join against the work-list pruned nothing: dynamic partition
    pruning needs a selective filter on the other join side, which a
    work-list relation lacks, so the scan read every file of the zone.)
    """
    keys = ", ".join(f"`{c}`" for c in cols)
    return zone_df.filter(f"({keys}) IN ({_literal_tuples(zone_df, partitions, cols)})")
