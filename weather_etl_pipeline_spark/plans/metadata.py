"""pipeline_metadata watermark table (reference ops D-ddl / U-upsert).

The reference keeps a DuckDB table ``pipeline_metadata(layer, city,
date, processed_at)`` with composite PK ``(layer, city, date)`` and
maintains it with ``INSERT OR REPLACE`` (reference ``metadata.py:1-10``,
``silver.py:57-60``, ``gold.py:92-95``).

Spark has no PK enforcement and this container has no Delta jars, so
the upsert is replicated as read → union → keep-latest-per-key →
atomic swap:

- keep-latest = ``row_number() over (partition by key order by
  processed_at desc)`` — deterministic replace-by-key, computed in one
  task (the table is read with the new rows' schema, so no schema
  inference job runs either: an upsert is one Spark job);
- atomic swap = write to a temp dir then rename, so a crashed writer
  never leaves a half-written metadata table;
- the table is tiny (one row per (layer, *partition) — thousands at
  most), so the full rewrite is cheap at any scale; with Delta
  available this becomes ``MERGE INTO`` unchanged at the call sites.

The table's partition columns are the LAKE's partition columns (the
weather lake: city, date; an event lake: event_date) — generic
``*_cols`` entry points take them explicitly, and the weather-shaped
wrappers below pin the reference's (city, date).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from ..schemas import METADATA_KEY, PIPELINE_METADATA
from ..sources.fs import delete, path_exists, rename


def read_metadata(spark: SparkSession, meta_path: str) -> DataFrame | None:
    """The table with the schema its files declare, None if no table
    exists yet. Inferring that schema is a Spark job, so the pipeline's
    own reads name the schema instead (``_read_as``)."""
    if not path_exists(spark, meta_path):
        return None
    return spark.read.parquet(meta_path)


def _read_as(
    spark: SparkSession, meta_path: str, schema: StructType
) -> DataFrame | None:
    if not path_exists(spark, meta_path):
        return None
    return spark.read.schema(schema).parquet(meta_path)


def upsert_metadata_cols(
    spark: SparkSession,
    meta_path: str,
    new_rows: DataFrame,
    key_cols: list[str],
    lease_ttl_s: float | None = 900.0,
) -> None:
    """INSERT OR REPLACE by (layer, *key_cols); latest processed_at wins.

    Holds the single-writer lease (sources/lease.py) across the
    read-merge-swap by default, which removes BOTH concurrent-writer
    hazards this table had: the lost update (B read before A
    published — previously the documented non-transactional
    limitation) and the lost-swap-race IOError. A second writer now
    fails up front with LeaseHeldError instead. ``lease_ttl_s=None``
    restores the unguarded detect-only behavior (the crash-consistency
    suite pins both modes)."""

    def _merge_and_swap(fence=None) -> None:
        current = _read_as(spark, meta_path, new_rows.schema)
        merged = current.unionByName(new_rows) if current is not None else new_rows
        w = Window.partitionBy("layer", *key_cols).orderBy(
            F.col("processed_at").desc()
        )
        # one row per key: one task merges it, and the single partition
        # satisfies the window's distribution, so no shuffle runs
        deduped = (
            merged.coalesce(1)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if fence is not None:
            # pre-commit fencing check (sources/lease.py::fence_for): a
            # hold that outlived its TTL aborts before the swap instead
            # of swapping unfenced against a successor's merge
            fence()
        _atomic_overwrite(deduped, meta_path)

    if lease_ttl_s is None:
        _merge_and_swap()
        return
    from ..sources.lease import fence_for, writer_lease

    with writer_lease(spark, meta_path, ttl_s=lease_ttl_s) as token:
        _merge_and_swap(fence_for(spark, meta_path, token))


def mark_processed_cols(
    spark: SparkSession,
    meta_path: str,
    layer: str,
    partitions: DataFrame,
    cols: list[str],
) -> None:
    """Record (layer, *cols) rows as processed now."""
    rows = partitions.select(
        F.lit(layer).alias("layer"),
        *[F.col(c) for c in cols],
        F.current_timestamp().alias("processed_at"),
    )
    upsert_metadata_cols(spark, meta_path, rows, cols)


def processed_partitions_cols(
    spark: SparkSession, meta_path: str, layer: str, keys: StructType
) -> set[tuple]:
    """Partition tuples already processed for a layer, collected in one
    job (empty if no table exists yet) — reference silver.py:15-20.
    ``keys`` types the partition columns as the layer's zone does."""
    schema = StructType([StructField("layer", StringType()), *keys])
    meta = _read_as(spark, meta_path, schema.add("processed_at", TimestampType()))
    if meta is None:
        return set()
    rows = meta.filter(F.col("layer") == layer).select(*keys.fieldNames()).collect()
    return set(map(tuple, rows))


# --- weather-shaped wrappers (the reference's fixed schema) ------------------


def upsert_metadata(
    spark: SparkSession,
    meta_path: str,
    new_rows: DataFrame,
    lease_ttl_s: float | None = 900.0,
) -> None:
    upsert_metadata_cols(
        spark,
        meta_path,
        new_rows.select(*PIPELINE_METADATA.fieldNames()),
        METADATA_KEY[1:],  # (city, date); "layer" is always part of the key
        lease_ttl_s=lease_ttl_s,
    )


def mark_processed(
    spark: SparkSession, meta_path: str, layer: str, partitions: DataFrame
) -> None:
    rows = partitions.select(
        F.lit(layer).alias("layer"),
        F.col("city").cast("string").alias("city"),
        F.col("date").cast("date").alias("date"),
        F.current_timestamp().alias("processed_at"),
    )
    upsert_metadata(spark, meta_path, rows)


def _atomic_overwrite(df: DataFrame, path: str) -> None:
    """Write-then-swap through the Hadoop FileSystem API — scheme-
    agnostic (file://, hdfs://, s3a://). Note: the swap is atomic on
    HDFS/local renames; object stores get best-effort semantics (as do
    all non-transactional parquet tables — Delta's MERGE replaces this
    wholesale when its jars are present)."""
    spark = df.sparkSession
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    # Hadoop rename reports failure by RETURNING FALSE (concurrent
    # writer, missing parent, dst exists) — unlike os.rename it never
    # raises, so each step must be checked or a failed swap would
    # silently delete the previous metadata
    if path_exists(spark, path) and not rename(spark, path, old):
        raise IOError(f"metadata swap: could not move {path} aside")
    # rollback on EITHER failure mode: rename() returns False for the
    # benign lost-race IOException family but RE-RAISES genuine faults
    # (permissions, dead filesystem) — the old table must be restored
    # on both paths or a raise here would strand the metadata at the
    # __old_ name and the next run would see no watermarks
    try:
        published = rename(spark, tmp, path)
    except BaseException:
        if path_exists(spark, old):
            rename(spark, old, path)
        raise
    if not published:
        # roll the old table back so watermarks survive the failure
        if path_exists(spark, old):
            rename(spark, old, path)
        raise IOError(f"metadata swap: could not publish {tmp} -> {path}")
    if path_exists(spark, old):
        delete(spark, old)
