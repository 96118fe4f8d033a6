"""Table loading over the driver test parquet.

Thin typed accessors so operators never hard-code paths. Reads are plain
``spark.read.parquet`` — columnar scan, predicate pushdown and column
pruning all arrive via Catalyst for free (SURVEY.md section 4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from .schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Columns that MAY be stored as parquet TIMESTAMP(NANOS) — Spark has no
# nanos timestamp type and refuses the read by default. With
# legacy.parquet.nanosAsLong set, a nanos column reads back as raw int64
# and we truncate to microseconds (what DuckDB does when it surfaces
# nanos as TIMESTAMP; the test data's nanos are micros*1000, so
# truncation is lossless). The conversion is guarded on the OBSERVED
# dtype: the driver regenerates testdata between rounds and has shipped
# both TIMESTAMP(NANOS) and timestamp[us] encodings of the same column,
# so — like the reference, which re-infers file schema on every read
# (/root/reference/silver.py:36 read_parquet) — we branch on what the
# file actually contains rather than hard-coding a physical type.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


# tables amplified by `@xN` — the "fact" set that grows with corpus
# size. Dimensions (and orders, the other join side of lineitem) stay
# 1x: replicating BOTH sides of a key join multiplies match
# cardinality N^2-fold, which models nothing real.
_SCALE_FACT_TABLES = frozenset({"lineitem", "events", "documents", "embeddings"})

# Entity tables get KEY-OFFSET replicas instead of raw duplication:
# replica r adds r*_SCALE_STRIDE to the listed key columns, so `@xN`
# models N× MORE entities (distinct docs/vectors/users carrying the
# original payload distribution) rather than every primary key
# appearing N times. Raw duplication is semantically ambiguous for
# keyed queries — a sessionizer, a per-doc explode, and a count-per-
# entity each "correctly" disagree about what 10 copies of event_id 7
# mean — which made an oracle differential at @xN unrunnable (round-9
# first attempt: 15 spurious fails, every one a duplication-semantics
# split, zero value drift). lineitem stays raw duplication: its rows
# join UNamplified orders/part/supplier, so offsetting its keys would
# dangle every join; N copies per orderkey models N× fatter orders,
# which its (all-aggregating) queries read consistently on both
# engines. The stride keeps ids < ~1e9 at @x100 so id-hash arithmetic
# (knuth_hash) stays inside BIGINT on both engines.
_SCALE_KEY_REMAP: dict[str, tuple[str, ...]] = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
}
_SCALE_STRIDE = 10_000_000


def _resolve_sf_dir(sf_dir: str, name: str) -> tuple[str, int]:
    """``<dir>@xN`` amplifies the fact tables N-fold — a zero-copy
    synthetic scale-up. Entity tables (_SCALE_KEY_REMAP) get key-offset
    union replicas (N× DISTINCT keys), lineitem a raw N-fold listing;
    since round 9 the amplification is CORRECTNESS-GRADE: diffcheck
    mirrors the exact remap in its DuckDB views and the full registry
    differential runs at sf0.1@x10 as a gate (COVERAGE.md)."""
    if "@x" in sf_dir:
        base, _, n = sf_dir.rpartition("@x")
        return base, max(1, int(n)) if name in _SCALE_FACT_TABLES else 1
    return sf_dir, 1


# memoized table handles, keyed by (session, resolved dir, table,
# replication, file mtime+size). A DataFrame is an immutable lazy
# plan, so handing the same object to every query is safe — what the
# memo removes is the per-call spark.read.parquet metadata work (file
# listing + footer schema inference + the nanos-normalization
# analysis), which measured 0.1-0.2s of driver latency per table per
# query (star_join builds 5+ tables → ~0.8s of pure plan-construction
# before a single task ran). This is CATALOG behavior, not a benchmark
# trick: every engine resolves a table to cached metadata (the DuckDB
# oracle registers its views once, outside any timed region). The
# mtime+size in the key makes mutation safe: an overwritten fixture
# (test lakes under tmp_path) changes its stat signature and misses
# the memo — one os.stat per call is microseconds against the 0.1-0.2s
# it replaces. Paths the driver can't stat (remote filesystems) skip
# memoization entirely rather than risk staleness.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def clear_table_cache() -> None:
    _TABLE_CACHE.clear()


def _stat_sig(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _assert_keys_below_stride(path: str, keys: tuple[str, ...]) -> None:
    """Refuse @xN key-offset amplification when any base key reaches
    the stride: replica key ranges would overlap and the 'N× distinct
    entities' contract would silently corrupt keyed semantics (with the
    oracle mirroring the same arithmetic, the differential would still
    pass — so this must be loud at load time). Footer stats only —
    no data scan."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = (
        [path]
        if os.path.isfile(path)
        else sorted(_glob.glob(os.path.join(path, "*.parquet")))
    )
    if not files:
        # zero discovered files = zero validation — the silent state
        # this guard exists to forbid (nested hive layouts, remote FS)
        raise ValueError(
            f"@xN key remap could not discover parquet files under {path!r}"
            " to validate the stride contract"
        )
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema not in keys:
                    continue
                stats = col.statistics
                if stats is None or stats.max is None or stats.min is None:
                    raise ValueError(
                        f"@xN key remap needs footer stats for {col.path_in_schema!r}"
                        f" in {f} to validate the stride contract"
                    )
                # keys must sit in [0, stride): a negative key would
                # collide with ANOTHER replica's range just as surely
                # as one at/above the stride (e.g. -9_999_995 at @x2
                # lands on base id 5)
                if int(stats.max) >= _SCALE_STRIDE or int(stats.min) < 0:
                    raise ValueError(
                        f"@xN key remap contract violated: {col.path_in_schema!r}"
                        f" range [{stats.min}, {stats.max}] outside the stride"
                        f" interval [0, {_SCALE_STRIDE}) in {f} — replica key"
                        " ranges would overlap"
                    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    sf_dir, replication = _resolve_sf_dir(sf_dir, name)
    # the caller may be an external driver with its own session: pin the
    # two runtime confs correctness depends on (UTC so timestamps agree
    # with the UTC-naive DuckDB oracle on any host TZ; nanos-as-long so
    # parquet TIMESTAMP(NANOS) columns are readable at all). Kept
    # OUTSIDE the memo: the confs are session state and must be pinned
    # even when the table handle is a cache hit.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = _stat_sig(path)
    key = (spark.sparkContext.applicationId, sf_dir, name, replication, sig)
    df = _TABLE_CACHE.get(key) if sig is not None else None
    if df is None:
        if replication > 1 and name in _SCALE_KEY_REMAP:
            # N offset UNION branches over the same file — N× distinct
            # entities, zero copies. One branch per replica (not one
            # scan × a broadcast replica range): each branch scans in
            # its own task, which is exactly how a real N×-bigger table
            # reads (N× row groups → N× scan tasks); the crossJoin form
            # measured a single-task scan serializing scan-bound
            # queries 10× (json_extract_agg 2.8s at @x10 vs ~0.4
            # expected).
            from functools import reduce

            # the "N× DISTINCT keys" contract requires every base key
            # below the stride — validate from parquet FOOTER stats
            # (metadata-only, no scan); silent collisions would corrupt
            # keyed semantics while the mirrored oracle hid it
            _assert_keys_below_stride(path, _SCALE_KEY_REMAP[name])
            base = _convert_long_ts_cols(spark.read.parquet(path), nanos_cols)
            keys = _SCALE_KEY_REMAP[name]
            # TWO-LEVEL replica layout: min(N, parallelism) union
            # branches (one scan TASK each — how a real N×-bigger table
            # parallelizes), each crossJoined with a broadcast range of
            # its replica sub-interval (one plan NODE per branch, so a
            # @x1000 plan stays ~32 branches instead of 1000 — a flat
            # 1000-branch union measured 69s of plan ANALYSIS alone,
            # while the single-branch crossJoin form serialized every
            # scan; this shape caps both failure modes at any N).
            n_br = max(1, min(replication, spark.sparkContext.defaultParallelism))
            per, extra = divmod(replication, n_br)
            rep = temp_col(base, "_rep")

            def _branch(b: int) -> DataFrame:
                start = b * per + min(b, extra)
                width = per + (1 if b < extra else 0)
                if width == 1:
                    inner = base
                    off = F.lit(start * _SCALE_STRIDE)
                else:
                    inner = base.crossJoin(
                        F.broadcast(
                            spark.range(width).select(F.col("id").alias(rep))
                        )
                    )
                    off = (F.lit(start) + F.col(rep)) * F.lit(_SCALE_STRIDE)
                return inner.select(
                    *[
                        (F.col(c) + off).alias(c) if c in keys else F.col(c)
                        for c in base.columns
                    ]
                )

            df = reduce(
                DataFrame.unionByName, (_branch(b) for b in range(n_br))
            )
        else:
            df = _convert_long_ts_cols(
                spark.read.parquet(*([path] * replication)), nanos_cols
            )
        if sig is not None:
            # evict prior generations of the same logical table (older
            # stat signatures, e.g. overwritten test fixtures) so a
            # long-lived driver holds at most one entry per
            # (app, dir, table, replication) instead of leaking every
            # superseded analyzed plan
            stale = [k for k in _TABLE_CACHE if k[:4] == key[:4]]
            for k in stale:
                del _TABLE_CACHE[k]
            _TABLE_CACHE[key] = df
    return df


def _convert_long_ts_cols(df: DataFrame, cols) -> DataFrame:
    """Normalize a maybe-nanos timestamp column to plain TIMESTAMP,
    branching on the dtype the file actually produced:

    - int64 (genuine TIMESTAMP(NANOS) under nanosAsLong): integer-divide
      to micros — a double divide at ~1.7e18 nanos would lose precision.
    - TIMESTAMP_NTZ (plain timestamp[us] parquet): cast to TIMESTAMP.
      The session TZ is pinned UTC, so the wall-clock value is unchanged;
      the cast keeps every downstream ``unix_micros``/interval expression
      (TIMESTAMP-only in Spark 4) analyzing regardless of which encoding
      the driver regenerated the testdata with.
    - already TIMESTAMP: pass through.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    for c in cols:
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def cap_per_group(
    df: DataFrame, keys: list[str], order_col, cap: int
) -> DataFrame:
    """First ``cap`` rows per ``keys`` group by deterministic
    ``order_col`` (a column name / Column, or a list of them for
    tie-broken orders) — the membership-cap primitive every blocked/
    banded structure shares (jaccard postings, levenshtein cells, LSH
    buckets, baskets, corpus-side probes). One row_number window;
    callers' oracles mirror it verbatim as ROW_NUMBER() OVER
    (PARTITION BY keys ORDER BY order_cols) <= cap."""
    from pyspark.sql import Window

    from pyspark.sql import functions as F

    order_cols = order_col if isinstance(order_col, (list, tuple)) else [order_col]
    rn = temp_col(df, "_caprn")
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) <= cap)
        .drop(rn)
    )


def temp_col(df: DataFrame, base: str) -> str:
    """A column name guaranteed absent from ``df`` — internal helper
    columns (cap row_numbers, rank scratch) must never silently
    overwrite a caller column of the same name."""
    name = base
    i = 0
    while name in df.columns:
        i += 1
        name = f"{base}{i}"
    return name


# Knuth multiplicative hash (golden-ratio multiplier for 2^32),
# computed in BIGINT — the ONE deterministic key-bucketing hash every
# oracle-mirrored split/sample/cap shares (train/val/test split,
# incremental batch split, basket cap order, mixture resample). The
# Spark and SQL forms must stay digit-for-digit identical for oracle
# parity, so both live here and NOWHERE else.
KNUTH = 2654435761
KNUTH_MOD = 4294967296


def knuth_hash(col) -> "F.Column":
    c = F.col(col) if isinstance(col, str) else col
    return (c * F.lit(KNUTH)) % F.lit(KNUTH_MOD)


def oracle_knuth_hash(expr: str) -> str:
    return f"(({expr} * {KNUTH}) % {KNUTH_MOD})"


# Broadcast gate for the size-gated join hints (dedup verify arrays,
# q3's filtered cust⋈orders side): on-disk bytes of the gating table
# under which the built relation fits an executor comfortably (the
# in-memory form is ~2-4x the raw bytes). Past it the hint disappears
# and AQE keeps the runtime strategy choice.
BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def _hidden(name: str) -> bool:
    """Spark's listing filter (InMemoryFileIndex.shouldFilterOutPathName):
    ``.``/``_`` names are not data — markers, ``.crc`` checksums, a
    crashed write's ``_temporary/`` — except ``=``-named partition
    directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def table_file_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """On-disk data bytes of a test table (file metadata, no scan) — the
    driver-side size signal for plan gates like the jaccard
    verify-broadcast. Honors ``@xN`` amplification (replicated listings
    scan N× the bytes). Counts what Spark's reader lists (_hidden).

    Local paths stat directly: the recursive py4j Hadoop listing cost
    30-60 ms of driver latency per call — real time inside every gated
    query's plan construction — where os.walk over the same files is
    microseconds. Paths the driver can't stat (remote schemes) keep the
    Hadoop listing."""
    base, replication = _resolve_sf_dir(sf_dir, name)
    path = os.path.join(base, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path) * replication
    if os.path.isdir(path):
        total = 0
        for dirpath, dirnames, files in os.walk(path):
            dirnames[:] = [d for d in dirnames if not _hidden(d)]
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if not _hidden(f)
            )
        return total * replication
    from .sources.fs import _fs_and_path

    fs, root = _fs_and_path(spark, path)
    root_len = len(fs.makeQualified(root).toUri().getPath().rstrip("/"))
    total = 0
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        # every path component below the table root, file name included
        below = st.getPath().toUri().getPath()[root_len:].split("/")
        if not any(_hidden(n) for n in below):
            total += int(st.getLen())
    return total * replication


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism``.

    Scan split planning provisions partitions by INPUT BYTES, which
    under-parallelizes compute-amplifying operators: blocked pair
    generation (levenshtein, simhash chunk join) multiplies work by
    block-size², k-means assignment by k×dim — a 600 KB documents file
    is one scan split but minutes of single-threaded expression work.
    Spreading the base rows across cores before the amplifying stage
    costs one narrow shuffle of the SMALL side and parallelizes
    everything downstream; at cluster scale the same holds per-executor
    (pair-gen stages should be core-bound, not split-bound)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (for the SQL API path)."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def raw_nanos_schema(spark: SparkSession, path: str):
    """On-disk schema of a nanos-timestamp parquet (ts columns as int64
    under nanosAsLong) — for streaming readers that must declare the
    raw schema before converting."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def convert_nanos_cols(df: DataFrame, name: str) -> DataFrame:
    """Apply the same dtype-guarded nanos→micros conversion load_table
    uses, for a DataFrame read elsewhere (e.g. a readStream over staged
    files). No-op when the column is already a timestamp."""
    return _convert_long_ts_cols(df, _NANOS_TS_COLS.get(name, ()))
