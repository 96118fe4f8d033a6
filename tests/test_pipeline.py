"""Pipeline-semantics tests (SURVEY.md §5): the reference behaviors that
must survive the re-architecture — incremental skip, full-refresh,
dynamic-partition-overwrite isolation, validation gates, metadata upsert
uniqueness, and the end-to-end golden run on a synthetic bronze tree
mirroring FIXTURES.md §1."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from weather_etl_pipeline_spark.plans.metadata import (
    mark_processed,
    read_metadata,
    upsert_metadata,
)
from weather_etl_pipeline_spark.plans.pipeline import (
    ValidationError,
    aggregate_silver,
    run_gold,
    run_pipeline,
    run_silver,
)
from weather_etl_pipeline_spark.schemas import (
    PIPELINE_METADATA,
    WEATHER_BRONZE_WITH_CITY,
)
from weather_etl_pipeline_spark.sources.http_weather import (
    DEFAULT_CITIES,
    fetch_all,
    fetch_with_retry,
    to_bronze_df,
)
from weather_etl_pipeline_spark.sources.parquet_io import scan_zone, write_partitions

CITIES = ["Delhi", "London", "NewYork", "Tokyo"]


def make_bronze(spark, cities=CITIES, dates=("2026-02-13", "2026-02-14"), rows_per=3,
                null_temp_partition=None, some_nulls_partition=None):
    """Synthetic bronze tree per FIXTURES.md §1.1."""
    data = []
    for city in cities:
        for date in dates:
            for i in range(rows_per):
                temp = 10.0 + i
                if null_temp_partition == (city, date):
                    temp = None
                elif some_nulls_partition == (city, date) and i == 0:
                    temp = None
                data.append(
                    (f"{date}T{9 + i:02d}:15", 900, temp, 5.5 + i, 180 + i, 3, city)
                )
    df = spark.createDataFrame(data, WEATHER_BRONZE_WITH_CITY)
    return df.withColumn("date", F.to_date(F.substring("time", 1, 10)))


def test_end_to_end_golden(spark, lake):
    bronze = make_bronze(spark)
    result = run_pipeline(spark, lake, bronze_df=bronze)
    assert result == {"silver_partitions": 8, "gold_partitions": 8}

    silver = scan_zone(spark, lake.silver)
    assert sorted(silver.columns) == sorted(
        ["timestamp", "temperature", "wind_speed", "wind_direction",
         "weather_code", "city", "date"]
    )
    assert silver.count() == 8 * 3
    # typed: timestamp parsed from the ISO-minute string
    row = silver.filter((F.col("city") == "Delhi")).orderBy("timestamp").first()
    assert row["timestamp"].minute == 15

    gold = scan_zone(spark, lake.gold)
    g = gold.filter((F.col("city") == "Tokyo")).orderBy("date").first()
    assert g["avg_temp"] == pytest.approx(11.0)
    assert g["max_temp"] == 12.0 and g["min_temp"] == 10.0
    assert g["record_count"] == 3


def test_incremental_skip_and_new_partition(spark, lake):
    run_pipeline(spark, lake, bronze_df=make_bronze(spark))
    # re-run with no new data: silver skips everything (gold full-refresh
    # recomputes by design — the reference's shipped mode)
    assert run_silver(spark, lake) == 0
    # land one new date for one city → exactly 1 new silver partition
    new = make_bronze(spark, cities=["Delhi"], dates=("2026-02-15",))
    from weather_etl_pipeline_spark.sources.parquet_io import append_partitions

    append_partitions(new, lake.bronze)
    assert run_silver(spark, lake) == 1
    # gold incremental mode only picks up the new partition
    assert run_gold(spark, lake, full_refresh=False) == 1


def test_gold_incremental_vs_full_refresh(spark, lake):
    run_pipeline(spark, lake, bronze_df=make_bronze(spark), gold_full_refresh=False)
    assert run_gold(spark, lake, full_refresh=False) == 0
    assert run_gold(spark, lake, full_refresh=True) == 8


def test_dynamic_overwrite_isolation(spark, lake):
    """Writing partition A must not clobber partition B (the reference's
    per-partition COPY OVERWRITE semantics; SURVEY.md §4's #1 trap)."""
    run_pipeline(spark, lake, bronze_df=make_bronze(spark))
    before = scan_zone(spark, lake.silver).count()
    # rewrite ONE partition with fewer rows
    one = make_bronze(spark, cities=["Delhi"], dates=("2026-02-13",), rows_per=2)
    from weather_etl_pipeline_spark.plans.pipeline import clean_bronze

    write_partitions(clean_bronze(one), lake.silver)
    after_df = scan_zone(spark, lake.silver)
    assert after_df.filter(
        (F.col("city") == "Delhi") & (F.col("date") == "2026-02-13")
    ).count() == 2
    # all sibling partitions intact
    assert after_df.count() == before - 1


def test_validation_gate_all_null_partition(spark, lake):
    bronze = make_bronze(spark, null_temp_partition=("London", "2026-02-13"))
    with pytest.raises(ValidationError, match="London"):
        run_pipeline(spark, lake, bronze_df=bronze)


def test_partial_nulls_filtered_not_failed(spark, lake):
    bronze = make_bronze(spark, some_nulls_partition=("London", "2026-02-13"))
    run_pipeline(spark, lake, bronze_df=bronze)
    n = (
        scan_zone(spark, lake.silver)
        .filter((F.col("city") == "London") & (F.col("date") == "2026-02-13"))
        .count()
    )
    assert n == 2  # one null row dropped, partition still lands


def test_metadata_upsert_keeps_one_row_per_key(spark, lake):
    parts = spark.createDataFrame(
        [("Delhi", dt.date(2026, 2, 13))], "city string, date date"
    )
    for _ in range(3):
        mark_processed(spark, lake.metadata, "silver", parts)
    meta = read_metadata(spark, lake.metadata)
    assert meta.count() == 1
    assert meta.first()["layer"] == "silver"


def test_metadata_upsert_latest_wins(spark, lake):
    t0 = dt.datetime(2026, 2, 13, 10, 0, 0)
    t1 = dt.datetime(2026, 2, 13, 11, 0, 0)
    mk = lambda ts: spark.createDataFrame(
        [("gold", "Delhi", dt.date(2026, 2, 13), ts)], PIPELINE_METADATA
    )
    upsert_metadata(spark, lake.metadata, mk(t1))
    upsert_metadata(spark, lake.metadata, mk(t0))  # older arrives later
    meta = read_metadata(spark, lake.metadata).collect()
    assert len(meta) == 1
    assert meta[0]["processed_at"] == t1  # latest processed_at wins


def test_missing_input_guard(spark, lake):
    # no bronze zone at all → 0 partitions, no exception (gold.py:26-28)
    assert run_silver(spark, lake) == 0
    assert run_gold(spark, lake) == 0


def test_fetch_retry_and_bronze_df(spark):
    calls = {"n": 0}

    def flaky(city, lat, lon):
        calls["n"] += 1
        if calls["n"] < 3:
            raise TimeoutError("transient")
        return {
            "current": {
                "time": "2026-02-13T09:45",
                "interval": 900,
                "temperature_2m": 21.5,
                "wind_speed_10m": 3.2,
                "wind_direction_10m": 200,
                "weather_code": 1,
            }
        }

    sleeps = []
    out = fetch_with_retry(flaky, "Delhi", 28.61, 77.23, sleep=sleeps.append)
    assert out["current"]["temperature_2m"] == 21.5
    assert sleeps == [1.0, 2.0]  # exponential backoff 2**attempt

    def ok(city, lat, lon):
        return {
            "current": {
                "time": "2026-02-13T09:45",
                "interval": 900,
                "temperature_2m": 20.0,
                "wind_speed_10m": 1.0,
                "wind_direction_10m": 90,
                "weather_code": 0,
            }
        }

    payloads = fetch_all(DEFAULT_CITIES, ok)
    df = to_bronze_df(spark, payloads)
    assert df.count() == 4
    assert set(r["city"] for r in df.select("city").collect()) == set(CITIES)
    assert df.first()["date"] == dt.date(2026, 2, 13)


def test_fetch_exhausted_raises():
    def always_fail(city, lat, lon):
        raise TimeoutError("down")

    with pytest.raises(RuntimeError, match="after 3 attempts"):
        fetch_with_retry(always_fail, "Delhi", 0, 0, sleep=lambda s: None)


def test_aggregate_matches_reference_shape(spark):
    silver = spark.createDataFrame(
        [
            (dt.datetime(2026, 2, 13, 9), 10.0, 1.0, 90, 0, "Delhi", dt.date(2026, 2, 13)),
            (dt.datetime(2026, 2, 13, 10), 20.0, 2.0, 91, 1, "Delhi", dt.date(2026, 2, 13)),
        ],
        "timestamp timestamp, temperature double, wind_speed double, "
        "wind_direction int, weather_code int, city string, date date",
    )
    g = aggregate_silver(silver).first()
    assert g["avg_temp"] == 15.0 and g["record_count"] == 2


def test_generic_layer_on_event_lake(spark, tmp_path):
    """The incremental engine is schema-agnostic: an event lake with a
    single partition column (event_date) runs through the same
    run_layer machinery as the weather lake's (city, date)."""
    from tests.conftest import SF_SMOKE
    from weather_etl_pipeline_spark.catalog import load_table
    from weather_etl_pipeline_spark.plans.layers import (
        Layer,
        require_all_partitions_nonempty,
        run_layer,
    )

    raw = str(tmp_path / "events_raw")
    rollup = str(tmp_path / "events_rollup")
    meta = str(tmp_path / "meta")

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    dates = sorted(r["event_date"] for r in ev.select("event_date").distinct().collect())
    first, rest = dates[:2], dates[2:]

    ev.filter(F.col("event_date").isin(first)).write.partitionBy(
        "event_date"
    ).mode("append").parquet(raw)

    def daily_rollup(df):
        return df.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )

    layer = Layer(name="rollup", transform=daily_rollup, partition_cols=("event_date",))
    layer.validations = (require_all_partitions_nonempty(layer),)

    assert run_layer(spark, layer, raw, rollup, meta) == 2
    assert run_layer(spark, layer, raw, rollup, meta) == 0  # incremental skip
    # land the remaining dates -> only they process
    ev.filter(F.col("event_date").isin(rest)).write.partitionBy(
        "event_date"
    ).mode("append").parquet(raw)
    assert run_layer(spark, layer, raw, rollup, meta) == len(rest)
    out = spark.read.parquet(rollup)
    assert out.select("event_date").distinct().count() == len(dates)
    assert out.agg(F.sum("n")).first()[0] == ev.count()


def test_failed_validation_leaves_metadata_unmarked(spark, lake):
    """Crash consistency: when a layer's validation gate fires, nothing
    is marked processed — the next run retries the same partitions
    instead of silently skipping them (write-then-mark ordering)."""
    bad = make_bronze(spark, null_temp_partition=("London", "2026-02-13"))
    with pytest.raises(ValidationError):
        run_pipeline(spark, lake, bronze_df=bad)
    meta = read_metadata(spark, lake.metadata)
    assert meta is None or meta.count() == 0, "failed run must not watermark"

    # repair the bad partition (re-land it with real temperatures) and
    # rerun: every partition processes now
    fixed = make_bronze(spark)
    write_partitions(
        fixed.filter((F.col("city") == "London") & (F.col("date") == "2026-02-13")),
        lake.bronze,
    )
    result = run_pipeline(spark, lake)
    assert result["silver_partitions"] == 8
    assert result["gold_partitions"] == 8


def test_curated_corpus_lake_roundtrip(spark, tmp_path):
    """The curation composite lands in a (split, lang)-partitioned lake
    zone: round-trips losslessly, and a split/lang point read prunes to
    that partition subtree (the downstream trainer's read pattern)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from weather_etl_pipeline_spark.operators.curation import llm_corpus_curation

    out = str(tmp_path / "curated")
    df = llm_corpus_curation(spark, SF_SMOKE)
    df.write.partitionBy("split", "lang").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    want = {tuple(r) for r in df.collect()}
    got = {tuple(r) for r in back.select(*df.columns).collect()}
    assert got == want
    pruned = back.filter((F.col("split") == "train") & (F.col("lang") == "en"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "split" in plan.split("PartitionFilters")[1][:200]


def test_observe_metrics_during_silver_clean(spark):
    """Data-quality counters ride along the silver clean job via
    df.observe() — zero extra passes over the data (the reference's
    validation gates each cost a separate COUNT query; SURVEY §5)."""
    from pyspark.sql import Observation

    from tests.conftest import SF_SMOKE
    from weather_etl_pipeline_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    obs = Observation("silver_quality")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.sum((F.col("value") < 0).cast("long")).alias("n_negative"),
    )
    cleaned = observed.filter(F.col("value").isNotNull())
    n_out = cleaned.count()  # one action drives both the job and the metrics
    m = obs.get
    assert m["n_rows"] == ev.count()
    assert n_out == m["n_rows"] - m["n_null_value"]
    assert m["n_negative"] >= 0


def _file_scans(df):
    """The FileSourceScanExec nodes of ``df``'s executed plan, looking
    through adaptive plans and their query stages."""

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            yield from walk(node.plan())
            return
        if name == "FileSourceScanExec":
            yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    return list(walk(df._jdf.queryExecution().executedPlan()))


def test_incremental_scan_reads_only_pending_partitions(spark, lake, monkeypatch):
    """An incremental silver run lists and reads only the pending
    partitions' files, and the scan's PartitionFilters carry the
    work-list (a semi-join against the work-list pruned nothing: every
    run read the whole bronze zone). ``DataFrame.inputFiles()`` cannot
    show this: on a path-based scan it lists the whole zone whatever the
    PartitionFilters, so the files read come from the scan's own
    metrics."""
    from weather_etl_pipeline_spark.plans import pipeline
    from weather_etl_pipeline_spark.sources.parquet_io import append_partitions

    old_days = ("2026-02-10", "2026-02-11", "2026-02-12")
    append_partitions(make_bronze(spark, dates=old_days), lake.bronze)
    assert run_silver(spark, lake) == 4 * len(old_days)
    append_partitions(make_bronze(spark, dates=("2026-02-13",)), lake.bronze)

    seen = []
    clean = pipeline.clean_bronze
    monkeypatch.setattr(
        pipeline, "clean_bronze", lambda df: seen.append(df) or clean(df)
    )
    assert run_silver(spark, lake) == 4

    [pending] = seen
    read = pending.select(F.input_file_name().alias("f"))
    rows = read.collect()
    [scan] = _file_scans(read)
    new_files = {
        os.path.join(root, f)
        for root, _, files in os.walk(lake.bronze)
        if root.endswith("date=2026-02-13")
        for f in files
        if f.endswith(".parquet")
    }
    assert {r["f"].removeprefix("file://") for r in rows} == new_files
    metrics = scan.metrics()
    assert metrics.apply("numFiles").value() == len(new_files)
    assert metrics.apply("numPartitions").value() == 4
    filters = scan.partitionFilters().mkString(" AND ")
    new_day = (dt.date(2026, 2, 13) - dt.date(1970, 1, 1)).days
    for city in CITIES:
        assert f"[{city},{new_day}]" in filters
        for day in old_days:
            old = (dt.date.fromisoformat(day) - dt.date(1970, 1, 1)).days
            assert f"[{city},{old}]" not in filters


def _zone_snapshot(path):
    """(relative path, size, mtime) of every file under a zone."""
    snap = []
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            snap.append((os.path.relpath(os.path.join(root, f), path),
                         st.st_size, st.st_mtime_ns))
    return sorted(snap)


def test_failed_gold_validation_leaves_zone_and_metadata_untouched(
    spark, lake, monkeypatch
):
    """The gold null-average gate keeps its message and still fires
    before anything is written: a failing gold pass leaves the gold
    zone and the metadata table exactly as the last good run left
    them."""
    from weather_etl_pipeline_spark.plans import pipeline

    run_pipeline(spark, lake, bronze_df=make_bronze(spark))
    gold_before = _zone_snapshot(lake.gold)
    meta_before = sorted(map(tuple, read_metadata(spark, lake.metadata).collect()))

    def null_london_avg(silver):
        out = aggregate_silver(silver)
        return out.withColumn(
            "avg_temp", F.when(F.col("city") != "London", F.col("avg_temp"))
        )

    monkeypatch.setattr(pipeline, "aggregate_silver", null_london_avg)
    with pytest.raises(ValidationError, match=r"^2 rows with NULL avg_temp$"):
        run_gold(spark, lake, full_refresh=True)
    assert _zone_snapshot(lake.gold) == gold_before
    meta_after = sorted(map(tuple, read_metadata(spark, lake.metadata).collect()))
    assert meta_after == meta_before


def test_null_partition_value_fails_empty_partition_gate(spark, lake, tmp_path):
    """A NULL partition value in the work-list fails the empty-partition
    gate, on a first run (no predicate) and on an incremental run (the
    literal work-list predicate)."""
    from weather_etl_pipeline_spark.plans.pipeline import LakePaths
    from weather_etl_pipeline_spark.sources.parquet_io import append_partitions

    def with_null_city(dates):
        bronze = make_bronze(spark, dates=dates)
        return bronze.unionByName(
            make_bronze(spark, cities=["Delhi"], dates=dates).withColumn(
                "city", F.lit(None).cast("string")
            )
        )

    fresh = LakePaths(str(tmp_path / "fresh"))
    append_partitions(with_null_city(("2026-02-13",)), fresh.bronze)
    with pytest.raises(ValidationError, match=r"\('None', '2026-02-13'\)"):
        run_silver(spark, fresh)

    append_partitions(make_bronze(spark, dates=("2026-02-13",)), lake.bronze)
    assert run_silver(spark, lake) == 4
    append_partitions(with_null_city(("2026-02-14",)), lake.bronze)
    with pytest.raises(
        ValidationError,
        match=r"^layer silver: no rows produced for partitions "
        r"\[\('None', '2026-02-14'\)\]$",
    ):
        run_silver(spark, lake)


def test_gold_gates_run_in_one_action(spark, lake, monkeypatch):
    """Both gold gates (empty partition, NULL average) are answered by
    ONE action over the cached layer output: DataFrame actions between
    the transform and the write are counted (jobs are not, since
    adaptive execution may split one action into several jobs)."""
    from weather_etl_pipeline_spark.plans import layers, pipeline
    from weather_etl_pipeline_spark.sources.parquet_io import append_partitions

    append_partitions(make_bronze(spark), lake.bronze)
    assert run_silver(spark, lake) == 8

    actions = []
    cls = type(spark.range(1))
    for name in ("collect", "count", "isEmpty", "toLocalIterator"):
        method = getattr(cls, name)

        def counted(self, *a, _method=method, **kw):
            actions.append(_method.__name__)
            return _method(self, *a, **kw)

        monkeypatch.setattr(cls, name, counted)
    marks = {}

    def transform(silver):
        marks["transform"] = len(actions)
        return aggregate_silver(silver)

    write = layers.write_partitions

    def marked_write(*a, **kw):
        marks["write"] = len(actions)
        return write(*a, **kw)

    monkeypatch.setattr(pipeline, "aggregate_silver", transform)
    monkeypatch.setattr(layers, "write_partitions", marked_write)
    assert run_gold(spark, lake, full_refresh=True) == 8
    assert actions[marks["transform"]:marks["write"]] == ["collect"]


def test_file_index_work_list_decodes_escaped_partition_values(spark, tmp_path):
    """The work-list parsed from the zone's file index equals the
    partition tuples Spark itself reads back, for string values Spark
    escapes in directory names (and the URI escapes again), NULL and
    ``""`` (both stored as the Hive default partition) and int, date
    and timestamp partition columns."""
    from weather_etl_pipeline_spark.plans.incremental import pending_partitions

    strings = ["a b", "a%b", "x/y", "k=v", "t:u", "q?#", "Zürich", "50%20",
               "o'k\\", "", None]
    rows = [
        (i, s, i % 3, dt.date(2026, 1, 1 + i % 2),
         dt.datetime(2026, 1, 1, 10, i % 2, 30))
        for i, s in enumerate(strings)
    ]
    cols = ["s", "n", "d", "ts"]
    df = spark.createDataFrame(rows, "x int, s string, n int, d date, ts timestamp")
    df.write.partitionBy(*cols).parquet(str(tmp_path / "zone"))
    zone = spark.read.parquet(str(tmp_path / "zone"))
    assert [zone.schema[c].dataType.simpleString() for c in cols] == [
        "string", "int", "date", "timestamp"]

    want = {tuple(r) for r in zone.select(*cols).distinct().collect()}
    assert len(want) == len(strings)
    assert sum(t[0] is None for t in want) == 2  # "" reads back as NULL
    assert {tuple(r) for r in pending_partitions(zone, set(), cols)} == want
    done = {("a%b", 1, dt.date(2026, 1, 2), dt.datetime(2026, 1, 1, 10, 1, 30))}
    assert {tuple(r) for r in pending_partitions(zone, done, cols)} == want - done


def _jobs_during(spark, fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` and the stage names of the Spark jobs it
    ran, one list per job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn(*args, **kwargs)
    names = [
        [tracker.getStageInfo(s).name for s in tracker.getJobInfo(j).stageIds]
        for j in sorted(set(tracker.getJobIdsForGroup(None)) - before)
    ]
    return out, names


def test_layer_bookkeeping_job_counts(spark, lake, monkeypatch):
    """On a lake with metadata, an incremental layer run lists its
    work-list with no Spark job, reads the processed keys in one
    collect (no schema inference job) and upserts the metadata in one
    job whose merge plan has no shuffle."""
    from weather_etl_pipeline_spark.plans import layers, metadata
    from weather_etl_pipeline_spark.sources.parquet_io import append_partitions

    run_pipeline(spark, lake, bronze_df=make_bronze(spark))
    append_partitions(make_bronze(spark, dates=("2026-02-15",)), lake.bronze)
    seen = {}

    def spy(module, name):
        fn = getattr(module, name)

        def wrapped(*a, **kw):
            out, seen[name] = _jobs_during(spark, fn, *a, **kw)
            return out

        monkeypatch.setattr(module, name, wrapped)

    spy(layers, "processed_partitions_cols")
    spy(layers, "pending_partitions")
    spy(metadata, "upsert_metadata_cols")
    merges = []
    swap = metadata._atomic_overwrite

    def record_merge(df, path):
        merges.append(df)
        return swap(df, path)

    monkeypatch.setattr(metadata, "_atomic_overwrite", record_merge)
    assert run_silver(spark, lake) == 4
    assert seen["pending_partitions"] == []
    [[read]] = seen["processed_partitions_cols"]
    assert read.startswith("collect at ")
    assert len(seen["upsert_metadata_cols"]) == 1
    [merge] = merges
    assert "Exchange" not in merge._jdf.queryExecution().executedPlan().toString()
    meta = read_metadata(spark, lake.metadata)
    assert meta.filter("layer = 'silver'").count() == 4 * 3


def test_zero_row_partition_file_fails_empty_partition_gate(spark, lake):
    """A partition is available once it has a data file: a partition
    directory holding only a zero-row file enters the work-list and
    the empty-partition gate fails it by name, with nothing written and
    nothing marked (it used to be skipped, silently and forever)."""
    from weather_etl_pipeline_spark.sources.parquet_io import append_partitions

    append_partitions(make_bronze(spark, dates=("2026-02-13",)), lake.bronze)
    assert run_silver(spark, lake) == 4
    empty = make_bronze(spark, cities=["Paris"], dates=("2026-02-14",)).limit(0)
    part = os.path.join(lake.bronze, "city=Paris", "date=2026-02-14")
    empty.drop("city", "date").write.parquet(part)
    assert any(f.endswith(".parquet") for f in os.listdir(part))
    silver_before = _zone_snapshot(lake.silver)
    meta_before = sorted(map(tuple, read_metadata(spark, lake.metadata).collect()))
    with pytest.raises(
        ValidationError,
        match=r"^layer silver: no rows produced for partitions "
        r"\[\('Paris', '2026-02-14'\)\]$",
    ):
        run_silver(spark, lake)
    assert _zone_snapshot(lake.silver) == silver_before
    meta_after = sorted(map(tuple, read_metadata(spark, lake.metadata).collect()))
    assert meta_after == meta_before
