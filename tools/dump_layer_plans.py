"""Dump the formatted plans a medallion layer run executes, so two
builds of ``plans/layers.py`` compare with ``diff -r``.

Builds a bronze zone of DAYS days x 4 cities in a temp dir, runs
silver, lands one more day for 2 cities, then runs silver and a
full-refresh gold again while recording:

- ``silver_pending_scan.txt``: the input ``run_layer`` hands to the
  silver transform (the pending-partition scan);
- ``silver_gates.txt`` / ``gold_gates.txt``: every DataFrame action the
  layer issues between its transform and its write (the validation
  gates), one plan per action;
- ``metadata_merge.txt``: the plan the incremental silver run's
  metadata upsert writes (the merged, keep-latest table).

Expression IDs, exchange plan_ids and the temp dir are stripped
(``$LAKE``) as in tools/dump_plans.py.

Usage: python tools/dump_layer_plans.py <out_dir>
e.g.   python tools/dump_layer_plans.py plans/r18/after
"""

from __future__ import annotations

import datetime as dt
import shutil
import sys
import tempfile
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from dump_plans import _IDS  # noqa: E402

from weather_etl_pipeline_spark.plans import layers, metadata, pipeline  # noqa: E402
from weather_etl_pipeline_spark.session import get_spark  # noqa: E402
from weather_etl_pipeline_spark.sources.parquet_io import (  # noqa: E402
    append_partitions,
)

DAYS = 30
CITIES = ("Delhi", "London", "NewYork", "Tokyo")


def _bronze(spark, days, cities):
    rows = [
        (f"{d}T{h:02d}:00", 900, 10.0 + h, 3.0, 180, 1, c)
        for d in days
        for c in cities
        for h in range(24)
    ]
    cols = "time string, interval int, temperature_2m double, wind_speed_10m double, "
    cols += "wind_direction_10m int, weather_code int, city string"
    df = spark.createDataFrame(rows, cols)
    return df.selectExpr("*", "to_date(substring(time, 1, 10)) AS date")


def main() -> None:
    out_dir = Path(sys.argv[1])
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump-layer-plans")
    root = tempfile.mkdtemp(prefix="layer-plans-")
    paths = pipeline.LakePaths(root)
    day0 = dt.date(2026, 1, 1)
    days = [(day0 + dt.timedelta(days=i)).isoformat() for i in range(DAYS + 1)]
    append_partitions(_bronze(spark, days[:DAYS], CITIES), paths.bronze)
    pipeline.run_silver(spark, paths)
    append_partitions(_bronze(spark, days[DAYS:], CITIES[:2]), paths.bronze)

    def explain(df) -> str:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return _IDS.sub("", plan).replace(root, "$LAKE")

    cls = type(spark.range(1))
    originals = {n: getattr(cls, n) for n in ("collect", "count", "isEmpty")}
    gates: list[str] = []
    recording = [False]

    def record(name):
        def action(self, *a, **kw):
            if recording[0]:
                gates.append(f"== {name}() ==\n{explain(self)}")
            return originals[name](self, *a, **kw)

        return action

    def start(transform, label):
        def wrapped(df):
            if label == "silver":
                (out_dir / "silver_pending_scan.txt").write_text(explain(df))
            recording[0] = True
            return transform(df)

        return wrapped

    write = layers.write_partitions

    def stop_at_write(*a, **kw):
        recording[0] = False
        return write(*a, **kw)

    swap = metadata._atomic_overwrite
    merges: list[str] = []

    def record_merge(df, path):
        merges.append(explain(df))
        return swap(df, path)

    layers.write_partitions = stop_at_write
    metadata._atomic_overwrite = record_merge
    for name in originals:
        setattr(cls, name, record(name))
    clean, aggregate = pipeline.clean_bronze, pipeline.aggregate_silver
    pipeline.clean_bronze = start(clean, "silver")
    pipeline.aggregate_silver = start(aggregate, "gold")
    try:
        for label, run in (
            ("silver", lambda: pipeline.run_silver(spark, paths)),
            ("gold", lambda: pipeline.run_gold(spark, paths, full_refresh=True)),
        ):
            gates.clear()
            print(f"{label}: {run()} partitions, {len(gates)} gate action(s)")
            (out_dir / f"{label}_gates.txt").write_text("\n".join(gates))
        (out_dir / "metadata_merge.txt").write_text(merges[0])  # silver's upsert
    finally:
        for name, fn in originals.items():
            setattr(cls, name, fn)
        layers.write_partitions = write
        metadata._atomic_overwrite = swap
        pipeline.clean_bronze, pipeline.aggregate_silver = clean, aggregate
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
