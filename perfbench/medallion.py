"""``medallion``: the reference's bronze → silver → gold pipeline.

One operation is one tick: land one new day of 24 hourly observations
for the run's cities through the ``weather_obs`` DataSource and
``sources.parquet_io.append_partitions``, then run
``plans.pipeline.run_silver`` (incremental) and
``run_gold(full_refresh=True)`` (the reference's shipped mode). Gold
therefore reads every day landed so far.

Set-up lands ``HISTORY_DAYS`` days in one cold tick. The run measures
``TICKS`` ticks, or more while ``--seconds`` have not elapsed. After
every tick the gold zone is recomputed with DuckDB from the bronze
parquet and compared (untimed).
"""

from __future__ import annotations

import datetime
import math
import os
import time

import duckdb

import fixtures
from core import Context, Op, traced_turn

CITIES = 4  # the reference lake's city count
HISTORY_DAYS = 1
# measured ticks (at least; more only if --seconds outlasts them). A
# traced run measures one more and traces the middle one, comparing it
# with its neighbours
TICKS = 2
HOURS = 24
LABELS = {"data": "bronze", "silver": "silver", "gold": "gold",
          "pipeline_metadata": "metadata"}


class Medallion:
    name = "medallion"
    item = "obs_rows"
    op_jobs_metric = "plans.spark_jobs"

    def __init__(self, ctx: Context):
        from weather_etl_pipeline_spark.plans.pipeline import LakePaths

        self.ctx = ctx
        self.cities = fixtures.city_names(ctx.seed, CITIES)
        self.day0 = datetime.date(2025, 1, 1) + datetime.timedelta(days=ctx.seed % 300)
        self.paths = LakePaths(os.path.join(ctx.run_dir, "lake"))
        self.days = 0
        self.rows_landed = 0
        self.problems: list[str] = []

    def storage_labels(self) -> tuple[str, dict[str, str]]:
        return self.paths.root, LABELS

    def _land(self, n_days: int) -> int:
        from pyspark.sql import functions as F

        from weather_etl_pipeline_spark.sources import parquet_io

        day = self.day0 + datetime.timedelta(days=self.days)
        df = (
            self.ctx.spark.read.format("weather_obs")
            .option("date", day.isoformat())
            .option("hours", str(HOURS * n_days))
            .option("cities", ",".join(self.cities))
            .load()
            .withColumn("date", F.to_date(F.substring("time", 1, 10)))
        )
        parquet_io.append_partitions(df, self.paths.bronze)
        self.days += n_days
        rows = HOURS * n_days * len(self.cities)
        self.rows_landed += rows
        return rows

    def _tick(self, n_days: int) -> tuple[int, int]:
        from weather_etl_pipeline_spark.plans import pipeline

        rows = self._land(n_days)
        n = pipeline.run_silver(self.ctx.spark, self.paths)
        n += pipeline.run_gold(self.ctx.spark, self.paths, full_refresh=True)
        return rows, n

    def setup(self) -> None:
        from weather_etl_pipeline_spark.sources.weather_source import register

        register(self.ctx.spark)
        t0 = time.perf_counter()
        self._tick(HISTORY_DAYS)
        self.ctx.notes["cold_tick_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        err = self._check()
        self.ctx.untimed_setup_s += time.perf_counter() - t0
        if err:
            self.problems.append(f"set-up tick: {err}")

    def measure(self) -> list[Op]:
        ctx = self.ctx
        tracer = ctx.tracer
        end = time.perf_counter() + ctx.seconds
        ops: list[Op] = []
        # gold reads every day landed so far, so a tick's work grows with
        # the ticks before it: a fixed count keeps every run's work the same
        n_ticks = TICKS + ctx.traced_run
        while len(ops) < n_ticks or time.perf_counter() < end:
            k = len(ops)
            traced = traced_turn(ctx, k)
            tracer.enabled = traced
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("op", op=k, count_jobs=True):
                        rows, _ = self._tick(1)
                else:
                    rows, _ = self._tick(1)
                op = Op("tick", time.perf_counter() - t0, rows, traced=traced, index=k)
            except Exception as e:  # noqa: BLE001 — counted in fail_share
                op = Op("tick", time.perf_counter() - t0, 0, traced=traced, index=k,
                        error=f"{type(e).__name__}: {e}")
            finally:
                tracer.enabled = False
            if ctx.storage is not None:
                ctx.storage_steps.append(ctx.storage.step())
            if op.error is None:
                err = self._check()
                if err:
                    op.error = f"output check: {err}"
            ops.append(op)
        return ops

    # --- output checks (untimed) -------------------------------------------

    def _check(self) -> str | None:
        """Gold must equal an aggregate DuckDB computes from bronze, and
        the metadata must mark every partition processed for both
        layers."""
        con = duckdb.connect()
        con.execute("SET threads = 2")
        p = self.paths

        def scan(zone: str) -> str:
            return f"read_parquet('{zone}/**/*.parquet', hive_partitioning = true)"

        try:
            want = con.execute(
                f"SELECT city, CAST(date AS DATE), avg(temperature_2m), "
                f"max(temperature_2m), min(temperature_2m), count(*) "
                f"FROM {scan(p.bronze)} WHERE temperature_2m IS NOT NULL "
                f"GROUP BY ALL ORDER BY 1, 2"
            ).fetchall()
            got = con.execute(
                f"SELECT city, CAST(date AS DATE), avg_temp, max_temp, min_temp, "
                f"record_count FROM {scan(p.gold)} ORDER BY 1, 2"
            ).fetchall()
            n_days = self.days * len(self.cities)
            if len(want) != n_days:
                return f"bronze holds {len(want)} city-days, expected {n_days}"
            if len(got) != len(want):
                return f"gold has {len(got)} rows, bronze aggregate {len(want)}"
            for w, g in zip(want, got):
                if (w[:2] != g[:2] or w[3:] != g[3:]
                        or not math.isclose(w[2], g[2], rel_tol=1e-12, abs_tol=1e-12)):
                    return f"gold row {g} != bronze aggregate {w}"
            marked = con.execute(
                f"SELECT layer, count(DISTINCT (city, date)) "
                f"FROM read_parquet('{p.metadata}/*.parquet') GROUP BY 1 ORDER BY 1"
            ).fetchall()
            if marked != [("gold", n_days), ("silver", n_days)]:
                return f"metadata marks {marked}, expected {n_days} per layer"
            n_silver = con.execute(f"SELECT count(*) FROM {scan(p.silver)}").fetchone()[0]
            n_bronze = sum(w[5] for w in want)
            if n_silver != n_bronze:
                return f"silver has {n_silver} rows, bronze {n_bronze} non-null"
            return None
        finally:
            con.close()

    def check(self, ops: list[Op]) -> None:
        pass  # checked after every tick inside measure()

    def failed_checks(self) -> dict[str, str]:
        return {"setup": "; ".join(self.problems)} if self.problems else {}
