"""``analytics``: the interactive query path.

One operation is one of the registry's headline queries on a seeded
sf0.001-sized fixture, materialised through the noop sink after
``spark.catalog.clearCache()`` (the same per-query unit ``bench.py``
times). The seed shuffles the query order within each pass; the run
measures ``PASSES`` whole passes, more while ``--seconds`` have not
elapsed. The end-to-end metrics take each query's median over the
passes (``metrics.typical``).

Set-up runs one cold pass over every query, four at a time, collecting
each result; those results are the ones checked against the query's
DuckDB twin, after the measured passes. ``WARM_RUNS`` noop runs of
every query follow, also four at a time, to warm the JIT.
"""

from __future__ import annotations

import math
import os
import random
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

import fixtures
from core import Context, Op, traced_turn
from tracing import job_shape

# dedup_minhash_lsh has no SQL oracle (xxHash signatures): its portable
# twin runs the same pipeline with arithmetic hashes and has one. The
# two hash kernels bucket differently, so their candidate sets (and row
# counts) may differ by a pair; the LSH output itself is checked pair
# by pair (_lsh_problem)
TWIN = {"dedup_minhash_lsh": "dedup_minhash_portable"}
LSH_VERIFY_T = 0.5  # dedup._MH_VERIFY_T
# recall floor: with 8 bands of 4 rows, a pair at jaccard j shares a
# band with probability 1 - (1 - j**4)**8, above 0.999998 for j >= 0.95
LSH_RECALL_T = 0.95

PASSES = 3  # measured passes, at least
# noop runs of every query in set-up, after the cold collecting ones
# and four at a time like them: after the cold pass alone, passes kept
# getting faster for four more passes (10.5 s, 8.2, 8.1, 6.8 for all 19
# queries); four threads get through the warming runs faster than the
# one a measured pass uses
WARM_RUNS = 2

# ``analytics-x10``: execution-dominated queries at ten times the
# fixture's fact tables (the catalog's ``<dir>@x10`` amplification)
X10_QUERIES = (
    "basket_part_pairs",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "q1_pricing_summary",
    "star_join_revenue",
    "timeseries_gapfill_hourly",
)


class Analytics:
    name = "analytics"
    # the run's end-to-end ``items`` are queries
    item = "queries"

    def __init__(self, ctx: Context, names=None, sf: float = 0.001, amplify: int = 1):
        from weather_etl_pipeline_spark.registry import load_all

        self.ctx = ctx
        self.reg = load_all()
        self.names = sorted(names or (n for n, q in self.reg.items() if q.headline))
        self.sf = sf
        self.fx = os.path.join(ctx.run_dir, "fixture")
        # the sf_dir argument the queries get
        self.src = self.fx if amplify == 1 else f"{self.fx}@x{amplify}"
        self.results: dict[str, tuple[list[str], list[tuple]] | str] = {}
        self.verdict: dict[str, str | None] = {}

    def setup(self) -> None:
        self.ctx.notes["fixture_rows"] = fixtures.write_testdata(
            self.fx, self.ctx.seed, self.sf)
        to_run = self.names + sorted({TWIN[n] for n in self.names if n in TWIN})

        def collect(name: str):
            try:
                df = self.reg[name].fn(self.ctx.spark, self.src)
                return name, (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 — recorded as a failed check
                return name, f"{type(e).__name__}: {e}"

        def warm(name: str) -> None:
            try:
                self.reg[name].fn(self.ctx.spark, self.src).write.format("noop").mode(
                    "overwrite").save()
            except Exception:  # noqa: BLE001 — its measured runs report it
                pass

        t0 = time.perf_counter()
        with ThreadPoolExecutor(4) as ex:
            cold = ex.map(collect, to_run)
            list(ex.map(warm, self.names * WARM_RUNS))
            self.results = dict(cold)
        self.ctx.notes["warmup_s"] = time.perf_counter() - t0

    def measure(self) -> list[Op]:
        ctx = self.ctx
        spark = ctx.spark
        rng = random.Random(ctx.seed)
        end = time.perf_counter() + ctx.seconds
        ops: list[Op] = []
        passes = 0
        # at least PASSES passes, so every run does the same work when
        # --seconds is short. Even after set-up's warm runs the first
        # measured pass ran 15-20% slower than the next (the JIT still
        # compiling); a query's median over three passes leaves it out.
        # A traced run traces each query in every other pass,
        # alternating by its rank in the registry order
        while passes < PASSES or time.perf_counter() < end:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                traced = traced_turn(ctx, self.names.index(name) + passes)
                ops.append(self._one(spark, name, len(ops), traced))
            passes += 1
        ctx.notes["passes"] = passes
        return ops

    def _one(self, spark, name: str, k: int, traced: bool) -> Op:
        fn = self.reg[name].fn
        tracer = self.ctx.tracer
        spark.catalog.clearCache()
        tracer.enabled = traced
        try:
            t0 = time.perf_counter()
            if not traced:
                fn(spark, self.src).write.format("noop").mode("overwrite").save()
                return Op(name, time.perf_counter() - t0, 1, index=k)
            with tracer.span("op", op=k):
                calls0 = tracer.py4j_calls
                with tracer.span("operators.build") as sp:
                    df = fn(spark, self.src)
                sp.result = tracer.py4j_calls - calls0
                with tracer.span("operators.analyze"):
                    df.schema  # noqa: B018 — forces analysis
                jobs0 = tracer.job_ids()
                with tracer.span("operators.exec") as sp:
                    df.write.format("noop").mode("overwrite").save()
                new_jobs = tracer.job_ids() - jobs0
                sp.jobs = len(new_jobs)
                sp.stages, sp.tasks = job_shape(spark, new_jobs)
            return Op(name, time.perf_counter() - t0, 1, traced=True, index=k)
        except Exception as e:  # noqa: BLE001 — counted in fail_share
            return Op(name, time.perf_counter() - t0, 0, traced=traced, index=k,
                      error=f"{type(e).__name__}: {e}")
        finally:
            tracer.enabled = False

    # --- output checks (untimed) -------------------------------------------

    def check(self, ops: list[Op]) -> None:
        from weather_etl_pipeline_spark.tools.diffcheck import rows_to_multiset
        from weather_etl_pipeline_spark.tools.duck_views import create_testdata_views

        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute("SET memory_limit = '1GB'")
        create_testdata_views(con, self.src)

        def against_oracle(name: str, got) -> str | None:
            if isinstance(got, str):
                return got
            cols, rows = got
            res = con.execute(self.reg[name].oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            if sorted(cols) != sorted(ocols):
                return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
            if len(rows) != len(orows):
                return f"{len(rows)} rows != oracle {len(orows)}"
            if rows_to_multiset(cols, rows) != rows_to_multiset(ocols, orows):
                return "values differ from the oracle"
            return None

        for name in self.names:
            got = self.results[name]
            if name in TWIN:
                twin = TWIN[name]
                err = against_oracle(twin, self.results[twin])
                err = err and f"{twin}: {err}"
                self.verdict[name] = err or (got if isinstance(got, str)
                                             else self._lsh_problem(*got))
            else:
                self.verdict[name] = against_oracle(name, got)
        con.close()
        for op in ops:
            if op.error is None and self.verdict.get(op.name):
                op.error = f"output check: {self.verdict[op.name]}"

    def _lsh_problem(self, cols: list[str], rows: list[tuple]) -> str | None:
        """Every emitted pair must be a true near-duplicate with its exact
        3-token-shingle jaccard; no pair twice; every exact-duplicate
        member must have its star edge from the group's smallest id; and
        every pair of distinct texts at jaccard >= LSH_RECALL_T must be
        emitted."""
        from weather_etl_pipeline_spark.catalog import _SCALE_STRIDE, _resolve_sf_dir

        base, n = _resolve_sf_dir(self.src, "documents")
        t = pq.read_table(os.path.join(base, "documents.parquet"), columns=["doc_id", "text"])
        text = {
            d + r * _SCALE_STRIDE: s
            for d, s in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
            for r in range(n)
        }
        ia, ib, ij = (cols.index(c) for c in ("doc_a", "doc_b", "jaccard_shingles"))
        seen = set()
        for row in rows:
            a, b, j = row[ia], row[ib], row[ij]
            if (a, b) in seen:
                return f"pair ({a}, {b}) emitted twice"
            seen.add((a, b))
            if a not in text or b not in text:
                return f"pair ({a}, {b}) names an unknown document"
            want = 1.0 if text[a] == text[b] else _jaccard(text[a], text[b])
            if want < LSH_VERIFY_T or abs(want - j) > 1e-9:
                return f"pair ({a}, {b}) reports jaccard {j}, exact {want}"
        groups = defaultdict(list)
        for d, s in text.items():
            groups[s].append(d)
        missing = {(min(g), m) for g in groups.values() for m in g if m != min(g)} - seen
        if missing:
            return f"{len(missing)} exact-duplicate star edges missing"
        found = {(min(a, b), max(a, b)) for a, b in seen}
        missed = _similar_pairs({min(g): s for s, g in groups.items()}, LSH_RECALL_T) - found
        if missed:
            return f"{len(missed)} pairs at jaccard >= {LSH_RECALL_T} not found, e.g. {min(missed)}"
        return None

    def failed_checks(self) -> dict[str, str]:
        return {n: v for n, v in self.verdict.items() if v}


def _shingles(text: str) -> set[tuple[str, ...]]:
    tk = text.split(" ")
    return {tuple(tk[i:i + 3]) for i in range(len(tk) - 2)}


def _jaccard(a: str, b: str) -> float:
    """Exact jaccard of two texts' 3-token shingle sets, rounded half-up
    to 6 decimals like the query (functions.exact.hround)."""
    sa, sb = _shingles(a), _shingles(b)
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return math.floor(inter / union * 1e6 + 0.5) / 1e6 if union else 0.0


def _similar_pairs(texts: dict[int, str], min_j: float) -> set[tuple[int, int]]:
    """All (a < b) id pairs whose texts' shingle jaccard is >= min_j,
    found through a shingle -> ids index (only pairs sharing a shingle
    are scored)."""
    sets = {d: _shingles(t) for d, t in texts.items()}
    index = defaultdict(list)
    for d in sorted(sets):
        for sh in sets[d]:
            index[sh].append(d)
    shared = defaultdict(int)
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                shared[a, b] += 1
    return {
        (a, b) for (a, b), n in shared.items()
        if n / (len(sets[a]) + len(sets[b]) - n) >= min_j
    }
