"""``curation``: the LLM-corpus curation loop.

One operation is one micro-batch of ``BATCH_DOCS`` documents through
``streaming.curation_loop.process_curation_batch`` (quality gate → text
near-dup probe → embedding near-dup probe → store appends → curated
lake). Half of each batch is fresh documents (seeded distinct tokens
and vectors); the other half is exact text copies of corpus documents,
carrying the original's embedding.

Set-up builds the signature store and the IVF index from the seeded
corpus (``fixtures.write_testdata``'s documents and embeddings,
``doc_id == vec_id``) and runs one warm-up batch. After the run every
generated ``doc_id`` must sit in exactly one place (the lake or one
rejects table) and no exact copy may reach the lake (untimed).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import fixtures
from core import Context, Op, traced_turn

BATCH_DOCS = 40
STAGES = ("quality", "intra", "text", "ann")
LABELS = {"sig": "sig", "ivf": "ivf", "lake": "lake", "rej": "rej"}


class Curation:
    name = "curation"
    item = "docs"
    op_jobs_metric = "streaming.spark_jobs"
    batch_docs = BATCH_DOCS

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.fx = os.path.join(ctx.run_dir, "fixture")
        self.root = os.path.join(ctx.run_dir, "store")
        self.dirs = {k: os.path.join(self.root, k) for k in LABELS}
        self.batches: list[tuple[int, list[int], set[int]]] = []  # id, ids, copies
        self.next_id = 0
        self.rows_landed = 0
        self.problems: list[str] = []

    def storage_labels(self) -> tuple[str, dict[str, str]]:
        return self.root, LABELS

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from weather_etl_pipeline_spark.functions.vectors import as_double
        from weather_etl_pipeline_spark.operators import dedup_store, ivf_store

        fixtures.write_testdata(self.fx, self.ctx.seed)
        docs = pq.read_table(os.path.join(self.fx, "documents.parquet"))
        embs = pq.read_table(os.path.join(self.fx, "embeddings.parquet"))
        self.corpus_text = docs.column("text").to_pylist()
        self.corpus_vec = [list(map(float, v)) for v in embs.column("embedding").to_pylist()]
        self.next_id = len(self.corpus_text)
        spark = self.ctx.spark
        corpus = (
            spark.read.parquet(os.path.join(self.fx, "documents.parquet"))
            .select("doc_id", "text")
            .join(
                spark.read.parquet(os.path.join(self.fx, "embeddings.parquet")).select(
                    F.col("vec_id").alias("doc_id"),
                    as_double(F.col("embedding")).alias("e"),
                ),
                "doc_id",
            )
        )
        dedup_store.build_signature_store(spark, corpus.select("doc_id", "text"), self.dirs["sig"])
        ivf_store.build_ivf_index(
            spark, corpus.select(F.col("doc_id").alias("vec_id"), "e"), self.dirs["ivf"]
        )
        self._batch()

    def _word(self) -> str:
        n = int(self.rng.integers(4, 10))
        return "".join(chr(97 + int(c)) for c in self.rng.integers(0, 26, n))

    def _batch(self) -> int:
        from weather_etl_pipeline_spark.streaming import curation_loop

        rows, copies = [], set()
        half = BATCH_DOCS // 2
        for i in range(BATCH_DOCS):
            doc_id = self.next_id + i
            if i < half:
                words = " ".join(self._word() for _ in range(60))
                text = f"the new crawl document and a record of it {words} in the end"
                vec = self.rng.normal(size=64).tolist()
            else:
                src = int(self.rng.integers(0, len(self.corpus_text)))
                text, vec = self.corpus_text[src], self.corpus_vec[src]
                copies.add(doc_id)
            rows.append((doc_id, text, vec, "crawl"))
        self.next_id += BATCH_DOCS
        batch_id = len(self.batches) + 1
        self.batches.append((batch_id, [r[0] for r in rows], copies))
        df = self.ctx.spark.createDataFrame(
            rows, "doc_id long, text string, e array<double>, src string"
        )
        curation_loop.process_curation_batch(
            self.ctx.spark, df, batch_id, self.dirs["sig"], self.dirs["ivf"],
            self.dirs["lake"], self.dirs["rej"],
        )
        self.rows_landed += BATCH_DOCS
        return BATCH_DOCS

    def measure(self) -> list[Op]:
        ctx = self.ctx
        tracer = ctx.tracer
        end = time.perf_counter() + ctx.seconds
        ops: list[Op] = []
        # at least three batches, so a traced run traces one between two
        # untraced ones
        while len(ops) < 3 or time.perf_counter() < end:
            k = len(ops)
            traced = traced_turn(ctx, k)
            tracer.enabled = traced
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("op", op=k, count_jobs=True):
                        n = self._batch()
                else:
                    n = self._batch()
                op = Op("batch", time.perf_counter() - t0, n, traced=traced, index=k)
            except Exception as e:  # noqa: BLE001 — counted in fail_share
                op = Op("batch", time.perf_counter() - t0, 0, traced=traced, index=k,
                        error=f"{type(e).__name__}: {e}")
            finally:
                tracer.enabled = False
            if ctx.storage is not None:
                ctx.storage_steps.append(ctx.storage.step())
            ops.append(op)
        return ops

    # --- output checks (untimed) -------------------------------------------

    def placements(self, batch_id: int) -> dict[str, set[int]]:
        """Doc ids per destination (the lake and each rejects table)."""
        out = {}
        lake = os.path.join(self.dirs["lake"], f"batch_id={batch_id}")
        out["lake"] = _ids(lake, "doc_id")
        for stage in STAGES:
            col = "doc_id" if stage == "quality" else "new_id"
            out[stage] = _ids(os.path.join(self.dirs["rej"], stage, f"batch_id={batch_id}"), col)
        return out

    def check(self, ops: list[Op]) -> None:
        self.quarantined = dict.fromkeys(STAGES, 0)
        self.accepted = 0
        # batch 1 is set-up's warm-up; measured op k ran batch k + 2
        verdict = {}
        for batch_id, ids, copies in self.batches:
            where = self.placements(batch_id)
            placed = [d for s in where.values() for d in s]
            err = None
            if sorted(placed) != sorted(ids):
                missing = set(ids) - set(placed)
                extra = len(placed) - len(set(placed))
                err = f"batch {batch_id}: {len(missing)} docs unplaced, {extra} placed twice"
            elif where["lake"] & copies:
                err = f"batch {batch_id}: {len(where['lake'] & copies)} exact copies in the lake"
            verdict[batch_id] = err
            if batch_id > 1:
                self.accepted += len(where["lake"])
                for stage in STAGES:
                    self.quarantined[stage] += len(where[stage])
        if verdict.get(1):
            self.problems.append(f"set-up batch: {verdict[1]}")
        for op in ops:
            err = verdict.get(op.index + 2)
            if op.error is None and err:
                op.error = f"output check: {err}"

    def failed_checks(self) -> dict[str, str]:
        return {"setup": "; ".join(self.problems)} if self.problems else {}


def _ids(path: str, col: str) -> set[int]:
    if not os.path.isdir(path):
        return set()
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return {v for f in files for v in pq.read_table(f, columns=[col]).column(col).to_pylist()}
