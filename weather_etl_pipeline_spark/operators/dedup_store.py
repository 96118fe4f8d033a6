"""Persisted signature store (minhash + simhash) — the production
ingest-dedup shape.

Round 8 generalized the store over signature FAMILIES: the layout,
stored per-bucket rank, meta watermark, torn-append detection, and
base-offset append ranks are signature-agnostic (see _FAMILIES); a
family contributes only its (sidecar, banded) derivation and its
candidate verify. ``family="minhash"`` (default, jaccard verify) and
``family="simhash"`` (62-bit signature, 4x16-bit chunk bands, hamming
verify — the banded structure of dedup_simhash) share every contract
below, and the store-contract tests parameterize over both.

``dedup_incremental_minhash`` (dedup.py) is the right QUERY shape for
ingest-time near-dup checks (batch-vs-corpus, never corpus-vs-corpus),
but it rebuilds the corpus-side signatures inline on every call — at
@x100 that build is 10.1s of its 11.3s total and is the op's entire
6.3×/decade growth term. A real pipeline builds the corpus signatures
ONCE as a lake table and every ingest batch probes it; probe cost then
scales with the BATCH, not the corpus. These two maintenance ops are
that store, mirroring ``sources/maintenance.py::compact_zone``'s
posture (library function + pytest contract, driver-side work strictly
bounded metadata):

- ``build_signature_store`` — one job over the corpus: exact-dup
  COLLAPSE first (one rep per distinct text — _collapse_exact, the
  same contract every inline banded op carries; members persisted as
  star edges to ``<store>/edges``), then banded portable minhash
  signatures over the reps (the exact arithmetic of
  ``dedup_minhash_portable``; reference parity target
  /root/reference/silver.py:36's read-then-derive staging, re-expressed
  as a persisted derived table) written to ``<store>/bands``
  partitioned by ``(band, sig_shard)``, plus the per-rep shingle-code
  arrays (the exact-verify sidecar) to ``<store>/codes`` partitioned by
  ``id_shard``. The per-bucket membership rank (the corpus-side
  ``_LSH_BUCKET_CAP`` every banded structure applies) is computed at
  build time and STORED, so probes filter ``rn <= cap`` instead of
  re-windowing the corpus. Collapse-first is a RECALL property under
  the cap: a dup-heavy corpus would otherwise fill capped buckets with
  exact twins and crowd distinct near-dups out of candidacy.
- ``probe_signature_store`` — batch-vs-store only: signatures are
  computed for the BATCH inline (its size is the cost budget), the
  store is read partition-pruned to the batch's ``(band, sig_shard)``
  set and never shuffled (the batch side broadcasts), and the exact
  jaccard verify is a columnar scan-and-probe of the code sidecar
  against the broadcast candidates; verified rep matches expand to
  member pairs through the star edges (identical text ⇒ identical
  score), so probe output is complete over the UNcollapsed corpus. No
  corpus-side signature computation anywhere.
- ``append_signature_batch`` — the ingest loop's accept step: appends
  a batch's signatures with base-offset ranks (valid because ingest
  doc_ids are monotonic, asserted against the meta watermark), codes
  before bands before meta so every torn state is benign or detected.

Scale notes (the 100 TB contract):
- build is the linear one-pass job you run per compaction cycle; the
  band window is its only wide stage.
- probe's driver-side collect is a BOUNDED work-list, not data:
  ≤ bands×shards (512) shard keys — same class as plans/layers.py's
  one-row-per-partition list.
- probe reads shrink with batch locality (a batch touching few shards
  prunes most of the store); worst case it SCANS the matching band
  partitions (columnar longs, IO-speed) but never folds, windows, or
  shuffles them. The @x100 sweep row in EXPLAINS.md quantifies this:
  probe stays ~flat while the inline query's corpus signature build
  grows a decade per decade.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.jvmrows import empty_df, one_row_df
from .dedup import (
    _LSH_BUCKET_CAP,
    _MH_BANDS,
    _SH_CHUNKS,
    _SH_KEEP,
    _collapse_exact,
    _hamming,
    _keep_jaccard,
    _portable_minhash_tables,
    _simhash_bands,
    simhash_df,
    spread_to_cores,
)

N_SIG_SHARDS = 64  # band_sig shards per band → n_bands×64 prunable partitions
N_ID_SHARDS = 64  # doc_id shards for the verify sidecar


# --- family descriptors -------------------------------------------------------
# The store machinery — shard layout, stored per-bucket rank, meta
# watermark, torn-append detection, base-offset append ranks — is
# signature-agnostic. A family contributes exactly two things: how to
# derive (sidecar, banded) tables from (doc_id, text), and how to
# verify a candidate pair from the two sidecars. Everything else is
# shared, so the crash-consistency contract is proven once and holds
# for every family (the round-8 tests parameterize over this dict).


def _simhash_store_tables(
    docs: DataFrame, cache: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(sidecar, banded) for the simhash family: sidecar = (doc_id,
    simhash) — the 62-bit signature the hamming verify reads; banded =
    (doc_id, band, band_sig) from the 16-bit chunk split (the exact
    arithmetic of dedup.dedup_simhash)."""
    sh = simhash_df(
        spread_to_cores(docs.select("doc_id", "text").filter("text IS NOT NULL"))
    )
    if cache:
        sh = sh.cache()
    return sh, _simhash_bands(sh)


_STORE_KEYS = ("new_id", "old_id")


def _store_join(
    cand: DataFrame, shb: DataFrame, codes: DataFrame, col: str
) -> DataFrame:
    """Both sides' sidecar ``col`` joined onto the (new_id, old_id)
    candidates as ``_xa`` / ``_xb``: the batch side broadcast into the
    candidates, and that whole batch-sized side broadcast against the
    scanned store sidecar, which is never shuffled."""
    ha = shb.selectExpr("doc_id AS new_id", f"{col} AS _xa")
    hb = codes.selectExpr("doc_id AS old_id", f"{col} AS _xb")
    return F.broadcast(cand.join(F.broadcast(ha), "new_id")).join(hb, "old_id")


def _verify_minhash(cand: DataFrame, shb: DataFrame, codes: DataFrame) -> DataFrame:
    """Exact-jaccard verify over shingle-code arrays (dedup._keep_jaccard)."""
    return _keep_jaccard(_store_join(cand, shb, codes, "hs"), _STORE_KEYS)


def _verify_simhash(cand: DataFrame, shb: DataFrame, codes: DataFrame) -> DataFrame:
    """Hamming verify at the chunk-count guaranteed-recall radius
    (<= _SH_CHUNKS - 1, the pigeonhole bound — see dedup.dedup_simhash)."""
    return (
        _hamming(_store_join(cand, shb, codes, "simhash"))
        .filter(_SH_KEEP)
        .select(*_STORE_KEYS, "hamming")
    )


_FAMILIES: dict[str, dict] = {
    "minhash": {
        "tables": _portable_minhash_tables,
        "n_bands": _MH_BANDS,
        "verify": _verify_minhash,
        "empty_schema": "new_id long, old_id long, jaccard_shingles double",
    },
    "simhash": {
        "tables": _simhash_store_tables,
        "n_bands": _SH_CHUNKS,
        "verify": _verify_simhash,
        "empty_schema": "new_id long, old_id long, hamming int",
    },
}


def shard_keys_of(banded: DataFrame) -> list[int]:
    """The bounded (band, sig_shard) work-list of a banded batch table
    (needs band + band_sig columns), as flat composite keys
    ``band * N_SIG_SHARDS + sig_shard`` — THE shared encoding for
    partition-pruning the bands layout. Probe, append, and the unified
    loop all collect through here: the encoding must stay bit-identical
    across them for pruning to stay correct, so it lives in exactly one
    place. One driver round-trip, ≤ n_bands × N_SIG_SHARDS rows."""
    return [
        r["key"]
        for r in banded.select(
            (
                F.col("band") * N_SIG_SHARDS
                + F.pmod("band_sig", F.lit(N_SIG_SHARDS))
            ).alias("key")
        )
        .distinct()
        .collect()
    ]


def _bands_path(store_path: str) -> str:
    return os.path.join(store_path, "bands")


def _codes_path(store_path: str) -> str:
    return os.path.join(store_path, "codes")


def _edges_path(store_path: str) -> str:
    return os.path.join(store_path, "edges")


_EDGES_SCHEMA = "rep_id long, member_id long"


def _read_edges(spark: SparkSession, store_path: str) -> DataFrame:
    """The store's exact-dup star edges (rep_id, member_id) — written
    by build/append alongside the signatures. Explicit schema because
    the table is legitimately EMPTY (a dup-free corpus writes zero edge
    rows → a dir with no part files, which schema inference refuses);
    a missing dir (store built before edges existed) reads as empty
    too, degrading to rep-only probe output rather than failing."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(_EDGES_SCHEMA).parquet(_edges_path(store_path))
    except AnalysisException:
        return empty_df(spark, _EDGES_SCHEMA)


def build_signature_store(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    family: str = "minhash",
    watermark_hi: int | None = None,
    lease_ttl_s: float | None = 900.0,
    _fence=None,
) -> None:
    """One corpus pass → three partitioned lake tables (see module doc).

    Mutates under the store's single-writer lease by default
    (sources/lease.py) — two concurrent builders, or a builder racing
    an appender, now fail up front with LeaseHeldError instead of
    relying on the orphan scan to detect the tear afterwards.
    ``lease_ttl_s=None`` restores the unguarded legacy behavior.

    ``docs`` needs (doc_id, text). Overwrites any prior store — rebuild
    runs on the compaction cadence, not per ingest. ``family`` picks
    the signature scheme (minhash jaccard / simhash hamming); the
    layout, rank, watermark, and crash semantics are identical.

    Collapse-first (same contract as every inline banded op,
    dedup.py::_collapse_exact): exact-duplicate texts are collapsed to
    one representative BEFORE banding, so twins can't fill capped
    buckets and crowd genuinely-distinct near-dups out of probe
    candidacy; the members are persisted as star edges
    (``<store>/edges``) and probes expand verified rep matches back to
    member pairs (identical text ⇒ identical signature ⇒ identical
    verify score), so output completeness is unchanged.

    ``watermark_hi``: optional floor for the meta watermark. A
    compaction REBUILD from the accepted corpus may not contain the
    max doc_id ever committed (a batch whose tail docs were all
    quarantined) — regressing the watermark below a committed
    watermark_hi would let a crash-redelivered batch past the ingest
    loop's replay short-circuit and re-probe a store containing its
    own accepted docs. The build therefore also PRESERVES any existing
    store watermark by default: meta = max(corpus max, existing
    watermark, watermark_hi).
    """
    if lease_ttl_s is not None:
        from ..sources.lease import fence_for, writer_lease

        with writer_lease(
            spark, store_path, owner="build_signature_store", ttl_s=lease_ttl_s
        ) as token:
            # fencing check runs immediately before the commit-point
            # meta write: a build that outlives its TTL aborts like a
            # pre-commit crash instead of committing unfenced against a
            # successor's concurrent mutation
            return build_signature_store(
                spark,
                docs,
                store_path,
                family,
                watermark_hi,
                lease_ttl_s=None,
                _fence=fence_for(spark, store_path, token),
            )
    from pyspark.sql import Window

    fam = _FAMILIES[family]
    # watermark floor, read BEFORE the overwrite clobbers meta. Only a
    # MISSING meta (fresh build) may skip the floor — a present-but-
    # unreadable meta must fail loudly here: silently treating a
    # corrupt store as fresh would regress the committed watermark,
    # re-open the ingest loop's replay window, and quarantine a
    # redelivered batch as self-duplicates with no error anywhere.
    from pyspark.errors import AnalysisException

    floor = -1 if watermark_hi is None else int(watermark_hi)
    try:
        floor = max(floor, read_store_watermark(spark, store_path))
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
    if _fence is not None:
        # fence BEFORE the destructive static overwrites below, not
        # only before the meta write: a rebuild that already lost its
        # lease must not erase a successor's committed rows — rows
        # MISSING BELOW the watermark are the one torn state no
        # orphan-above scan can detect. A lapse DURING the overwrites
        # remains the TTL hold-guarantee boundary (as with any TTL
        # lease without renewal); the pre-meta fence below narrows it
        # to the write window itself.
        _fence()
    reps, edges = _collapse_exact(docs.select("doc_id", "text"))
    sh, bands = fam["tables"](reps)
    # per-bucket membership rank STORED so probes apply the corpus-side
    # cap with a filter instead of re-windowing the corpus every batch
    w = Window.partitionBy("band", "band_sig").orderBy("doc_id")
    # repartition ON the layout keys before the partitioned write: one
    # task per partition dir → one file per dir (≤ 8×64 + 64 files
    # total) instead of files×tasks tiny-file spray, which made probe
    # latency file-open-bound (first cut measured 6.5s probe at sf0.1,
    # ~all of it footer overhead). Very large corpora re-file via
    # sources/maintenance.py::compact_zone on the usual cadence.
    # partitionOverwriteMode=static PER-WRITE on both partitioned build
    # writes: the session default is dynamic, under which a rebuild
    # only replaces dirs present in the NEW corpus — a (band, sig_shard)
    # or id_shard dir the shrunk corpus no longer touches would keep the
    # old store's rows, and rebuilds preserve the watermark floor, so
    # those deleted docs would stay probe-visible (same hazard as the
    # IVF cells rebuild; see build_ivf_index).
    (
        bands.withColumn("rn", F.row_number().over(w))
        .withColumn("sig_shard", F.pmod("band_sig", F.lit(N_SIG_SHARDS)))
        .repartition(fam["n_bands"] * N_SIG_SHARDS, "band", "sig_shard")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("band", "sig_shard")
        .parquet(_bands_path(store_path))
    )
    (
        sh.withColumn("id_shard", F.pmod("doc_id", F.lit(N_ID_SHARDS)))
        .repartition(N_ID_SHARDS, "id_shard")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("id_shard")
        .parquet(_codes_path(store_path))
    )
    # has_data for meta: a zero-row partitioned write leaves NO data
    # files (the dirs aren't schema-readable), and that's decided by sh
    # being empty — which docs being non-empty does NOT imply (all-null
    # texts, all-<3-token texts). Checked on the cached sh, so it's a
    # cache hit, not a recompute.
    has_data = sh.limit(1).count() > 0
    sh.unpersist()
    # exact-dup star edges: no partitionBy (an empty table must still
    # leave a readable dir — _read_edges reads with explicit schema);
    # probes broadcast the tiny verified side against this scan
    (
        edges.select(
            F.col("doc_a").alias("rep_id"), F.col("doc_b").alias("member_id")
        )
        .repartition(N_ID_SHARDS)
        .write.mode("overwrite")
        .parquet(_edges_path(store_path))
    )
    # meta: the append contract's watermark (1-row table) — over the
    # FULL input (members and null-text docs included), floored by any
    # pre-rebuild watermark / explicit watermark_hi. pending_hi=null: a
    # fresh build is by definition a clean commit point.
    hi = docs.agg(F.max("doc_id").alias("hi")).collect()[0]["hi"]
    if _fence is not None:
        _fence()  # abort pre-commit if the lease lapsed mid-build
    _write_meta(
        spark,
        store_path,
        max(int(hi if hi is not None else -1), floor),
        has_data=has_data,
    )


def _meta_path(store_path: str) -> str:
    return os.path.join(store_path, "meta")


def read_store_watermark(spark: SparkSession, store_path: str) -> int:
    """The store's committed high-water doc_id (-1 = never committed
    anything). Rows above the watermark are uncommitted append
    leftovers and are invisible to probes; meta is written last, so
    this is the store's one source of truth for what an append
    actually committed. NOTE the watermark alone no longer implies
    data files exist: a rebuild from an empty accepted corpus under a
    watermark FLOOR leaves watermark >= 0 with ZERO band/code files —
    ``has_data`` in meta (see _read_sig_meta) is the flag consumers
    must branch on before touching the data dirs."""
    return _read_sig_meta(spark, store_path)[0]


def _read_sig_meta(
    spark: SparkSession, store_path: str
) -> tuple[int, bool, int | None, bool]:
    """(watermark, has_data, pending_hi, legacy).

    - ``has_data``: bands/codes hold at least one data file — the flag
      probe/append branch on instead of ``watermark >= 0`` (a floored
      rebuild from an empty corpus has watermark >= 0 and zero files;
      pre-flag stores default to the old watermark rule, which was
      exact for them).
    - ``pending_hi``: the append journal — non-null means an append
      declared intent and never committed (crashed mid-write); the
      next append must run the orphan recovery scan before trusting
      the data dirs. Null = last append committed cleanly.
    - ``legacy``: meta predates the journal column — torn state can't
      be ruled out from meta alone, so the next append runs the
      recovery scan once (its commit upgrades the schema).
    """
    row = spark.read.parquet(_meta_path(store_path)).collect()[0]
    wm = int(row["max_doc_id"])
    fields = row.__fields__
    has_data = bool(row["has_data"]) if "has_data" in fields else (wm >= 0)
    legacy = "pending_hi" not in fields
    pending = None if legacy or row["pending_hi"] is None else int(row["pending_hi"])
    return wm, has_data, pending, legacy


def _write_meta(
    spark: SparkSession,
    store_path: str,
    max_doc_id: int,
    has_data: bool = True,
    pending_hi: int | None = None,
) -> None:
    # JVM-side 1-row build (functions/jvmrows.py): a createDataFrame +
    # coalesce(1) meta write cost a flat ~4.5s of serialized
    # Python-partition round-trips, × intent+commit × both stores per
    # ingest micro-batch — the loop's dominant fixed cost in round 9
    # atomic swap (round 11), not a bare overwrite: mode("overwrite")
    # deletes meta and rebuilds it over a whole Spark job, so every
    # intent/commit write opened a crash window where meta was GONE on
    # a store full of data (the advisor's orphaned-store hazard). The
    # write-then-rename swap shrinks that window to two driver-side
    # renames; the curation loop's orphan refusal remains as defense
    # for object stores where rename is not atomic.
    from ..plans.metadata import _atomic_overwrite

    _atomic_overwrite(
        one_row_df(
            spark,
            (
                int(max_doc_id),
                bool(has_data),
                None if pending_hi is None else int(pending_hi),
            ),
            "max_doc_id long, has_data boolean, pending_hi long",
        ),
        _meta_path(store_path),
    )


def _orphans_above(
    spark: SparkSession, path: str, id_col: str, watermark: int
) -> bool:
    """True if ``path`` holds rows with ``id_col`` above ``watermark``
    — the torn-append recovery scan. The predicate pushes to parquet
    row-group stats (metadata-speed); a file-less or missing dir reads
    as no orphans (zero files ⇒ zero rows, whatever meta claims)."""
    from pyspark.errors import AnalysisException

    try:
        return bool(
            spark.read.parquet(path)
            .filter(F.col(id_col) > watermark)
            .limit(1)
            .count()
        )
    except AnalysisException as e:
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
            or "Unable to infer schema" in msg
        ):
            return False
        raise


def append_signature_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    watermark_hi: int | None = None,
    family: str = "minhash",
    tables: tuple[DataFrame, DataFrame] | None = None,
    shard_keys: list[int] | None = None,
    lease_ttl_s: float | None = 900.0,
    _fence=None,
) -> None:
    """Append an ingested batch's signatures to an existing store —
    the accept step of the ingest loop (probe → filter dups → append)
    — without the corpus rebuild.

    Contract: batch doc_ids are strictly greater than every stored
    doc_id (monotonic ingest sequence, asserted against the store's
    meta table). That ordering is what keeps the STORED per-bucket
    rank valid under append: new members always rank after existing
    ones, so existing rows never re-rank — the new rows' ranks are
    base-offset row_numbers, where the per-bucket base comes from a
    scan pruned to the batch's own shard set (batch-bounded, not
    corpus-bounded). Single-writer maintenance op, like compact_zone;
    rebuild on the compaction cadence still applies for re-filing.

    ``watermark_hi``: the ingest batch's max doc_id INCLUDING rejected
    docs. The meta watermark advances to max(appended, watermark_hi),
    so a batch whose tail docs were all quarantined still marks itself
    fully committed — the replay short-circuit in the ingest loop keys
    on the FULL batch range, and without this a replayed batch whose
    max doc was a dup would re-probe against a store that now contains
    its own accepted docs (everything re-flagged as self-duplicate).

    ``tables``: optional precomputed ``(sidecar, banded)`` for the
    batch — the ingest loop's signature-reuse hook. The probe already
    derived (and persisted) the batch's signatures; recomputing them
    here was a measured ~1.4s/batch pure-recompute term. Contract when
    provided: the batch is already exact-collapsed (no two rows share
    a text — the loop's intra-batch collapse guarantees this), and
    ``tables`` was derived from a SUPERSET of the batch by the same
    family (rows are filtered to the batch's doc_ids here, so passing
    the pre-probe batch's tables is exact).

    Torn-append detection (the journal): meta carries ``pending_hi``,
    written as an INTENT record before the first data write and
    cleared by the commit write after the last. A clean store
    (pending null) skips the data-dir orphan scans entirely — the
    round-9 loop paid ~2.7s/batch of parquet footer metadata reads
    re-proving every batch that no crash had ever happened, a term
    that grows with store file count. A set ``pending_hi`` (or a
    legacy meta predating the column) triggers the recovery scan once:
    orphan rows above the watermark ⇒ refuse loudly (rebuild is the
    recovery, as before); none ⇒ the crash landed before any data
    write, and the append proceeds.

    Runs under the store's single-writer lease by default (same
    contract as build_signature_store; ``lease_ttl_s=None`` opts out),
    turning the "single-writer maintenance op" assumption above from a
    convention into an enforced invariant.
    """
    if lease_ttl_s is not None:
        from ..sources.lease import fence_for, writer_lease

        with writer_lease(
            spark, store_path, owner="append_signature_batch", ttl_s=lease_ttl_s
        ) as token:
            return append_signature_batch(
                spark,
                batch,
                store_path,
                watermark_hi,
                family,
                tables,
                shard_keys,
                lease_ttl_s=None,
                _fence=fence_for(spark, store_path, token),
            )
    from pyspark.sql import Window

    fam = _FAMILIES[family]
    lo_hi = batch.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    stored_max, has_data, pending, legacy = _read_sig_meta(spark, store_path)
    # torn-append detection FIRST — before even the empty-batch path: a
    # crash mid-append leaves rows above the meta watermark (meta is
    # written LAST). A blind retry would pass the monotonicity check
    # and append the same rows again — duplicate band rows with freshly
    # offset ranks would inflate buckets past the cap and silently
    # evict genuinely distinct docs from probe candidacy. The journal
    # (docstring above) confines the orphan scans to the recovery path;
    # _orphans_above treats file-less dirs as clean, so the scan is
    # safe even on a has_data=False store whose crashed append managed
    # to write some files. The empty-batch path below MUST sit behind
    # this check: it advances the watermark, and advancing past a
    # crashed append's orphan rows would legitimize them silently.
    if pending is not None or legacy:
        for sub, col in (
            (_bands_path(store_path), "doc_id"),
            (_codes_path(store_path), "doc_id"),
            (_edges_path(store_path), "member_id"),
        ):
            # edges: member_id >= rep_id always, so any torn edge row
            # from a crashed append has member_id above the mark
            if _orphans_above(spark, sub, col, stored_max):
                raise ValueError(
                    f"torn append detected: {sub} holds {col}s above the "
                    f"meta watermark {stored_max} — a previous append "
                    "crashed mid-write; rebuild the store"
                )
    if lo_hi["lo"] is None:
        # nothing to append (e.g. an all-duplicates ingest batch) — but
        # still advance the watermark so the batch reads as committed.
        # The write also clears a recovery-vetted journal / upgrades
        # legacy meta (both proven clean just above) — without that, a
        # no-advance empty append would leave pending set and every
        # later append would re-pay the recovery scans.
        new_wm = stored_max
        if watermark_hi is not None and watermark_hi > stored_max:
            new_wm = int(watermark_hi)
        if new_wm != stored_max or pending is not None or legacy:
            if _fence is not None:
                _fence()  # this write advances the watermark: fence it
            _write_meta(spark, store_path, new_wm, has_data=has_data)
        return
    if lo_hi["lo"] <= stored_max:
        raise ValueError(
            f"append contract violated: batch min doc_id {lo_hi['lo']} "
            f"<= stored max {stored_max} (ingest ids must be monotonic)"
        )
    hi = int(lo_hi["hi"])
    if watermark_hi is not None:
        hi = max(hi, int(watermark_hi))
    if _fence is not None:
        # EARLY fence, before the intent record and any data write: an
        # abort here is perfectly clean — nothing was written, the
        # retry replays as if the append never started. The late fence
        # before the commit write (below) still guards the slow-append
        # case, but an abort THERE leaves the journal's torn state and
        # the retry refuses (rebuild recovers) — identical to a
        # mid-append crash, which is the documented semantics for any
        # failure after the first data write.
        _fence()
    # intent record: from here to the commit write, a crash is
    # detectable from meta alone
    _write_meta(
        spark, store_path, stored_max, has_data=has_data, pending_hi=hi
    )
    # collapse-first, batch-internal: same recall contract as build.
    # Cross-batch twins of STORED texts stay their own rep here — in the
    # ingest topology the probe already quarantined them (exact twins
    # always verify: identical codes ⇒ jaccard 1.0 / hamming 0), so
    # accepted appends contain none by construction; a direct library
    # append of unprobed twins merely costs a bucket slot, never recall.
    if tables is None:
        reps_b, edges_b = _collapse_exact(batch.select("doc_id", "text"))
        shb, bandsb = fam["tables"](reps_b)
        owns_cache = True
    else:
        shb, bandsb = tables
        ids = F.broadcast(batch.select("doc_id"))
        shb = shb.join(ids, "doc_id", "leftsemi")
        bandsb = bandsb.join(ids, "doc_id", "leftsemi")
        edges_b = None  # pre-collapsed batch: no intra-batch twins
        owns_cache = False
    bandsb = bandsb.withColumn(
        "sig_shard", F.pmod("band_sig", F.lit(N_SIG_SHARDS))
    )
    w = Window.partitionBy("band", "band_sig").orderBy("doc_id")
    new_bands = bandsb.withColumn("_rn0", F.row_number().over(w))
    if has_data:
        # shard_keys: the loop passes the PROBE's key set (collected
        # once per batch — a superset of this post-filter batch's, so
        # pruning stays correct, just possibly wider); standalone
        # appends collect their own
        if shard_keys is None:
            shard_keys = shard_keys_of(bandsb)
        # rank bases must be BATCH-bounded, not store-bounded: shard
        # pruning alone stops pruning once a batch touches most shards
        # (200 docs × 8 bands ≈ 379/512 shards — measured a store-wide
        # 1.6M-row groupBy shuffle per append at @x10). The broadcast
        # semi-join narrows the pruned scan to the batch's EXACT
        # (band, band_sig) buckets before any aggregation, so the
        # groupBy input is ≤ batch_buckets × bucket depth at any corpus
        # size.
        batch_buckets = F.broadcast(bandsb.select("band", "band_sig").distinct())
        base = (
            spark.read.parquet(_bands_path(store_path))
            .filter(
                (F.col("band") * N_SIG_SHARDS + F.col("sig_shard")).isin(
                    shard_keys
                )
                if shard_keys
                else F.lit(False)
            )
            .join(batch_buckets, ["band", "band_sig"], "leftsemi")
            .groupBy("band", "band_sig")
            .agg(F.max("rn").alias("_base"))
        )
        new_bands = new_bands.join(base, ["band", "band_sig"], "left")
    else:  # bootstrap append into an empty store: every rank starts at 0
        new_bands = new_bands.withColumn("_base", F.lit(None).cast("int"))
    new_bands = new_bands.withColumn(
        "rn", F.coalesce("_base", F.lit(0)) + F.col("_rn0")
    ).select("doc_id", "band", "band_sig", "rn", "sig_shard")
    # write order is the crash-consistency story: codes and edges FIRST
    # (a codes/edges-present, bands-missing torn state is benign — the
    # new docs are simply not yet searchable, exactly as before the
    # append; torn edges expand nothing because their reps have no band
    # rows), bands second (the reverse order would generate candidates
    # whose verify rows are missing: silent recall loss), meta watermark
    # LAST (so any torn state is detectable as rows above the watermark
    # — see the torn-append checks on entry).
    # append task counts scale with the CLUSTER, capped by the layout —
    # not the layout constant itself: hash partitioning on the dir keys
    # keeps the one-file-per-touched-dir guarantee at ANY task count
    # (each dir's rows land in exactly one task), while a fixed
    # repartition(512) launched 512 near-empty tasks per tiny ingest
    # batch (measured 18.8s of a 200-doc append — task-launch overhead,
    # not data). Build keeps the full fan-out (one task per dir) for
    # its one-file-per-dir layout; appends are the per-batch hot path.
    par = max(batch.sparkSession.sparkContext.defaultParallelism, 8)
    (
        shb.withColumn("id_shard", F.pmod("doc_id", F.lit(N_ID_SHARDS)))
        .repartition(min(N_ID_SHARDS, par), "id_shard")
        .write.mode("append")
        .partitionBy("id_shard")
        .parquet(_codes_path(store_path))
    )
    if edges_b is not None:
        # pre-collapsed (tables=) batches carry no intra-batch twins —
        # an empty edges append would be a pure no-op job, skipped
        (
            edges_b.select(
                F.col("doc_a").alias("rep_id"), F.col("doc_b").alias("member_id")
            )
            .repartition(min(N_ID_SHARDS, par))
            .write.mode("append")
            .parquet(_edges_path(store_path))
        )
    (
        new_bands.repartition(
            min(fam["n_bands"] * N_SIG_SHARDS, par), "band", "sig_shard"
        )
        .write.mode("append")
        .partitionBy("band", "sig_shard")
        .parquet(_bands_path(store_path))
    )
    if not has_data:
        # a bootstrap append into a file-less store: flip the flag only
        # if this batch actually wrote signature rows (an all-null or
        # all-short-text batch writes none). Cache hit when the caller
        # provided tables; cheap cached check otherwise.
        has_data = shb.limit(1).count() > 0
    if owns_cache:
        shb.unpersist()
    if _fence is not None:
        # fencing check before commit: if the lease lapsed mid-append, a
        # successor may already be mutating — abort here and the rows
        # just written sit above the (unadvanced) watermark, exactly the
        # torn state the entry-point journal recovery already handles
        _fence()
    # commit: watermark advances, intent journal clears
    _write_meta(spark, store_path, hi, has_data=has_data)


def probe_signature_store(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    family: str = "minhash",
    tables: tuple[DataFrame, DataFrame] | None = None,
    shard_keys: list[int] | None = None,
) -> DataFrame:
    """(new_id, old_id, <score>) — batch docs near-duplicating a
    stored-corpus doc; the persisted-store twin of
    ``dedup_incremental_minhash``'s inline query (pytest pins the
    outputs equal). ``batch`` needs (doc_id, text). The score column is
    the family's verify metric: ``jaccard_shingles`` (minhash) or
    ``hamming`` (simhash) — must match the family the store was built
    with (the layout is identical, the signatures are not).

    Reads only COMMITTED store rows (doc_id <= meta watermark): rows a
    crashed append left above the watermark are invisible, so a replay
    of the same batch probes the identical corpus the original run saw
    — without this, a crash between the sink writes and the append made
    every accepted doc a "duplicate" of its own uncommitted signatures
    on replay. cache=False: the probe runs inside long-lived streaming
    loops; a per-call cache here leaked one pinned DataFrame per
    micro-batch (the signature recompute it buys is a map-only
    projection over the batch).

    ``tables``: optional precomputed ``(sidecar, banded)`` for the
    batch — callers that consume the signatures more than once (the
    unified loop probes, then appends the survivors) derive them once,
    persist, and pass them here; lifetime stays with the caller. The
    same superset contract as append_signature_batch: rows are
    filtered to the batch's doc_ids here, so tables derived from a
    superset of the batch probe exactly (without the filter, a
    superset's extra docs would emit phantom evidence rows for ids not
    in the batch)."""
    fam = _FAMILIES[family]
    watermark, has_data, _, _ = _read_sig_meta(spark, store_path)
    if not has_data:
        # file-less store (never built with data, or rebuilt from an
        # empty accepted corpus under a watermark floor): nothing to
        # duplicate against — and the data dirs hold zero files (not
        # schema-readable), so short-circuit on the meta flag, never
        # the watermark (a floored empty store has watermark >= 0)
        return empty_df(spark, fam["empty_schema"])
    if tables is not None:
        ids = F.broadcast(batch.select("doc_id"))
        shb = tables[0].join(ids, "doc_id", "leftsemi")
        bandsb = tables[1].join(ids, "doc_id", "leftsemi")
    else:
        shb, bandsb = fam["tables"](batch, cache=False)

    # bounded work-list collect #1: the batch's (band, sig_shard) set —
    # ≤ 8×64 rows — prunes the store scan to matching partitions. One
    # FLAT IN-list over a composite of the two partition columns: an
    # OR-chain of 512 conjunctions nests the expression tree 512 deep
    # and overflows the plan-conversion stack; the composite references
    # only partition columns, so partition pruning still applies.
    # ``shard_keys``: the loop collects this set once per batch and
    # shares it with the append (one driver round-trip instead of two).
    if shard_keys is None:
        shard_keys = shard_keys_of(bandsb)
    store_bands = (
        spark.read.parquet(_bands_path(store_path))
        .filter(
            (F.col("band") * N_SIG_SHARDS + F.col("sig_shard")).isin(shard_keys)
            if shard_keys
            else F.lit(False)
        )
        .filter(F.col("rn") <= _LSH_BUCKET_CAP)  # corpus-side cap, pre-ranked
        .filter(F.col("doc_id") <= watermark)  # committed rows only
    )
    # batch side broadcasts (its size is the cost budget); the store is
    # scanned pruned, joined in place, never shuffled
    cand = (
        F.broadcast(
            bandsb.select(
                F.col("doc_id").alias("new_id"), "band", "band_sig"
            )
        )
        .join(store_bands, ["band", "band_sig"])
        .select("new_id", F.col("doc_id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    # verify sidecar: scanned and probed via the broadcast candidate
    # side. (An earlier cut collected the candidates' id_shard set to
    # prune this scan, which forced a cand .cache() that leaked across
    # the per-batch ingest loop — and pruned nothing in practice: any
    # non-trivial batch touches all 64 shards. The columnar
    # scan-and-probe IS the documented worst case; the flatness-sweep
    # numbers were measured with the scan effectively unpruned.)
    codes = spark.read.parquet(_codes_path(store_path)).filter(
        F.col("doc_id") <= watermark  # committed rows only
    )
    verified = fam["verify"](cand, shb, codes)
    # star-edge expansion: the store is collapse-first (build/append
    # band one rep per distinct text), so a verified (new, rep) match
    # stands for every exact member of rep's text too — identical text
    # ⇒ identical signature ⇒ identical verify score. Broadcast the
    # tiny verified side against the edges scan (same worst-case class
    # as the codes scan: columnar longs, no shuffle).
    score_col = verified.columns[2]
    edges = _read_edges(spark, store_path).filter(
        F.col("member_id") <= watermark  # committed rows only
    )
    member_hits = (
        F.broadcast(verified)
        .join(edges, verified["old_id"] == edges["rep_id"])
        .select("new_id", F.col("member_id").alias("old_id"), score_col)
    )
    return verified.unionByName(member_hits)
