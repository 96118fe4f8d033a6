"""Operator golden tests — the non-SQL-expressible ops (minhash, simhash,
ANN) that only get the driver's rows-only check, plus plan-shape
assertions for the scale posture (broadcasts, pushdown)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from weather_etl_pipeline_spark.catalog import load_table
from weather_etl_pipeline_spark.operators.dedup import (
    dedup_jaccard_pairs,
    dedup_minhash_lsh,
    minhash_signatures,
    simhash_df,
)
from weather_etl_pipeline_spark.operators.multimodal import multimodal_featurize
from weather_etl_pipeline_spark.operators.simsearch import (
    simsearch_ann_lsh,
    simsearch_knn_bruteforce,
)


def test_minhash_lsh_finds_exact_duplicates(spark):
    """Exact-duplicate recall under the collapse-first contract: every
    member of an exact-dup cluster must be connected to its cluster in
    the output edge set (star edges guarantee this at ANY multiplicity
    — including clusters larger than the LSH bucket cap, where the old
    uncollapsed pipeline silently dropped the tail members)."""
    # sf0.1, not SF_SMOKE: sf0.001/sf0.01 contain no duplicate texts,
    # which made this test vacuously green; sf0.1 carries real dup
    # groups and the guard below keeps it honest if fixtures change
    sf = "/root/testdata/sf0.1"
    docs = load_table(spark, sf, "documents")
    dup_groups = (
        docs.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"), F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .collect()
    )
    assert dup_groups, "no duplicate texts in fixture — test is vacuous"
    edges = [
        (r["doc_a"], r["doc_b"], r["jaccard_shingles"])
        for r in dedup_minhash_lsh(spark, sf).collect()
    ]
    # union-find over the emitted edges: the dup relation is the
    # transitive closure of the certificate
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in edges:
        parent[find(a)] = find(b)
    star = {(a, b) for a, b, j in edges if j == 1.0}
    for g in dup_groups:
        ids = sorted(g["ids"])
        roots = {find(i) for i in ids}
        assert len(roots) == 1, f"dup cluster {ids} not connected"
        # and the rep-star edges themselves must be present verbatim
        for m in ids[1:]:
            assert (ids[0], m) in star, f"missing star edge ({ids[0]}, {m})"


def test_lsh_recall_on_cluster_larger_than_bucket_cap(spark, tmp_path):
    """The round-6 advisor finding, reproduced and fixed: an exact-dup
    cluster LARGER than _LSH_BUCKET_CAP occupies the same ordered
    prefix of every band bucket, so pre-collapse the tail members (cap+)
    emitted zero pairs in ANY band and escaped dedup entirely. With
    exact-collapse-first, every member gets a star edge and a genuine
    near-dup of the cluster still pairs with the representative."""
    from weather_etl_pipeline_spark.operators.dedup import (
        _LSH_BUCKET_CAP,
        dedup_minhash_portable,
        dedup_simhash,
        dedup_simhash_portable,
    )

    n = _LSH_BUCKET_CAP + 16  # cluster strictly larger than the cap
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"  # high-jaccard near-dup of the cluster
    rows = [(i, base, "en", "web", len(base)) for i in range(n)]
    rows.append((n, near, "en", "web", len(near)))
    rows.append((n + 1, "completely unrelated text about spark plans", "en", "web", 43))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    for fn in (
        dedup_minhash_lsh,
        dedup_minhash_portable,
        dedup_simhash,
        dedup_simhash_portable,
        dedup_jaccard_pairs,  # collapse-first applies to the whole family
    ):
        edges = {(r[0], r[1]) for r in fn(spark, sf).collect()}
        # full star: rep 0 to EVERY member, including those past the cap
        missing = {(0, m) for m in range(1, n)} - edges
        assert not missing, f"{fn.__name__} lost cap-tail members: {sorted(missing)[:5]}"
        # the near-dup doc still pairs with the cluster representative
        # (jaccard 10/11 — asserted on the minhash paths; simhash's
        # hamming≤3 radius is deliberately tighter than one-token edits)
        if fn in (dedup_minhash_lsh, dedup_minhash_portable, dedup_jaccard_pairs):
            assert (0, n) in edges, f"{fn.__name__} lost the near-dup pair"
        # and the unrelated doc joins nothing
        assert not any(n + 1 in e for e in edges), f"{fn.__name__} false positive"


def test_minhash_signature_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    s1 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    s2 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert s1 == s2


def test_simhash_identical_docs_zero_hamming(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = simhash_df(docs)
    joined = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.text") == F.col("b.text"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
    )
    sh_a = sh.select(F.col("doc_id").alias("da"), F.col("simhash").alias("ha"))
    sh_b = sh.select(F.col("doc_id").alias("db"), F.col("simhash").alias("hb"))
    diff = (
        joined.join(sh_a, "da").join(sh_b, "db")
        .filter(F.col("ha") != F.col("hb"))
        .count()
    )
    assert diff == 0


def test_ann_lsh_recall_against_bruteforce(spark):
    """Bucketed ANN must recover a reasonable share of the true top-5.
    (Single-probe LSH on synthetic uniform-ish vectors — modest bar.)"""
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch_knn_bruteforce(spark, SF_SMOKE).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch_ann_lsh(spark, SF_SMOKE).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.2, f"ANN recall collapsed: {recall}"


def test_jaccard_pairs_symmetric_bound(spark):
    rows = dedup_jaccard_pairs(spark, SF_SMOKE).collect()
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in rows)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)


def test_multimodal_featurize_roundtrip(spark):
    """The Arrow→pandas→Arrow plumbing produces exact byte-level features."""
    docs = load_table(spark, SF_SMOKE, "documents")
    feats = {r["doc_id"]: r for r in multimodal_featurize(spark, SF_SMOKE).collect()}
    sample = docs.limit(5).collect()
    for row in sample:
        blob = row["text"].encode("utf-8")
        f = feats[row["doc_id"]]
        assert f["n_bytes"] == len(blob)
        assert f["header_sum"] == sum(blob[:16])
        assert f["format_guess"] == "bin"


def test_star_join_broadcasts_dimensions(spark):
    from weather_etl_pipeline_spark.operators.joins import star_join_revenue

    plan = star_join_revenue(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "dimension joins must broadcast"


def test_point_lookup_pushes_filters(spark):
    from weather_etl_pipeline_spark.operators.relational import filter_point_lookup

    plan = filter_point_lookup(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:200], (
        "equality predicate should reach the parquet scan"
    )


def test_ivf_kmeans_assignment_is_nearest(spark):
    """Every vector's assigned cell must be its true nearest centroid."""
    import numpy as np

    from weather_etl_pipeline_spark.functions.vectors import as_double
    from weather_etl_pipeline_spark.operators.ivf import build_ivf, kmeans_centroids

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    centroids = np.array(
        [r["centroid"] for r in kmeans_centroids(emb).orderBy("cell").collect()]
    )
    assigned = {r["vec_id"]: r["cell"] for r in build_ivf(spark, SF_SMOKE).collect()}
    vecs = {r["vec_id"]: np.array(r["e"]) for r in emb.collect()}
    for vid, v in list(vecs.items())[:100]:
        d = ((centroids - v) ** 2).sum(axis=1)
        assert assigned[vid] == int(d.argmin())


def test_ivf_search_recall(spark):
    from weather_etl_pipeline_spark.operators.ivf import simsearch_ivf_kmeans

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch_knn_bruteforce(spark, SF_SMOKE).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch_ivf_kmeans(spark, SF_SMOKE).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"


def test_describe_table_smoke(spark):
    from weather_etl_pipeline_spark.operators.views import describe_table

    rows = {r["col_name"]: r["data_type"] for r in describe_table(spark, SF_SMOKE, "orders").collect()}
    assert rows["o_orderkey"] == "bigint"
    assert rows["o_totalprice"] == "double"


def test_describe_matches_loaded_schema_all_tables(spark):
    """D-desc behavioral coverage: DESCRIBE output must equal the loaded
    DataFrame's schema (name, type, order) for every test table."""
    from weather_etl_pipeline_spark.catalog import load_table
    from weather_etl_pipeline_spark.operators.views import describe_table
    from weather_etl_pipeline_spark.schemas import TESTDATA_TABLES

    for name in TESTDATA_TABLES:
        described = [
            (r["col_name"], r["data_type"])
            for r in describe_table(spark, SF_SMOKE, name).collect()
            if r["col_name"] and not r["col_name"].startswith("#")
        ]
        assert described == load_table(spark, SF_SMOKE, name).dtypes, name


def test_dedup_clusters_match_union_find(spark):
    """Distributed label propagation must equal a driver-side union-find
    over the same edge set."""
    from weather_etl_pipeline_spark.operators.clusters import dedup_clusters
    from weather_etl_pipeline_spark.operators.dedup import dedup_jaccard_pairs

    edges = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_jaccard_pairs(spark, SF_SMOKE).collect()
    ]
    docs = [r["doc_id"] for r in load_table(spark, SF_SMOKE, "documents").select("doc_id").collect()]

    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {d: find(d) for d in docs}

    got = {r["doc_id"]: r["cluster"] for r in dedup_clusters(spark, SF_SMOKE).collect()}
    assert got == expected


def test_udtf_shingles_matches_builtin_plan(spark):
    """The Python UDTF and the built-in posexplode+lead shingle plan are
    independent implementations of the same spec — their per-doc
    shingle counts must agree exactly."""
    from weather_etl_pipeline_spark.operators.dedup import shingle_rows
    from weather_etl_pipeline_spark.operators.udfs import udtf_shingles

    via_udtf = {
        r["doc_id"]: r["n_shingles"]
        for r in udtf_shingles(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents")
    via_builtin = {
        r["doc_id"]: r["n"]
        for r in shingle_rows(docs).groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert via_udtf == via_builtin


def test_multimodal_frame_sampling_math(spark):
    """Frame sampling: every 4th 64-byte chunk, byte-exact."""
    from weather_etl_pipeline_spark.operators.multimodal import (
        FRAME_BYTES,
        multimodal_frame_sample_raw,
        resize_image,
    )
    import pytest as _pytest

    docs = {r["doc_id"]: r["text"] for r in load_table(spark, SF_SMOKE, "documents").limit(5).collect()}
    frames = {}
    for r in multimodal_frame_sample_raw(spark, SF_SMOKE).collect():
        frames.setdefault(r["doc_id"], {})[r["frame_idx"]] = bytes(r["frame"])
    for doc_id, text in docs.items():
        blob = text.encode("utf-8")
        expected = {
            i: blob[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
            for i in range(0, -(-len(blob) // FRAME_BYTES), 4)
        }
        assert frames.get(doc_id, {}) == expected
    # stub branch only when PIL is absent; with PIL installed the real
    # decode path raises its own error on truncated bytes (the full
    # real-codec matrix lives in tests/test_codecs.py)
    from weather_etl_pipeline_spark.operators import multimodal as _mm

    if _mm._pil_image is None:
        with _pytest.raises(NotImplementedError):
            resize_image(b"\x89PNG", 64, 64)


def test_asof_forward_picks_nearest_following(spark):
    """Forward as-of invariants: every non-null asof_ts is >= the left
    ts, and it is the MINIMUM matching purchase ts for that user."""
    from weather_etl_pipeline_spark.operators.asof import asof_join_next_purchase

    out = asof_join_next_purchase(spark, SF_SMOKE)
    bad = out.filter(F.col("asof_ts") < F.col("ts")).count()
    assert bad == 0
    ev = load_table(spark, SF_SMOKE, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    recheck = (
        out.join(
            purchases,
            (F.col("user_id") == F.col("p_user")) & (F.col("p_ts") >= F.col("ts")),
            "left",
        )
        .groupBy("event_id", "asof_ts")
        .agg(F.min("p_ts").alias("true_min"))
        .filter(
            ~(
                F.col("asof_ts").eqNullSafe(F.col("true_min"))
            )
        )
        .count()
    )
    assert recheck == 0


def test_asof_tolerance_ignores_null_carry_rows(spark):
    """A null-carry right row nearer to the left timestamp must not
    anchor the tolerance gap: the gap is measured against the row whose
    carry is actually returned. Here the returned carry sits 90s back
    (outside the 30s tolerance) while a null-carry row sits 1s back —
    the result must be NULL, not the out-of-tolerance carry."""
    import datetime as dt

    from weather_etl_pipeline_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 1, base + dt.timedelta(seconds=100))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, base + dt.timedelta(seconds=10), "far"),
            (1, base + dt.timedelta(seconds=99), None),
        ],
        "user_id long, ts timestamp, payload string",
    )
    out = asof_join(
        left,
        right,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        carry="payload",
        tolerance_seconds=30.0,
    ).collect()
    assert len(out) == 1
    assert out[0]["asof_payload"] is None
    # same shape within tolerance still matches
    ok = asof_join(
        left,
        right,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        carry="payload",
        tolerance_seconds=120.0,
    ).collect()
    assert ok[0]["asof_payload"] == "far"


def test_interpolation_matches_observations_and_fills_gaps(spark):
    """Observed buckets keep their (rounded) average; every grid row has
    a non-null interpolated value (grid spans min..max per key, so all
    gaps are interior); interpolated values sit within the neighbor
    value envelope."""
    from weather_etl_pipeline_spark.operators.timeseries import (
        timeseries_gapfill_hourly,
        timeseries_interpolate_linear,
    )

    interp = timeseries_interpolate_linear(spark, SF_SMOKE)
    assert interp.filter(F.col("value_interp").isNull()).count() == 0
    # observed buckets (n_events > 0) must agree with the ffill value
    # which equals the bucket average on observed rows
    ffill = timeseries_gapfill_hourly(spark, SF_SMOKE).select(
        F.col("user_id").alias("f_user"),
        F.col("hour").alias("f_hour"),
        F.col("n_events").alias("f_n"),
        "value_ffill",
    )
    joined = interp.join(
        ffill,
        (F.col("user_id") == F.col("f_user")) & (F.col("hour") == F.col("f_hour")),
    )
    mismatch = joined.filter(
        (F.col("f_n") > 0)
        & (F.abs(F.col("value_interp") - F.col("value_ffill")) > 1e-9)
    ).count()
    assert mismatch == 0


def test_levenshtein_blocked_one_row_per_block(spark):
    """Exactly one closest pair per populated (lang, len_bucket) block,
    and the reported distance is symmetric-bounded by the prefix length."""
    from weather_etl_pipeline_spark.operators.dedup import (
        _LEV_PREFIX,
        dedup_levenshtein_blocked,
    )

    out = dedup_levenshtein_blocked(spark, SF_SMOKE)
    assert out.groupBy("lang", "len_bucket").count().filter(
        F.col("count") > 1
    ).count() == 0
    assert out.filter(
        (F.col("edit_dist") < 0) | (F.col("edit_dist") > _LEV_PREFIX)
    ).count() == 0


def test_sessionize_rows_agrees_with_session_window(spark):
    """The lag-gap row-level sessionizer and Spark's session_window
    aggregate must induce the same session structure: same session
    count per user, same per-session event counts."""
    from weather_etl_pipeline_spark.operators.windows import sessionize_events_rows
    from weather_etl_pipeline_spark.streaming.windows import stream_session_windows

    rows = sessionize_events_rows(spark, SF_SMOKE)
    agg = stream_session_windows(spark, SF_SMOKE)
    per_sess_rows = (
        rows.groupBy("user_id", "sess_seq")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("session_start"))
    )
    joined = per_sess_rows.join(
        agg.select(
            F.col("user_id").alias("a_user"),
            F.col("session_start").alias("a_start"),
            F.col("n_events").alias("a_n"),
        ),
        (F.col("user_id") == F.col("a_user"))
        & (F.col("session_start") == F.col("a_start")),
        "full_outer",
    )
    assert joined.filter(
        F.col("a_user").isNull()
        | F.col("user_id").isNull()
        | (F.col("n_events") != F.col("a_n"))
    ).count() == 0


def test_hll_sketch_estimate_close_to_exact(spark):
    """Spark 4's Apache DataSketches HLL surface: the mergeable-sketch
    distinct count (the 100 TB shape — constant memory per group,
    sketches merge associatively across partitions) must land within
    the standard HLL error envelope of the exact count."""
    ev = load_table(spark, SF_SMOKE, "events")
    row = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est"),
        F.count_distinct("user_id").alias("exact"),
    ).collect()[0]
    assert abs(row["est"] - row["exact"]) <= max(3, 0.02 * row["exact"]), row
    # sketches merge: union of two half-sketches equals one full sketch
    halves = ev.withColumn("h", (F.col("event_id") % 2)).groupBy("h").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    merged = halves.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]
    assert abs(merged["est"] - row["exact"]) <= max(3, 0.02 * row["exact"]), merged


def test_chunking_covers_every_token_with_overlap(spark):
    """Chunk windows must tile each document completely: total distinct
    token positions covered == n_tok, consecutive chunks overlap by
    exactly chunk-stride tokens (except the tail), and rebuilding the
    doc from stride-aligned chunk prefixes reproduces the token count."""
    from weather_etl_pipeline_spark.operators.curation import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
        chunk_documents_overlap,
    )

    chunks = chunk_documents_overlap(spark, SF_SMOKE)
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max(F.col("chunk_idx") * _CHUNK_STRIDE + F.col("n_chunk_tok")).alias(
            "max_end"
        ),
        F.min("n_chunk_tok").alias("min_len"),
        F.max("n_chunk_tok").alias("max_len"),
    )
    j = per_doc.join(docs, "doc_id")
    # full coverage: the furthest chunk end reaches exactly n_tok
    assert j.filter(F.col("max_end") != F.col("n_tok")).count() == 0
    # chunk count = ceil(max(n_tok - overlap, 1) / stride) equivalent:
    # every chunk except possibly the last is full-width
    assert j.filter(
        (F.col("max_len") > _CHUNK_TOKENS) | (F.col("min_len") < 1)
    ).count() == 0


def test_cusum_budget_guard(spark, tmp_path):
    """Over-budget groups raise loudly instead of wrapping int64.

    events_cusum_drift documents |cusum| <= 2*n^2*max_cents; Spark's
    non-ANSI window SUM would wrap silently past int64, so the operator
    poisons the broadcast baseline with raise_error when the budget is
    exceeded.  Build a 10-row group with value=9e14 (cents=9e16, so
    2*100*9e16 = 1.8e19 > 9e18) and assert the failure is the loud one.
    """
    import pyspark.sql.functions as F
    import pytest
    from py4j.protocol import Py4JJavaError

    from weather_etl_pipeline_spark.operators.timeseries import (
        events_cusum_drift,
    )

    big = spark.range(10).select(
        F.lit("burst").alias("event_type"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.col("id").alias("event_id"),
        F.lit(9.0e14).alias("value"),
        F.col("id").alias("user_id"),
    )
    big.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    with pytest.raises((Py4JJavaError, Exception), match="cusum budget"):
        events_cusum_drift(spark, str(tmp_path)).collect()

    # and a comfortably in-budget lake still computes
    ok = spark.range(10).select(
        F.lit("calm").alias("event_type"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.col("id").alias("event_id"),
        (F.col("id") * 1.5).alias("value"),
        F.col("id").alias("user_id"),
    )
    ok.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    rows = events_cusum_drift(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0].max_drift_scaled is not None


def test_capped_bucket_pairs_bounded_and_deterministic(spark):
    """The shared banded pair-gen helper: pairs only among the first
    CAP doc_ids per bucket, <= CAP*(CAP-1)/2 pairs per bucket, stable
    across runs, and never pairs across buckets."""
    import pyspark.sql.functions as F

    from weather_etl_pipeline_spark.operators.dedup import (
        _capped_bucket_pairs,
    )

    # bucket 0: 5 docs (over a cap of 3); bucket 1: 2 docs
    rows = [(d, 0) for d in [10, 11, 12, 13, 14]] + [(d, 1) for d in [20, 21]]
    keyed = spark.createDataFrame(rows, "doc_id long, bucket long")
    got = {
        (r.doc_a, r.doc_b)
        for r in _capped_bucket_pairs(keyed, ["bucket"], cap=3).collect()
    }
    # bucket 0 pairs among {10,11,12} only; bucket 1 among {20,21}
    assert got == {(10, 11), (10, 12), (11, 12), (20, 21)}
    # deterministic across a rerun
    again = {
        (r.doc_a, r.doc_b)
        for r in _capped_bucket_pairs(keyed, ["bucket"], cap=3).collect()
    }
    assert again == got


def test_jaccard_verify_cuts_on_exact_ratio(spark):
    """The shared verify rule cuts on the EXACT ratio, as every DuckDB
    oracle does: |A∩B| = 500,000 over |A∪B| = 1,000,001 is 0.4999995,
    which rounds to 0.5 but lies under the 0.5 cut, so the pair is
    rejected; a pair exactly at the cut is kept."""
    from weather_etl_pipeline_spark.operators.dedup import _keep_jaccard

    scored = spark.sql(
        """
        SELECT 1L AS doc_a, 2L AS doc_b,
               sequence(0L, 749999L) AS _xa,
               sequence(250000L, 1000000L) AS _xb
        UNION ALL
        SELECT 3L, 4L, array(1L, 2L), array(1L, 2L, 3L, 4L)
        """
    )
    got = {tuple(r) for r in _keep_jaccard(scored).collect()}
    assert got == {(3, 4, 0.5)}


# (query, gate): every size gate a registry query reads, each forced to
# the branch the sf0.01 fixture does not take by default
_GATE_CASES = [
    ("dedup_jaccard_pairs", "broadcast"),
    ("dedup_jaccard_pairs", "cache"),
    ("dedup_minhash_lsh", "broadcast"),
    ("dedup_minhash_lsh", "cache"),
    ("q3_shipping_priority", "broadcast"),
]


@pytest.mark.parametrize("query,gate", _GATE_CASES)
def test_size_gate_branches_identical(spark, monkeypatch, query, gate):
    """Each size gate is a pure physical-plan choice. Forcing its other
    branch — broadcast off through catalog.BROADCAST_MAX_BYTES = 0 (the
    >64MB fallback), cache on through the family's *_CACHE_MIN_BYTES = 0
    (the @x10+ branch) — must produce the exact same rows, and the plan
    must show that the branch flipped: the broadcast hint in the
    analyzed plan, InMemoryRelation once cached data is substituted."""
    from weather_etl_pipeline_spark import catalog
    from weather_etl_pipeline_spark.operators import dedup as d
    from weather_etl_pipeline_spark.registry import load_all

    fn = load_all()[query].fn
    sf = "/root/testdata/sf0.01"

    def run():
        spark.catalog.clearCache()
        df = fn(spark, sf)
        qe = df._jdf.queryExecution()
        markers = {
            "broadcast": "strategy=broadcast" in qe.analyzed().toString(),
            "cache": "InMemoryRelation" in qe.withCachedData().toString(),
        }
        return sorted(tuple(r) for r in df.collect()), markers

    base_rows, base = run()
    if gate == "broadcast":
        monkeypatch.setattr(catalog, "BROADCAST_MAX_BYTES", 0)
    elif query == "dedup_jaccard_pairs":
        monkeypatch.setattr(d, "_JACCARD_CACHE_MIN_BYTES", 0)
    else:
        monkeypatch.setattr(d, "_MINHASH_CACHE_MIN_BYTES", 0)
    try:
        rows, forced = run()
    finally:
        spark.catalog.clearCache()
    assert rows == base_rows
    assert base_rows, "vacuous equality — no rows at sf0.01"
    # default branches at sf0.01: broadcast on, cache off
    assert base == {"broadcast": True, "cache": False}
    assert forced == {**base, gate: not base[gate]}
