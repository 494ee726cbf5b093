"""Property and unit tests: cosine kernel, merge semantics (SURVEY.md
§7.4.1), tri-state predicates, keep-last dedup."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from roblox_vector_search_datagen_spark.functions import vector as V
from roblox_vector_search_datagen_spark.operators import maintenance
from roblox_vector_search_datagen_spark.schemas import local_df
from roblox_vector_search_datagen_spark.sources import tables

# ---------------------------------------------------------------------------
# cosine kernel (the Spark-SQL form) — property tests
# ---------------------------------------------------------------------------

vec = st.lists(st.floats(-10, 10, allow_nan=False, width=32), min_size=4, max_size=16)

@given(v=vec)
@settings(max_examples=25, deadline=None)
def test_cosine_self_similarity_is_one(spark, v):
    df = local_df(spark, [(v,)], "a array<double>")
    (sim,) = df.select(F.expr(V.cosine_expr_sql("a", "a"))).first()
    if not any(v):
        assert sim is None  # zero norm -> NULL
    else:
        assert math.isclose(sim, 1.0, abs_tol=1e-6)

@given(v=vec, k=st.floats(0.1, 100, allow_nan=False))
@settings(max_examples=25, deadline=None)
def test_cosine_scale_invariance(spark, v, k):
    if not any(v):
        return
    df = local_df(spark, [(v, [x * k for x in v])], "a array<double>, b array<double>")
    s1, s2 = df.select(
        F.expr(V.cosine_expr_sql("a", "b")), F.expr(V.cosine_expr_sql("a", "a"))
    ).first()
    assert math.isclose(s1, s2, abs_tol=1e-9)

def test_cosine_expr_matches_numpy(spark):
    rows = [([1.0, 2.0, 3.0],), ([0.0, 0.0, 0.0],), ([-1.5, 0.5, 2.0],)]
    df = spark.createDataFrame(rows, "embedding: array<float>")
    q = [0.5, -1.0, 2.0]
    cos = V.cosine_expr_sql("embedding", V.vector_lit_spark_sql(q))
    got = df.select(F.expr(cos).alias("c")).collect()
    mat = np.array([r[0] for r in rows], dtype=np.float32).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    for g, dot, n in zip(got, mat @ np.array(q), norms):
        if n == 0:
            assert g.c is None  # zero-norm -> NULL relationally
        else:
            assert math.isclose(g.c, dot / n, abs_tol=1e-9)

def test_embed_query_deterministic_and_bounded():
    a = V.embed_query("hello", 64)
    assert a == V.embed_query("hello", 64)
    assert a != V.embed_query("world", 64)
    assert all(-0.5 <= x < 0.5 for x in a) and len(a) == 64

def test_generate_vectors_matches_driver_encoder(spark, sf_dir):
    """The distributed batch encoder (pure-Catalyst generate_vectors)
    and the driver-side embed_query are the SAME function — online
    query vectors and offline corpus vectors must come from one
    encoder or every similarity score is meaningless."""
    from roblox_vector_search_datagen_spark.operators.ann import generate_vectors
    from roblox_vector_search_datagen_spark.sources.tables import load_table

    row = (
        generate_vectors(spark, sf_dir)
        .join(load_table(spark, sf_dir, "documents"), "doc_id")
        .orderBy("doc_id")
        .select("embedding", "text")
        .first()
    )
    assert row.embedding == V.embed_query(row.text, 64)

# ---------------------------------------------------------------------------
# merge semantics
# ---------------------------------------------------------------------------

def test_merge_output_unique_and_sorted_ids(spark, sf_dir):
    out = maintenance.merge_games_gather(spark, sf_dir).collect()
    ids = [r.universeId for r in out]
    assert len(ids) == len(set(ids)), "merge must dedup by universeId"

def test_merge_gather_preserves_enrichment_fields(spark, sf_dir):
    games = {r.universeId: r for r in tables.games(spark, sf_dir).collect()}
    merged = {r.universeId: r for r in maintenance.merge_games_gather(spark, sf_dir).collect()}
    new_first = {}
    for r in sorted(tables.new_games(spark, sf_dir).collect(), key=lambda r: r.ord):
        new_first.setdefault(r.universeId, r)
    for uid, g in games.items():
        m = merged[uid]
        # enrichment fields always preserved from existing
        assert m.description == g.description
        assert m.gameplayDescription == g.gameplayDescription
        assert m.playerCount == g.playerCount
        if uid in new_first:  # matched: basic info from FIRST new occurrence
            assert m.name == new_first[uid].name
            assert m.rootPlaceId == new_first[uid].rootPlaceId
        else:  # untouched
            assert m.name == g.name and m.rootPlaceId == g.rootPlaceId

def test_merge_insert_keeps_last_duplicate(spark, sf_dir):
    games_ids = {r.universeId for r in tables.games(spark, sf_dir).select("universeId").collect()}
    new_last = {}
    for r in sorted(tables.new_games(spark, sf_dir).collect(), key=lambda r: r.ord):
        new_last[r.universeId] = r  # later ord overwrites
    merged = {r.universeId: r for r in maintenance.merge_games_gather(spark, sf_dir).collect()}
    inserted = [uid for uid in new_last if uid not in games_ids]
    assert inserted, "fixture must exercise the insert path"
    dup_inserted = [u for u in inserted if u >= 2_000_000]
    assert dup_inserted, "fixture must exercise intra-batch duplicates"
    for uid in inserted:
        assert merged[uid].name == new_last[uid].name  # keep-LAST for inserts
        assert merged[uid].gameplayDescription is None

def test_merge_search_overwrites_playercount_even_with_null(spark, sf_dir):
    new_first = {}
    for r in sorted(tables.new_games(spark, sf_dir).collect(), key=lambda r: r.ord):
        new_first.setdefault(r.universeId, r)
    games_ids = {r.universeId for r in tables.games(spark, sf_dir).select("universeId").collect()}
    merged = {r.universeId: r for r in maintenance.merge_games_search(spark, sf_dir).collect()}
    for uid in games_ids & set(new_first):
        assert merged[uid].playerCount == new_first[uid].playerCount

def test_merge_idempotent_on_rerun_except_intra_batch_dups(spark, sf_dir):
    """Re-merging the same batch is a fixpoint for every id WITHOUT
    intra-batch duplicates. (For dup'd ids the reference itself is not
    idempotent: the first run inserts the LAST occurrence, a re-run
    matches it and updates from the FIRST occurrence — gatherGames.ts:66
    vs :89. We reproduce that faithfully, so the fixpoint claim is
    scoped to unique-id batches.)"""
    once = maintenance.merge_games_gather(spark, sf_dir)
    new = tables.new_games(spark, sf_dir)
    again = maintenance._merge(
        once, new, {"name": F.col("n_name"), "rootPlaceId": F.col("n_rootPlaceId")}
    )
    dup_ids = {
        r.universeId
        for r in new.groupBy("universeId").count().filter("count > 1").collect()
    }
    a = {tuple(r) for r in once.collect() if r.universeId not in dup_ids}
    b = {tuple(r) for r in again.collect() if r.universeId not in dup_ids}
    assert a == b

# ---------------------------------------------------------------------------
# tri-state predicates
# ---------------------------------------------------------------------------

def test_tristate_needs_description(spark):
    df = spark.createDataFrame(
        [(1, None, None), (2, "", None), (3, "text", None), (4, None, 5)],
        "universeId: long, description: string, playerCount: int",
    )
    needs = df.filter(F.col("description").isNull() | F.col("playerCount").isNull())
    # NULL = never fetched (needs), '' = known blank (does NOT need desc,
    # but row 2 still needs playerCount) — downloadDescriptions.ts:13-18
    assert sorted(r.universeId for r in needs.collect()) == [1, 2, 3, 4]
    needs_desc_only = df.filter(F.col("description").isNull())
    assert sorted(r.universeId for r in needs_desc_only.collect()) == [1, 4]

def test_latest_event_per_user_is_keep_last(spark, sf_dir):
    out = maintenance.latest_event_per_user(spark, sf_dir)
    assert out.groupBy("user_id").count().filter("count > 1").count() == 0

# ---------------------------------------------------------------------------
# sketch aggregates and as-of join invariants
# ---------------------------------------------------------------------------

def test_sketch_profile_error_bounds(spark, sf_dir):
    """The in-plan sketch accuracy contract must hold (HLL++ users and
    approx-median booleans all TRUE — these are what the oracle hashes)
    and the exact twins must match independent computations."""
    from roblox_vector_search_datagen_spark.operators import timeseries

    rows = {r.event_type: r for r in timeseries.sketch_event_profile(spark, sf_dir).collect()}
    exact_users = {
        r.event_type: r.u
        for r in tables.load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("u"))
        .collect()
    }
    exact_p50 = {
        r.event_type: r.p50 for r in timeseries.event_value_quantiles(spark, sf_dir).collect()
    }
    assert set(rows) == set(exact_users)
    for et, row in rows.items():
        assert row.users_est_in_bounds and row.p50_est_in_bounds, et
        assert row.n_users == exact_users[et], et
        assert abs(row.p50 - exact_p50[et]) < 1e-9, et

def test_asof_attribution_invariants(spark, sf_dir):
    """Every attributed click precedes its purchase, belongs to the same
    user, and is that user's LATEST prior click."""
    from roblox_vector_search_datagen_spark.operators import timeseries

    out = timeseries.asof_attribution(spark, sf_dir)
    events = tables.load_table(spark, sf_dir, "events")
    # click_ts <= purchase_ts wherever attributed
    assert out.filter(F.col("click_ts") > F.col("purchase_ts")).count() == 0
    # purchase count preserved (left join semantics)
    assert out.count() == events.filter("event_type = 'purchase'").count()
    # no later click exists between click_ts and purchase_ts
    clicks = events.filter("event_type = 'click'").select(
        F.col("user_id").alias("u"), F.col("ts").alias("cts")
    )
    violations = (
        out.filter(F.col("click_ts").isNotNull())
        .join(clicks, (F.col("user_id") == F.col("u")) & (F.col("cts") > F.col("click_ts")) & (F.col("cts") <= F.col("purchase_ts")))
        .count()
    )
    assert violations == 0

def test_doc_chunks_cover_every_token_and_respect_stride(spark, sf_dir):
    """Chunking invariants: chunks tile each document with the
    configured stride, the last chunk reaches the final token, and no
    chunk is empty."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import textprep

    chunks = textprep.doc_chunks(spark, sf_dir)
    bad_start = chunks.filter(
        (F.col("start_token") % textprep.CHUNK_STRIDE != 0) | (F.col("n_tokens") <= 0)
    ).count()
    assert bad_start == 0
    # per doc: max(start + n_tokens) == doc token count
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", r"\s+")).alias("n")
    )
    cov = (
        chunks.groupBy("doc_id")
        .agg(F.max(F.col("start_token") + F.col("n_tokens")).alias("covered"))
        .join(d, "doc_id")
        .filter(F.col("covered") != F.col("n"))
        .count()
    )
    assert cov == 0

def test_pack_sequences_respects_budget_arithmetic(spark, sf_dir):
    """Sequence packing invariants: every offset sits inside the
    budget, each (split, shard, seq_id) starts below the budget
    boundary (overflow bounded by one doc — the concat-and-split
    contract), and the assignment partitions the corpus exactly."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import textprep

    budget = textprep.PACK_BUDGET_TOKENS
    packed = textprep.pack_sequences(spark, sf_dir)
    assert packed.filter(
        (F.col("seq_offset") < 0) | (F.col("seq_offset") >= budget)
    ).count() == 0
    # within a sequence, offsets are the running sum of the docs before:
    # seq start + its docs' tokens may pass the boundary at most once
    over = (
        packed.groupBy("split", "shard", "seq_id")
        .agg(F.sum("n_tokens").alias("seq_tokens"), F.max("n_tokens").alias("max_doc"))
        .filter(F.col("seq_tokens") >= F.lit(budget) + F.col("max_doc"))
        .count()
    )
    assert over == 0
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert packed.count() == n_docs
    assert packed.select("doc_id").distinct().count() == n_docs

def test_training_corpus_funnel_is_monotone(spark, sf_dir):
    """selected implies every stage flag (the conjunction can never
    exceed any stage's pass set), and the funnel is non-trivial."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import textprep

    tc = textprep.training_corpus(spark, sf_dir)
    assert tc.filter(F.col("selected") & ~F.col("pass_lang")).count() == 0
    assert tc.filter(F.col("selected") & ~F.col("pass_quality")).count() == 0
    assert tc.filter(F.col("selected") & ~F.col("is_canonical")).count() == 0
    assert tc.filter(F.col("selected") & F.col("contaminated")).count() == 0
    n_sel = tc.filter("selected").count()
    assert 0 < n_sel < tc.count()

def test_simhash_band_pigeonhole_guarantee():
    """Mathematical completeness of the banded-simhash blocking: ANY
    pair of 60-bit fingerprints within Hamming distance <= bands-1
    must agree exactly on at least one 15-bit band (pure integer
    check, no Spark)."""
    import random

    from roblox_vector_search_datagen_spark.operators.dedup import (
        SIMHASH64_BITS,
        SIMHASH_BAND_BITS,
        SIMHASH_BANDS,
    )

    rng = random.Random(7)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    for _ in range(500):
        a = rng.getrandbits(SIMHASH64_BITS)
        flips = rng.sample(range(SIMHASH64_BITS), rng.randint(0, SIMHASH_BANDS - 1))
        b = a
        for j in flips:
            b ^= 1 << j
        assert any(
            (a >> (SIMHASH_BAND_BITS * i)) & mask == (b >> (SIMHASH_BAND_BITS * i)) & mask
            for i in range(SIMHASH_BANDS)
        ), (a, b, flips)


@settings(max_examples=200, deadline=None)
@given(
    samples=st.lists(st.integers(min_value=-32768, max_value=32767), max_size=400),
    rate=st.integers(min_value=1, max_value=192000),
)
def test_wav_pcm16_roundtrip_property(samples, rate):
    """Any int16 sample vector at any positive rate survives the
    vendored RIFF/WAVE encode->decode exactly (r12 audio codec)."""
    from roblox_vector_search_datagen_spark.functions import wav

    assert wav.decode_wav_pcm16(wav.encode_wav_pcm16(samples, rate)) == (rate, samples)


def test_phash_near_banding_pigeonhole_property():
    """4x16 banding over the 64-bit average-hash finds every pair
    within Hamming <= 3: for random fingerprints and <= 3 random
    flips, at least one 16-bit band survives untouched (the guarantee
    media_phash_near_dup_pairs' equi-join relies on)."""
    import random

    from roblox_vector_search_datagen_spark.operators.multimodal import (
        PHASH_NEAR_BAND_BITS,
        PHASH_NEAR_BANDS,
        PHASH_NEAR_MAX_HAMMING,
    )

    rng = random.Random(12)
    for _ in range(500):
        a = rng.getrandbits(64)
        b = a
        for j in rng.sample(range(64), rng.randint(0, PHASH_NEAR_MAX_HAMMING)):
            b ^= 1 << j
        mask = (1 << PHASH_NEAR_BAND_BITS) - 1
        assert any(
            (a >> (PHASH_NEAR_BAND_BITS * i)) & mask
            == (b >> (PHASH_NEAR_BAND_BITS * i)) & mask
            for i in range(PHASH_NEAR_BANDS)
        )
