"""Invariant tests for the round-3 pipeline operators (semantic dedup,
hybrid retrieval, BPE statistics, DSIR weights, mixture planning) —
properties the DuckDB oracle parity can't express, checked at sf0.001.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from roblox_vector_search_datagen_spark.operators import ann, dedup, quality, textprep, textstats
from roblox_vector_search_datagen_spark.sources import tables


def test_semantic_dedup_drops_only_pair_members(spark, sf_dir):
    """Every dropped vector must have >= 1 dominator, belong to its IVF
    cell, and never be the cell's farthest-from-centroid survivor: per
    cell, the minimum (cent_cos, vec_id) member is by construction
    undominated, so at least one vector per non-empty cell survives."""
    dropped = dedup.semantic_dedup(spark, sf_dir)
    rows = dropped.collect()
    assert all(r.n_dominators >= 1 for r in rows)

    assign = ann.ivf_assignments(spark, sf_dir).select(
        "vec_id", "cent_id", F.col("cosine").alias("cent_cos")
    )
    joined = dropped.alias("d").join(
        assign.alias("a"), on="vec_id", how="left"
    )
    mismatched = joined.filter(
        (F.col("a.cent_id") != F.col("d.cent_id"))
        | (F.col("a.cent_cos") != F.col("d.cent_cos"))
    )
    assert mismatched.count() == 0

    # no cell loses all members
    cells = assign.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n"))
    dropped_per_cell = dropped.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_drop"))
    wiped = (
        cells.join(dropped_per_cell, "cent_id")
        .filter(F.col("n_drop") >= F.col("n"))
        .count()
    )
    assert wiped == 0


def test_hybrid_search_rrf_bounds_and_rank_consistency(spark, sf_dir):
    """RRF score is bounded by the two best possible ranks, and any doc
    holding both ranks scores strictly above one holding a single
    worse-or-equal rank."""
    rows = textstats.hybrid_search(spark, sf_dir).collect()
    assert rows, "hybrid_search returned no rows"
    cmax = round(2.0 / (textstats.RRF_C + 1), 6)
    for r in rows:
        assert 0 < r.rrf <= cmax
        assert r.text_rank is not None or r.vec_rank is not None
        both = (r.text_rank is not None) + (r.vec_rank is not None)
        single_max = round(1.0 / (textstats.RRF_C + 1), 6)
        if both == 1:
            assert r.rrf <= single_max


def test_bpe_pair_counts_totals_bounded_by_token_mass(spark, sf_dir):
    """Each pair's corpus-weighted total is bounded by the corpus's
    total (len-1) pair slots, and n_words <= vocabulary size."""
    d = tables.load_table(spark, sf_dir, "documents")
    tokens = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
    vocab_size = tokens.filter(F.length("w") >= 2).select("w").distinct().count()
    pair_slots = (
        tokens.filter(F.length("w") >= 2)
        .agg(F.sum(F.length("w") - 1))
        .collect()[0][0]
    )
    rows = textstats.bpe_pair_counts(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert len(r.pair) == 2
        assert 1 <= r.n_words <= vocab_size
        assert 1 <= r.total <= pair_slots


def test_dsir_weights_favor_target_slice(spark, sf_dir):
    """DSIR's defining property: the mean log-weight of target-slice
    (English) documents exceeds the mean over the complement — the
    weights tilt sampling toward the target distribution."""
    d = tables.load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = quality.dsir_weights(spark, sf_dir).join(d, "doc_id")
    means = (
        w.groupBy(F.col("lang") == "en")
        .agg(F.avg(F.col("log_weight") / F.col("n_tokens")).alias("m"))
        .collect()
    )
    by_target = {r[0]: r.m for r in means}
    assert by_target[True] > by_target[False]


def test_mixture_plan_respects_budget_and_caps(spark, sf_dir):
    rows = textprep.mixture_plan(spark, sf_dir).collect()
    assert rows
    budget = textprep.MIXTURE_BUDGET_TOKENS
    assert sum(r.expected_tokens for r in rows) <= budget
    for r in rows:
        assert 0 < r.sample_rate <= 1.0
        assert r.expected_tokens == min(r.n_tokens, r.target_tokens)
        # rate * available reproduces the expectation (within rounding)
        assert abs(r.sample_rate * r.n_tokens - r.expected_tokens) <= 0.5 + 1e-6 * r.n_tokens


def test_split_leakage_pairs_cross_boundaries(spark, sf_dir):
    """Every reported pair straddles a split boundary, is an LSH
    candidate, and its jaccard agrees with the funnel's exact-verify
    stage for the same pair."""
    from roblox_vector_search_datagen_spark.operators.textstats import dataset_splits

    leak = dedup.split_leakage(spark, sf_dir)
    rows = leak.collect()
    splits = {r.doc_id: r.split for r in dataset_splits(spark, sf_dir).collect()}
    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(spark, sf_dir).collect()
    }
    verify = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.exact_jaccard_verify(spark, sf_dir).collect()
    }
    for r in rows:
        assert r.split_a != r.split_b
        assert r.split_a == splits[r.doc_a] and r.split_b == splits[r.doc_b]
        assert (r.doc_a, r.doc_b) in cands
        assert verify[(r.doc_a, r.doc_b)] == r.jaccard


def test_media_dedup_rollup_consistency(spark, sf_dir):
    """Rollup identities: items = unique + dup copies per media_type,
    totals match the media table, and reclaimed bytes vanish iff there
    are no duplicate blobs."""
    from roblox_vector_search_datagen_spark.operators import multimodal

    rows = multimodal.media_dedup(spark, sf_dir).collect()
    assert {r.media_type for r in rows} == set(multimodal.MEDIA_TYPES)
    m = multimodal.media(spark, sf_dir)
    per_type = {
        r.media_type: (r.n, r.b)
        for r in m.groupBy("media_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("content")).alias("b"))
        .collect()
    }
    for r in rows:
        assert r.n_items == r.n_unique + r.n_dup_copies
        assert (r.n_items, r.bytes_total) == per_type[r.media_type]
        assert (r.bytes_reclaimed == 0) == (r.n_dup_copies == 0)


def test_bloom_decontaminate_contract(spark, sf_dir):
    """The Bloom guarantee: zero false negatives on every document
    (each exact hit is bloom-flagged), and bloom hits dominate exact
    hits; counts bounded by the doc's shingle count."""
    from roblox_vector_search_datagen_spark.operators import textprep

    rows = textprep.bloom_decontaminate(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.no_false_negatives
        assert r.n_bloom_hits >= r.n_exact_hits
        assert 0 <= r.n_exact_hits <= r.n_shingles
        assert r.contaminated == (r.n_exact_hits > 0)
        assert r.bloom_flagged == (r.n_bloom_hits > 0)


def test_band_sweep_monotone(spark, sf_dir):
    """More bands with fewer rows per band can only ADD candidates:
    candidate volume and hit count are monotone in the band count, so
    recall is too — the S-curve direction the sweep exists to price."""
    from roblox_vector_search_datagen_spark.operators import dedup

    rows = {r.bands: r for r in dedup.minhash_band_sweep(spark, sf_dir).collect()}
    assert set(rows) == set(dedup.BAND_SWEEP_CONFIGS)
    for r in rows.values():
        assert r.bands * r.rows_per_band == 16
        assert 0 <= r.n_hits <= min(r.n_truth, r.n_candidates)
    ordered = [rows[b] for b in sorted(rows)]
    for lo, hi in zip(ordered, ordered[1:]):
        assert lo.n_candidates <= hi.n_candidates
        assert lo.n_hits <= hi.n_hits
    # the registry's production config (4 bands) appears in the sweep
    # with the same candidate count lsh_candidate_pairs produces
    n_cand_prod = dedup.lsh_candidate_pairs(spark, sf_dir).count()
    assert rows[4].n_candidates == n_cand_prod


def test_seeded_shuffle_is_deterministic_total_order(spark, sf_dir):
    """Positions are dense per shard, epoch_order is unique (a total
    order), and the permutation is a pure function of the seed: same
    seed twice == identical, different seed == different order."""
    from roblox_vector_search_datagen_spark.operators import layout

    a = layout.seeded_shuffle(spark, sf_dir).collect()
    b = layout.seeded_shuffle(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    orders = [r.epoch_order for r in a]
    assert len(set(orders)) == len(orders)
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard
    other = {
        r.doc_id: r.epoch_order
        for r in layout.seeded_shuffle(spark, sf_dir, seed=99).collect()
    }
    assert {r.doc_id: r.epoch_order for r in a} != other


def test_ingest_decision_report_consistency(spark, sf_dir):
    """The ledger agrees with the standalone ingest ops: non-dup
    verdicts are exactly the near-dedup survivors, and exact_dup rows
    are exactly the arriving docs the digest filter rejected."""
    from roblox_vector_search_datagen_spark.streaming import ingest

    rows = ingest.ingest_decision_report(spark, sf_dir).collect()
    assert {r.verdict for r in rows} <= {
        "exact_dup", "near_dup", "low_quality", "accepted"
    }
    not_dup = {r.doc_id for r in rows if r.verdict in ("low_quality", "accepted")}
    survivors = {r.doc_id for r in ingest.ingest_near_dedup(spark, sf_dir).collect()}
    assert not_dup == survivors
    exact_survivors = {r.doc_id for r in ingest.ingest_dedup(spark, sf_dir).collect()}
    exact_dups = {r.doc_id for r in rows if r.is_exact_dup}
    assert exact_dups == {r.doc_id for r in rows} - exact_survivors
    for r in rows:
        assert not (r.is_exact_dup and r.is_near_dup)
        if r.verdict == "accepted":
            assert r.quality_keep and not r.is_exact_dup and not r.is_near_dup


def test_knn_label_accuracy_mass_conservation(spark, sf_dir):
    """The per-label report must conserve the knn mass exactly: query
    counts sum to KNN_QUERIES, neighbor counts to KNN_QUERIES x KNN_K,
    matches never exceed neighbors, and match_rate is the exact
    rounded integer ratio."""
    rows = ann.knn_label_accuracy(spark, sf_dir).collect()
    assert sum(r.n_queries for r in rows) == ann.KNN_QUERIES
    assert sum(r.n_neighbors for r in rows) == ann.KNN_QUERIES * ann.KNN_K
    for r in rows:
        assert 0 <= r.n_matching <= r.n_neighbors
        assert abs(r.match_rate - round(r.n_matching / r.n_neighbors, 6)) < 1e-9


def test_ivf_label_purity_consistency(spark, sf_dir):
    """Purity rows must agree with the assignment table: one row per
    non-empty cell, member counts matching ivf_cluster_quality, purity
    the exact majority share in (0, 1], never below the uniform floor
    1/n_labels."""
    purity = {r.cent_id: r for r in ann.ivf_label_purity(spark, sf_dir).collect()}
    quality = {r.cent_id: r for r in ann.ivf_cluster_quality(spark, sf_dir).collect()}
    assert set(purity) == set(quality)
    for cid, r in purity.items():
        assert r.n_members == quality[cid].n_members
        assert 1 <= r.top_label_n <= r.n_members
        assert abs(r.purity - round(r.top_label_n / r.n_members, 6)) < 1e-9
        assert r.purity * r.n_labels >= 1 - 1e-6  # majority >= uniform share


def test_cross_lingual_near_dups_is_lang_mismatched_subset(spark, sf_dir):
    """Every emitted pair must exist in the sign-LSH near-dup set at
    the same threshold with the same cosine, and its two documents
    must genuinely carry different lang tags."""
    out = dedup.cross_lingual_near_dups(spark, sf_dir)
    base = dedup.embedding_lsh_near_dups(
        spark, sf_dir, dedup.CROSS_LINGUAL_THRESHOLD
    ).select("vec_a", "vec_b", F.col("cosine").alias("base_cos"))
    joined = out.join(base, ["vec_a", "vec_b"], "left")
    rows = joined.collect()
    assert rows, "expected non-empty cross-lingual pairs on the fixture"
    langs = {
        r.doc_id: r.lang
        for r in tables.load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    for r in rows:
        assert r.base_cos is not None and r.base_cos == r.cosine
        assert r.lang_a != r.lang_b
        assert langs[r.vec_a] == r.lang_a and langs[r.vec_b] == r.lang_b


@pytest.mark.slow
def test_ivf_train_converged_reaches_fixpoint(spark, sf_dir):
    """The Lloyd loop must (a) reach the fixpoint within budget on the
    fixture corpus, (b) end with max_shift <= tol and zero
    reassignments, (c) report strictly decreasing total shift into the
    fixpoint's neighborhood, and (d) agree with the oracle-pinned
    unrolled body (`ivf_train_iters`) on the rounds both execute."""
    from roblox_vector_search_datagen_spark.operators import ann

    tel = ann.ivf_train_converged(spark, sf_dir).collect()
    assert len(tel) >= 2
    last = tel[-1]
    assert last.max_shift <= 1e-6
    assert last.n_reassigned == 0
    # round 1 does real work; totals head monotonically to ~0
    assert tel[0].total_shift > tel[-1].total_shift
    # loop round r's L1 total == the unrolled body's sum over centroids
    unrolled = ann.ivf_train_iters(spark, sf_dir).collect()
    per_round = {}
    for r in unrolled:
        per_round[r["round"]] = round(per_round.get(r["round"], 0.0) + r.shift, 6)
    for t in tel[: len(per_round)]:
        assert abs(per_round[t["round"]] - t.total_shift) < 1e-6


def test_ivf_train_converged_raises_on_budget_exhaustion(spark, sf_dir):
    """A budget too small to converge must RAISE — never return a
    half-trained index silently."""
    import pytest as _pytest

    from roblox_vector_search_datagen_spark.operators import ann

    with _pytest.raises(RuntimeError, match="refusing to return a half-trained index"):
        ann.ivf_train_converged(spark, sf_dir, max_iter=1)


def _py_bpe_reference(word_freq, m):
    """Independent pure-Python Sennrich BPE trainer: per round, count
    adjacent symbol pairs weighted by word frequency (overlapping
    occurrences counted), argmax with (total DESC, a ASC, b ASC)
    tie-break, apply left-to-right greedily."""
    segs = {w: list(w) for w in word_freq}
    merges = []
    for r in range(1, m + 1):
        counts = {}
        for w, syms in segs.items():
            f = word_freq[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), total = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, total))
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    return merges, segs


def _py_bpe_fold(seg, a, b):
    """Pure-Python form of the fold rule: walk the symbols left to right
    and glue `b` onto the previous output symbol when that symbol is `a`."""
    out = []
    for x in seg.split(" "):
        if out and out[-1] == a and x == b:
            out[-1] += x
        else:
            out.append(x)
    return " ".join(out)


def test_bpe_apply_expr_sql_escapes_quote_backslash_and_dollar(spark):
    """Merge symbols reach the Spark-SQL fold as string literals; a
    quote, a backslash or a dollar sign in a symbol must match exactly
    as the same fold in Python does."""
    from roblox_vector_search_datagen_spark.schemas import local_df

    words = ["it's", "a\\b\\b", "$$x", "'$\\'", "x's$", "\\'s"]
    merges = [
        ("'", "s"), ("\\", "b"), ("$", "$"), ("$$", "x"), ("t", "'s"), ("'", "$"), ("\\", "'s")
    ]
    seg_sql = "seg"
    expected = {w: " ".join(w) for w in words}
    for a, b in merges:
        seg_sql = textstats._bpe_apply_expr_sql(seg_sql, a, b)
        expected = {w: _py_bpe_fold(seg, a, b) for w, seg in expected.items()}
    assert expected["it's"] == "i t's" and expected["$$x"] == "$$x"
    assert expected["\\'s"] == "\\'s" and expected["a\\b\\b"] == "a \\b \\b"
    df = local_df(spark, [(w, " ".join(w)) for w in words], "w string, seg string")
    got = {r.w: r.out for r in df.select("w", F.expr(seg_sql).alias("out")).collect()}
    assert got == expected


def test_bpe_merges_match_pure_python_trainer(spark, sf_dir):
    """The relational trainer must learn EXACTLY the merges an
    independent in-memory Sennrich implementation learns from the same
    word histogram — true-BPE semantics, not just engine parity."""
    freq = {
        r.w: r.cnt for r in textstats._bpe_vocab(spark, sf_dir).collect()
    }
    expected, segs = _py_bpe_reference(freq, textstats.BPE_MERGES)
    got = [
        (r.round, r.a, r.b, r.total)
        for r in textstats.bpe_merges(spark, sf_dir).orderBy("round").collect()
    ]
    assert got == expected
    # and the fertility report's token mass equals the reference
    # segmentations applied to the same per-source histogram
    d = tables.load_table(spark, sf_dir, "documents")
    src = (
        d.select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    exp_tokens = {}
    for r in src:
        exp_tokens[r.source] = exp_tokens.get(r.source, 0) + r.cnt * len(segs[r.w])
    rep = {r.source: r.n_tokens for r in textstats.bpe_fertility_report(spark, sf_dir).collect()}
    assert rep == exp_tokens


def test_bpe_fertility_decreases_with_more_merges(spark, sf_dir):
    """More merges can only shrink segmentations: corpus token mass at
    m merges is monotone non-increasing in m, bounded below by the
    word count (fertility >= 1) and above by the char mass."""
    by_m = {}
    for m in (0, 2, textstats.BPE_MERGES):
        rows = textstats.bpe_fertility_report(spark, sf_dir, m=m).collect()
        by_m[m] = sum(r.n_tokens for r in rows)
        for r in rows:
            assert r.fertility >= 1.0
            assert r.chars_per_token >= 1.0
    assert by_m[0] >= by_m[2] >= by_m[textstats.BPE_MERGES]


def test_bpe_vocab_is_dense_ranked_and_matches_reference_segs(spark, sf_dir):
    """Token ids are a dense 1..N frequency ranking, every learned
    merge's output symbol appears, and per-token corpus frequency
    equals the pure-Python reference segmentations' counts."""
    freq = {r.w: r.cnt for r in textstats._bpe_vocab(spark, sf_dir).collect()}
    merges, segs = _py_bpe_reference(freq, textstats.BPE_MERGES)
    exp_freq = {}
    for w, syms in segs.items():
        for s in syms:
            exp_freq[s] = exp_freq.get(s, 0) + freq[w]
    rows = textstats.bpe_vocab(spark, sf_dir).collect()
    assert sorted(r.token_id for r in rows) == list(range(1, len(rows) + 1))
    got_freq = {r.token: r.freq for r in rows}
    assert got_freq == exp_freq
    merged_syms = {a + b for _, a, b, _t in merges}
    # a merge's output can itself be merged away by a later round; at
    # minimum the LAST round's output must survive in the vocab
    assert merges[-1][1] + merges[-1][2] in got_freq
    assert merged_syms & got_freq.keys()


def test_bpe_encode_sample_reconstructs_documents(spark, sf_dir):
    """Round-trip: per document, concatenating the encoded tokens in
    pos order must reproduce the document's lowercased words exactly
    (BPE segments within words, never across), and every token_id must
    resolve in the published vocabulary."""
    rows = textstats.bpe_encode_sample(spark, sf_dir).collect()
    assert rows
    vocab = {r.token: r.token_id for r in textstats.bpe_vocab(spark, sf_dir).collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.token))
        assert vocab[r.token] == r.token_id
    d = tables.load_table(spark, sf_dir, "documents")
    texts = {
        r.doc_id: "".join(r.text.lower().split())
        for r in d.filter(F.col("doc_id") < textstats.BPE_ENCODE_DOCS).collect()
    }
    for doc_id, toks in by_doc.items():
        toks.sort()
        assert [p for p, _ in toks] == list(range(1, len(toks) + 1))
        assert "".join(t for _, t in toks) == texts[doc_id]
    assert set(by_doc) == {d for d in texts if texts[d]}


@pytest.mark.slow
def test_bpe_train_checkpoint_cadence_preserves_merges(spark, sf_dir):
    """A 30-merge train crosses the localCheckpoint cadence three
    times (every 8 rounds); the learned merges must match the
    independent pure-Python Sennrich trainer merge-for-merge across
    every checkpoint boundary — the lineage cut must never change a
    segmentation. Also pins that a no-checkpoint train (cadence
    disabled) learns the identical sequence, so the cadence is purely
    a physical-lifecycle knob."""
    freq = {r.w: r.cnt for r in textstats._bpe_vocab(spark, sf_dir).collect()}
    expected, _segs = _py_bpe_reference(freq, 30)
    got = textstats._bpe_train(spark, sf_dir, 30)
    assert got == expected
    assert len(got) >= textstats.BPE_CHECKPOINT_EVERY * 3  # cadence crossed
    # the memo keys on checkpoint_every, so the no-checkpoint variant
    # actually re-learns from scratch — no hand-popping required (the
    # old (app, sf, m) key silently served the default-cadence result)
    no_ckpt = textstats._bpe_train(spark, sf_dir, 30, checkpoint_every=0)
    assert no_ckpt == got


def test_token_shards_terminates_the_tokenizer_lifecycle(spark, sf_dir):
    """`token_shards` is the model-ready artifact: positions are dense
    1..n per document, the total token mass equals what
    `bpe_fertility_report` accounted per source, the shard keying
    matches the manifest hash, and the packing stage consumes it — a
    token-budget greedy fill over the per-doc counts reproduces the
    independent pure-Python packer shard for shard."""
    from pyspark.sql import Window

    from roblox_vector_search_datagen_spark.operators import textprep

    ts = textstats.token_shards(spark, sf_dir).persist()
    # dense per-doc positions: max(pos) == row count per doc
    per_doc = ts.groupBy("shard", "doc_id").agg(
        F.max("pos").alias("n_tokens"), F.count(F.lit(1)).alias("n_rows")
    )
    assert per_doc.filter(F.col("n_tokens") != F.col("n_rows")).count() == 0
    # token mass closes against the fertility report
    total = ts.count()
    fert = textstats.bpe_fertility_report(spark, sf_dir).collect()
    assert total == sum(r.n_tokens for r in fert)
    # pack_sequences' packing logic consumes the artifact: same greedy
    # fill, but over TRUE BPE token counts instead of whitespace counts
    budget = textprep.PACK_BUDGET_TOKENS
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = per_doc.select(
        "shard",
        "doc_id",
        "n_tokens",
        F.floor(prev / budget).cast("int").alias("seq_id"),
        (prev % budget).cast("int").alias("seq_offset"),
    ).collect()
    # independent greedy packer over the same counts
    by_shard = {}
    for r in sorted(packed, key=lambda r: (r.shard, r.doc_id)):
        run = by_shard.get(r.shard, 0)
        assert r.seq_id == run // budget, r
        assert r.seq_offset == run % budget, r
        by_shard[r.shard] = run + r.n_tokens
    ts.unpersist()


def test_substring_scrub_removes_exactly_the_run_positions(spark, sf_dir):
    """Scrub invariants against the run table it derives from: per doc
    n_removed equals the total covered width of its maximal runs
    (runs are disjoint islands, so widths just add), the scrubbed
    word count closes the ledger, docs without runs come back
    whitespace-normalized-identical, and no scrubbed doc still
    contains any reported cross-doc span as a substring."""
    runs_by_doc = {}
    for r in textprep.repeated_substring_spans(
        spark, sf_dir, k=10**9
    ).collect():
        runs_by_doc.setdefault(r.doc_id, []).append(r)
    rows = textprep.substring_scrub(spark, sf_dir).collect()
    d = tables.load_table(spark, sf_dir, "documents").collect()
    norm = {r.doc_id: " ".join(__import__("re").split(r"\s+", r.text)) for r in d}
    for row in rows:
        expected_removed = sum(x.len_words for x in runs_by_doc.get(row.doc_id, []))
        assert row.n_removed == expected_removed, row
        n_kept_words = len(row.scrubbed_text.split(" ")) if row.scrubbed_text else 0
        assert n_kept_words == row.n_words - row.n_removed, row
        if row.doc_id not in runs_by_doc:
            assert row.scrubbed_text == norm[row.doc_id]
        else:
            for x in runs_by_doc[row.doc_id]:
                assert x.span_text not in row.scrubbed_text, (row.doc_id, x.span_text[:40])


def test_clear_session_memos_empties_both_caches(spark, sf_dir):
    """The invalidation hook for corpus-mutating sessions: after a
    dedup_clusters and a BPE train populate their eager-result memos,
    clear_session_memos() must empty BOTH, and the next call must
    recompute (and repopulate) rather than serve pre-mutation
    results."""
    dedup.dedup_clusters(spark, sf_dir).count()
    textstats._bpe_train(spark, sf_dir)
    assert dedup._CLUSTERS_MEMO and textstats._BPE_MEMO
    dedup.clear_session_memos()
    assert not dedup._CLUSTERS_MEMO and not textstats._BPE_MEMO
    dedup.dedup_clusters(spark, sf_dir).count()
    assert dedup._CLUSTERS_MEMO  # repopulated by the recompute


def test_bpe_encode_broadcast_gate_paths_are_identical(spark, sf_dir):
    """The encode's vocab join broadcasts only below
    BPE_BROADCAST_MAX_WORDS; past the ceiling (web-scale distinct-word
    tables) it degrades to a shuffle join rather than blowing the
    broadcast. Pin: (1) the default path carries the broadcast hint,
    (2) broadcast_max=0 forces a real shuffle join on `w` (no
    BroadcastHashJoin for the vocab side under autoBroadcast=-1), and
    (3) both paths emit identical rows — the gate is physical only."""
    n = textstats.BPE_ENCODE_DOCS

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    bcast = textstats._bpe_encode(spark, sf_dir, textstats.BPE_MERGES, doc_bound=n)
    assert "BroadcastHashJoin" in plan(bcast), plan(bcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuf = textstats._bpe_encode(
            spark, sf_dir, textstats.BPE_MERGES, doc_bound=n, broadcast_max=0
        )
        p = plan(shuf)
        assert "BroadcastHashJoin" not in p, p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        rows_shuf = sorted(map(tuple, shuf.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    rows_bcast = sorted(map(tuple, bcast.collect()))
    assert rows_bcast == rows_shuf
    assert len(rows_bcast) > 0


def test_stored_roundtrip_audit_decodes_every_document(spark, sf_dir):
    """The oracle pins engine agreement; this pins the VALUE the audit
    exists for: every document decodes from the STORED shards back to
    its whitespace-stripped source text, and the token mass equals the
    stored table's row count."""
    rows = textstats.stored_roundtrip_audit(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.matches for r in rows)
    total = sum(r.n_tokens for r in rows)
    assert total == textstats.stored_token_shards(spark, sf_dir).count()


def test_token_shards_upsert_conserves_mass_and_is_delta_shaped(spark, sf_dir):
    """The incremental path must (a) anti-join the stored membership
    (LeftAnti in the plan) and read the warehouse table, and (b)
    conserve mass: kept+new docs and tokens per shard must equal the
    stored-report totals, with the kept side exactly the sub-hwm
    stored profile."""
    up = textstats.token_shards_upsert(spark, sf_dir)
    p = up._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p, p
    assert "token_shards_" in p, p
    rows = {r.shard: r for r in up.collect()}
    report = {r.shard: r for r in textstats.stored_shard_report(spark, sf_dir).collect()}
    assert set(rows) == set(report)
    hwm = textstats.TOKEN_DOC_HWM
    stored = textstats.stored_token_shards(spark, sf_dir)
    kept_docs = stored.filter(F.col("doc_id") < hwm).select("doc_id").distinct().count()
    assert sum(r.n_kept_docs for r in rows.values()) == kept_docs
    for s, r in rows.items():
        assert r.n_kept_docs + r.n_new_docs == report[s].n_docs
        assert r.n_kept_tokens + r.n_new_tokens == report[s].n_tokens
        assert 0.0 <= r.new_share <= 1.0


def test_stored_tokenizer_roundtrips_and_serves_from_warehouse(spark, sf_dir):
    """The stored tokenizer must reproduce the session-trained one
    merge-for-merge (the artifact, not a re-train, is what the serve
    path reads), and the serve plan's tokenizer branch — segmentation
    AND id map — must come from the warehouse segments table: the only
    documents scan left in the plan is the n_docs sample being
    encoded (r8's serve re-derived the segmentation via a second
    corpus scan; the advisor flagged the docstring overclaim)."""
    import os

    stored = textstats.stored_bpe_merges(spark, sf_dir)
    assert stored == textstats._bpe_train(spark, sf_dir)
    path = textstats.bpe_tokenizer_store(spark, sf_dir)
    assert os.path.exists(os.path.join(path, "merges", "_SUCCESS"))
    assert os.path.exists(os.path.join(path, "vocab", "_SUCCESS"))
    assert os.path.exists(os.path.join(path, "segments", "_SUCCESS"))

    df = textstats.tokenizer_lifecycle_report(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "bpe_tokenizer_" in p, p
    # the segments scan (path may be truncated in the plan string, so
    # key on its unique read schema)
    assert "w:string,spos:int,token:string,token_id:int" in p, p
    assert p.count("documents.parquet") == 1, p  # the sample scan only
    # value parity with the live-encode twin
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, textstats.bpe_encode_sample(spark, sf_dir).collect()))
    assert a == b and len(a) > 0
