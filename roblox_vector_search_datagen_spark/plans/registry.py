"""Central query registry: one entry per implemented operator from
SURVEY.md §2, each with a DataFrame builder and a DuckDB oracle string
over the same parquet fixtures. `QUERIES` keeps registration order.

`__spark_entry__.py` re-exports this; tests/test_oracle.py replays the
driver's compare (row count + schema + order-insensitive values) at
sf0.001 so mismatches surface before the sf0.01 gate.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators import (
    ann,
    audit,
    dedup,
    layout,
    maintenance,
    multimodal,
    quality,
    search,
    textprep,
    textstats,
    timeseries,
)
from ..streaming import events as streaming_events
from ..streaming import ingest as streaming_ingest

@dataclass
class Query:
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str
    tags: tuple[str, ...] = field(default_factory=tuple)

def _registry() -> dict[str, Query]:
    r: dict[str, Query] = {}

    # --- query surface (reference endpoints/CLI) ---
    r["vector_search"] = Query(
        lambda spark, sf: search.vector_search(spark, sf),
        search.vector_search_oracle(),
        ("search", "vector", "bench"),
    )
    r["similar_search"] = Query(
        lambda spark, sf: search.similar_search(spark, sf),
        search.similar_search_oracle(),
        ("search", "vector", "bench"),
    )
    r["text_search"] = Query(
        lambda spark, sf: search.text_search(spark, sf),
        search.text_search_oracle(),
        ("search", "text", "bench"),
    )
    r["list_games"] = Query(
        lambda spark, sf: search.list_games(spark, sf),
        search.list_games_oracle(),
        ("listing",),
    )
    r["list_games_unicode"] = Query(
        lambda spark, sf: search.list_games(spark, sf),
        search.list_games_oracle(),
        ("listing",),
    )
    r["count_games"] = Query(
        lambda spark, sf: search.count_games(spark, sf),
        search.count_games_oracle(),
        ("agg",),
    )
    r["stats"] = Query(
        lambda spark, sf: search.stats(spark, sf),
        search.stats_oracle(),
        ("agg", "bench"),
    )

    # --- corpus maintenance (reference CLI commands) ---
    r["merge_games_gather"] = Query(
        maintenance.merge_games_gather, maintenance.merge_games_gather_oracle(), ("merge", "bench")
    )
    r["merge_games_search"] = Query(
        maintenance.merge_games_search, maintenance.merge_games_search_oracle(), ("merge",)
    )
    r["merge_games_rolimons"] = Query(
        maintenance.merge_games_rolimons, maintenance.merge_games_rolimons_oracle(), ("merge",)
    )
    # CDC audit of one full gather-merge + prune maintenance cycle
    r["snapshot_diff"] = Query(
        maintenance.snapshot_diff, maintenance.snapshot_diff_oracle(), ("merge", "prune")
    )
    r["prune_games"] = Query(
        maintenance.prune_games, maintenance.prune_games_oracle(), ("prune", "bench")
    )
    r["prune_counts"] = Query(maintenance.prune_counts, maintenance.prune_counts_oracle(), ("prune",))
    r["prune_orphan_embeddings"] = Query(
        maintenance.orphan_embeddings, maintenance.orphan_embeddings_oracle(), ("prune",)
    )
    # --- dataset governance (snapshot validation + privacy cascade) ---
    # declarative constraint pass: uniqueness/non-null/FK/range fused
    # into one scan per table (the Deequ shape)
    r["constraint_audit"] = Query(
        audit.constraint_audit,
        audit.constraint_audit_oracle(),
        ("governance",),
    )
    # right-to-be-forgotten cascade accounting (tombstone sizing)
    r["deletion_impact"] = Query(
        lambda spark, sf: audit.deletion_impact(spark, sf),
        audit.deletion_impact_oracle(),
        ("governance",),
    )
    # k-anonymity equivalence-class risk bands over quasi-identifiers
    r["k_anonymity_report"] = Query(
        audit.k_anonymity_report,
        audit.k_anonymity_report_oracle(),
        ("governance", "quality"),
    )
    r["needs_details_worklist"] = Query(
        maintenance.needs_details_worklist,
        maintenance.needs_details_worklist_oracle(),
        ("worklist",),
    )
    r["missing_images_worklist"] = Query(
        maintenance.missing_images_worklist,
        maintenance.missing_images_worklist_oracle(),
        ("worklist",),
    )
    r["needs_embeddings_worklist"] = Query(
        maintenance.needs_embeddings_worklist,
        maintenance.needs_embeddings_worklist_oracle(),
        ("worklist",),
    )
    r["latest_event_per_user"] = Query(
        maintenance.latest_event_per_user,
        maintenance.latest_event_per_user_oracle(),
        ("dedup", "bench"),
    )
    r["jobs_by_status"] = Query(
        maintenance.jobs_by_status, maintenance.jobs_by_status_oracle(), ("jobs",)
    )
    r["jobs_page"] = Query(
        lambda spark, sf: maintenance.jobs_page(spark, sf),
        maintenance.jobs_page_oracle(),
        ("jobs",),
    )
    r["old_jobs"] = Query(
        lambda spark, sf: maintenance.old_jobs(spark, sf),
        maintenance.old_jobs_oracle(),
        ("jobs",),
    )
    r["clear_gameplay"] = Query(
        maintenance.clear_gameplay, maintenance.clear_gameplay_oracle(), ("maintenance",)
    )

    # --- training-data pipeline: corpus quality ---
    r["pii_scrub"] = Query(quality.pii_scrub, quality.pii_scrub_oracle(), ("quality",))
    r["unigram_logprob"] = Query(
        quality.unigram_logprob, quality.unigram_logprob_oracle(), ("quality", "bench")
    )
    r["quality_filter"] = Query(
        quality.quality_filter, quality.quality_filter_oracle(), ("quality",)
    )
    r["quality_buckets"] = Query(
        quality.quality_buckets, quality.quality_buckets_oracle(), ("quality",)
    )
    # one DoReMi-style multiplicative-weights mixture update driven by
    # the corpus's own bigram-LM loss (train more where loss is worst)
    r["mixture_reweight"] = Query(
        lambda spark, sf: quality.mixture_reweight(spark, sf),
        quality.mixture_reweight_oracle(),
        ("quality", "sampling"),
    )
    r["pmi_collocations"] = Query(
        lambda spark, sf: textstats.pmi_collocations(spark, sf),
        textstats.pmi_collocations_oracle(),
        ("text", "bench"),
    )

    # --- event analytics: funnel + retention ---
    r["funnel_counts"] = Query(
        timeseries.funnel_counts, timeseries.funnel_counts_oracle(), ("events",)
    )
    # max-gap-bounded funnel with per-stage conversion ratios
    r["funnel_within"] = Query(
        lambda spark, sf: timeseries.funnel_within(spark, sf),
        timeseries.funnel_within_oracle(),
        ("events",),
    )
    # per-user event-type entropy + dominant-type share (bot screen)
    r["user_activity_entropy"] = Query(
        timeseries.user_activity_entropy,
        timeseries.user_activity_entropy_oracle(),
        ("events", "quality"),
    )
    r["user_retention"] = Query(
        timeseries.user_retention, timeseries.user_retention_oracle(), ("events",)
    )
    r["asof_next_action"] = Query(
        timeseries.asof_next_action, timeseries.asof_next_action_oracle(), ("events",)
    )
    r["retention_curve"] = Query(
        timeseries.retention_curve, timeseries.retention_curve_oracle(), ("events",)
    )
    r["event_anomalies"] = Query(
        lambda spark, sf: timeseries.event_anomalies(spark, sf),
        timeseries.event_anomalies_oracle(),
        ("events",),
    )
    r["event_value_histogram"] = Query(
        lambda spark, sf: timeseries.event_value_histogram(spark, sf),
        timeseries.event_value_histogram_oracle(),
        ("events",),
    )
    # DataSketches HLL estimates can't be reproduced by DuckDB, so the
    # query emits exact counts + accuracy-contract booleans the oracle
    # checks as TRUE — hash-matched, with the sketch path load-bearing
    r["hll_daily_users"] = Query(
        timeseries.hll_daily_users,
        timeseries.hll_daily_users_oracle(),
        ("events", "sketch"),
    )

    # --- ANN index evaluation + compression ---
    r["ann_recall_at_k"] = Query(
        lambda spark, sf: ann.ann_recall_at_k(spark, sf),
        ann.ann_recall_at_k_oracle(),
        ("ann",),
    )
    # end-to-end recall of the compressed two-stage path (ADC shortlist
    # + exact rerank) — the code-budget companion of ann_recall_at_k
    r["pq_recall_at_k"] = Query(
        lambda spark, sf: ann.pq_recall_at_k(spark, sf),
        ann.pq_recall_at_k_oracle(),
        ("ann",),
    )
    r["sq_quantize"] = Query(ann.sq_quantize, ann.sq_quantize_oracle(), ("ann", "bench"))
    # per-dimension calibration/drift profile the quantizer reads
    r["embedding_dim_profile"] = Query(
        ann.embedding_dim_profile, ann.embedding_dim_profile_oracle(), ("ann", "profiling")
    )
    # norm-z-score outliers: the embedding-table data-quality gate
    r["embedding_outliers"] = Query(
        lambda spark, sf: ann.embedding_outliers(spark, sf),
        ann.embedding_outliers_oracle(),
        ("ann", "quality"),
    )

    # --- streaming ingestion dedup (batch twin; stream twin in streaming/ingest.py) ---
    r["ingest_dedup"] = Query(
        streaming_ingest.ingest_dedup,
        streaming_ingest.ingest_dedup_oracle(),
        ("dedup", "streaming"),
    )
    # NEAR-dup rejection at ingest: LSH band collision against the
    # known corpus, stateless per-row signatures (stream twin tested)
    r["ingest_near_dedup"] = Query(
        streaming_ingest.ingest_near_dedup,
        streaming_ingest.ingest_near_dedup_oracle(),
        ("dedup", "streaming"),
    )
    # per-document admission ledger: exact_dup / near_dup / low_quality
    # / accepted, all verdicts from broadcast probes + a per-row struct
    r["ingest_decision_report"] = Query(
        streaming_ingest.ingest_decision_report,
        streaming_ingest.ingest_decision_report_oracle(),
        ("dedup", "streaming", "quality"),
    )

    # --- end-to-end corpus selection pipeline ---
    r["training_corpus"] = Query(
        textprep.training_corpus, textprep.training_corpus_oracle(), ("pipeline", "bench")
    )

    # --- ranked retrieval + layout diagnostics ---
    r["bm25_search"] = Query(
        lambda spark, sf: textstats.bm25_search(spark, sf),
        textstats.bm25_search_oracle(),
        ("search", "text", "bench"),
    )
    # RRF fusion of the BM25 and vector-cosine top-k legs — the hybrid
    # retrieval shape the reference's two search endpoints compose into
    r["hybrid_search"] = Query(
        lambda spark, sf: textstats.hybrid_search(spark, sf),
        textstats.hybrid_search_oracle(),
        ("search", "text", "vector"),
    )
    # corpus-weighted BPE first-merge statistics over the distinct-word
    # vocabulary (tokenizer induction)
    r["bpe_pair_counts"] = Query(
        lambda spark, sf: textstats.bpe_pair_counts(spark, sf),
        textstats.bpe_pair_counts_oracle(),
        ("text", "tokenizer"),
    )
    # BPE trained to m rounds (eager driver loop, O(1) argmax collects;
    # oracle unrolls the same rounds as CTEs) + the corpus-wide
    # tokenizer application it exists for: per-source fertility audit
    r["bpe_merges"] = Query(
        lambda spark, sf: textstats.bpe_merges(spark, sf),
        textstats.bpe_merges_oracle(),
        ("text", "tokenizer", "iterative"),
    )
    r["bpe_fertility_report"] = Query(
        lambda spark, sf: textstats.bpe_fertility_report(spark, sf),
        textstats.bpe_fertility_report_oracle(),
        ("text", "tokenizer", "report"),
    )
    # the publishable vocabulary artifact: every emitted symbol with a
    # deterministic frequency-ranked token id (embedding-matrix rows)
    r["bpe_vocab"] = Query(
        lambda spark, sf: textstats.bpe_vocab(spark, sf),
        textstats.bpe_vocab_oracle(),
        ("text", "tokenizer"),
    )
    # the end product: sample documents encoded to ordered token-id
    # rows — the model-ready shard representation (corpus encode is
    # the same plan minus the doc_id bound)
    r["bpe_encode_sample"] = Query(
        lambda spark, sf: textstats.bpe_encode_sample(spark, sf),
        textstats.bpe_encode_sample_oracle(),
        ("text", "tokenizer"),
    )
    # the tokenizer lifecycle's terminal artifact: the FULL corpus
    # encoded to (shard, doc_id, pos, token_id) — the model-ready
    # table a data loader reads, shard-keyed like shard_manifest
    r["token_shards"] = Query(
        lambda spark, sf: textstats.token_shards(spark, sf),
        textstats.token_shards_oracle(),
        ("text", "tokenizer", "lifecycle"),
    )
    # packing over TRUE tokenizer counts (pack_sequences packs on the
    # whitespace approximation): tokenize -> shard -> pack, train-ready
    r["pack_token_sequences"] = Query(
        lambda spark, sf: textstats.pack_token_sequences(spark, sf),
        textstats.pack_token_sequences_oracle(),
        ("text", "tokenizer", "lifecycle"),
    )
    # the stored-shards lifecycle end to end: encode -> store
    # (warehouse parquet, partitioned by shard) -> load -> pack + serve
    # the per-shard loader manifest from the STORED rows only; the
    # oracle re-derives from base tables so a green row certifies the
    # storage roundtrip value-for-value (the ivf_index_store pattern)
    r["token_shards_stored"] = Query(
        lambda spark, sf: textstats.stored_shard_report(spark, sf),
        textstats.stored_shard_report_oracle(),
        ("text", "tokenizer", "lifecycle"),
    )
    # lifecycle CLOSURE: decode the STORED shards back through the
    # vocab and certify every document reassembles to its source text
    # (whitespace-stripped, the tokenizer's own lossiness) — the
    # information-completeness audit of the stored artifact
    r["stored_roundtrip_audit"] = Query(
        lambda spark, sf: textstats.stored_roundtrip_audit(spark, sf),
        textstats.stored_roundtrip_audit_oracle(),
        ("text", "tokenizer", "lifecycle", "eval"),
    )
    # incremental maintenance: the tokenizer-side twin of the IVF
    # delta path — stored docs anti-joined out, only the delta encoded
    # (frozen tokenizer, no position window), per-shard merge audit
    r["token_shards_upsert"] = Query(
        lambda spark, sf: textstats.token_shards_upsert(spark, sf),
        textstats.token_shards_upsert_oracle(),
        ("text", "tokenizer", "lifecycle", "worklist"),
    )
    # the TOKENIZER as a stored artifact: merges + vocab from the
    # warehouse, encode served with the stored merge list as literals
    # and the stored id map broadcast; oracle re-derives training +
    # encode from base tables, certifying the roundtrip byte-for-byte
    r["tokenizer_lifecycle_report"] = Query(
        lambda spark, sf: textstats.tokenizer_lifecycle_report(spark, sf),
        textstats.tokenizer_lifecycle_report_oracle(),
        ("text", "tokenizer", "lifecycle"),
    )
    # the Lee et al. substring-dedup REMOVAL pass: strip every word
    # position covered by a maximal cross-doc repeated run; rides the
    # same persisted subtrees as repeated_substring_spans
    r["substring_scrub"] = Query(
        lambda spark, sf: textprep.substring_scrub(spark, sf),
        textprep.substring_scrub_oracle(),
        ("text", "dedup"),
    )
    # the funnel composed end-to-end: token_counts' unit-economics
    # columns recomputed OVER the scrub output — certifies the removal
    # pass as an input-producing transform, not a terminal report
    r["scrubbed_token_counts"] = Query(
        lambda spark, sf: textprep.scrubbed_token_counts(spark, sf),
        textprep.scrubbed_token_counts_oracle(),
        ("text", "dedup", "pipeline"),
    )
    # the stored-scrub serve path (r9): per-doc economics read ONLY
    # from the warehouse-stored scrubbed corpus (scrub_store) — the
    # oracle re-derives from base tables, so hash-green certifies the
    # scrub -> store -> load -> report roundtrip (the
    # stored_shard_report pattern)
    r["scrub_stored_report"] = Query(
        lambda spark, sf: textprep.scrub_stored_report(spark, sf),
        textprep.scrub_stored_report_oracle(),
        ("text", "dedup", "lifecycle"),
    )
    # pad-to-bucket batching economics (r9): the dynamic-batching
    # counterpart of pack_sequences — per power-of-two length bucket,
    # the padding waste a trainer pays if it buckets instead of packs
    r["length_bucket_plan"] = Query(
        lambda spark, sf: textprep.length_bucket_plan(spark, sf),
        textprep.length_bucket_plan_oracle(),
        ("text", "pipeline"),
    )
    # pairwise Jensen-Shannon divergence between source unigram
    # distributions (r9): the data-mixing diagnostic — near-zero JSD
    # flags statistically-duplicate sources per-document dedup misses
    r["source_divergence"] = Query(
        lambda spark, sf: quality.source_divergence(spark, sf),
        quality.source_divergence_oracle(),
        ("text", "quality", "pipeline"),
    )
    # count-min-sketch term frequencies with exact twins + CMS-guarantee
    # contract booleans — the frequency sketch beside the HLL rollups
    r["heavy_hitters"] = Query(
        lambda spark, sf: textstats.heavy_hitters(spark, sf),
        textstats.heavy_hitters_oracle(),
        ("text", "sketch"),
    )
    # DSIR hashed-unigram importance weights (target = English slice)
    r["dsir_weights"] = Query(
        lambda spark, sf: quality.dsir_weights(spark, sf),
        quality.dsir_weights_oracle(),
        ("quality", "sampling"),
    )
    # token-budget → per-source Bernoulli sampling rates
    r["mixture_plan"] = Query(
        lambda spark, sf: textprep.mixture_plan(spark, sf),
        textprep.mixture_plan_oracle(),
        ("sampling", "profiling"),
    )
    # budget > corpus: epochs, repeated mass, diminishing-returns
    # effective tokens per source (data-constrained scaling planner)
    r["repetition_budget_plan"] = Query(
        lambda spark, sf: textprep.repetition_budget_plan(spark, sf),
        textprep.repetition_budget_plan_oracle(),
        ("sampling", "profiling"),
    )
    r["skew_profile"] = Query(
        lambda spark, sf: layout.skew_profile(spark, sf),
        layout.skew_profile_oracle(),
        ("layout",),
    )
    r["events_zorder"] = Query(
        layout.events_zorder, layout.events_zorder_oracle(), ("layout",)
    )
    # file-skipping effectiveness per physical layout: zone maps over
    # key-range files x predicate set -> scan fraction + read amp
    r["zone_map_pruning"] = Query(
        layout.zone_map_pruning,
        layout.zone_map_pruning_oracle(),
        ("layout",),
    )
    # skew measurements -> concrete salt factors per hot key
    r["join_skew_advisor"] = Query(
        lambda spark, sf: layout.join_skew_advisor(spark, sf),
        layout.join_skew_advisor_oracle(),
        ("layout",),
    )
    # deterministic seeded shuffle into training shards (reproducible
    # data-loading order without a global sort)
    r["seeded_shuffle"] = Query(
        lambda spark, sf: layout.seeded_shuffle(spark, sf),
        layout.seeded_shuffle_oracle(),
        ("layout",),
    )
    # per-shard delivery manifest (doc/char/token totals + balance)
    r["shard_manifest"] = Query(
        lambda spark, sf: layout.shard_manifest(spark, sf),
        layout.shard_manifest_oracle(),
        ("layout",),
    )
    r["per_group_sample"] = Query(
        lambda spark, sf: textprep.per_group_sample(spark, sf),
        textprep.per_group_sample_oracle(),
        ("sampling",),
    )
    r["ivf_cluster_quality"] = Query(
        lambda spark, sf: ann.ivf_cluster_quality(spark, sf),
        ann.ivf_cluster_quality_oracle(),
        ("ann",),
    )
    # centroid-based simplified silhouette: compactness AND separation
    # per cell (ivf_cluster_quality is tightness-only)
    r["ivf_silhouette"] = Query(
        lambda spark, sf: ann.ivf_silhouette(spark, sf),
        ann.ivf_silhouette_oracle(),
        ("ann",),
    )
    # per-cell prototype/frontier diversity sample (SemDeDup-style
    # cluster-stratified selection; rides the persisted assignments)
    r["semantic_diverse_sample"] = Query(
        lambda spark, sf: ann.semantic_diverse_sample(spark, sf),
        ann.semantic_diverse_sample_oracle(),
        ("ann", "sampling"),
    )
    # one-row-per-metric IVF build health summary (balance, tightness)
    r["index_build_report"] = Query(
        lambda spark, sf: ann.index_build_report(spark, sf),
        ann.index_build_report_oracle(),
        ("ann", "profiling"),
    )

    # --- training-data pipeline: dedup ---
    r["dedup_exact"] = Query(dedup.dedup_exact, dedup.dedup_exact_oracle(), ("dedup", "bench"))
    r["minhash_signatures"] = Query(
        dedup.minhash_signatures, dedup.minhash_signatures_oracle(), ("dedup", "bench")
    )
    r["lsh_candidate_pairs"] = Query(
        dedup.lsh_candidate_pairs, dedup.lsh_candidate_pairs_oracle(), ("dedup", "bench")
    )
    # observability twin for the band cap above — saturated corpora
    # must be detectable, not silently under-deduped
    r["lsh_dropped_buckets"] = Query(
        lambda spark, sf: dedup.lsh_dropped_buckets(spark, sf),
        dedup.lsh_dropped_buckets_oracle(),
        ("dedup", "report"),
    )
    r["exact_jaccard_verify"] = Query(
        dedup.exact_jaccard_verify, dedup.exact_jaccard_verify_oracle(), ("dedup",)
    )
    # same exact-verify stage fed by the embedding sign-LSH blocking
    # scheme — one funnel, two interchangeable candidate sources
    r["embedding_lsh_verified"] = Query(
        lambda spark, sf: dedup.embedding_lsh_verified(spark, sf),
        dedup.embedding_lsh_verified_oracle(),
        ("dedup",),
    )
    r["minhash_jaccard_estimates"] = Query(
        dedup.minhash_jaccard_estimates,
        dedup.minhash_jaccard_estimates_oracle(),
        ("dedup",),
    )
    r["simhash"] = Query(dedup.simhash, dedup.simhash_oracle(), ("dedup",))
    r["simhash_near_dups"] = Query(
        lambda spark, sf: dedup.simhash_near_dups(spark, sf),
        dedup.simhash_near_dups_oracle(),
        ("dedup",),
    )
    # production-scale global simhash path: 60-bit fingerprint, 4x15-bit
    # prefix bands, pigeonhole-complete for Hamming <= 3
    r["simhash_banded_near_dups"] = Query(
        lambda spark, sf: dedup.simhash_banded_near_dups(spark, sf),
        dedup.simhash_banded_near_dups_oracle(),
        ("dedup", "bench"),
    )
    # observability for the band cap (NGRAM_DF_CAP pattern): buckets
    # dropped / total / widest — flags duplicate-saturated corpora
    r["simhash_dropped_bands"] = Query(
        lambda spark, sf: dedup.simhash_dropped_bands(spark, sf),
        dedup.simhash_dropped_bands_oracle(),
        ("dedup", "report"),
    )
    # third exact-verify backend: bounded-window Levenshtein over LSH
    # candidates (char-level near-dup class Jaccard under-reports)
    r["edit_distance_verify"] = Query(
        lambda spark, sf: dedup.edit_distance_verify(spark, sf),
        dedup.edit_distance_verify_oracle(),
        ("dedup",),
    )
    # composed IVFADC+refine — the full production ANN query plan
    r["ivf_pq_topk"] = Query(
        lambda spark, sf: ann.ivf_pq_topk(spark, sf),
        ann.ivf_pq_topk_oracle(),
        ("ann", "bench"),
    )
    # Matryoshka truncation evaluation: recall@k at half the vector bytes
    r["dim_truncation_recall"] = Query(
        lambda spark, sf: ann.dim_truncation_recall(spark, sf),
        ann.dim_truncation_recall_oracle(),
        ("ann",),
    )
    # bigram add-k LM self-scoring, one order up from unigram_logprob
    r["bigram_lm_score"] = Query(
        lambda spark, sf: quality.bigram_lm_score(spark, sf),
        quality.bigram_lm_score_oracle(),
        ("quality",),
    )
    # small-files compaction planning over per-source file metadata
    r["compaction_plan"] = Query(
        lambda spark, sf: layout.compaction_plan(spark, sf),
        layout.compaction_plan_oracle(),
        ("layout",),
    )
    # contrastive-training prep: banded top-k negatives per anchor
    r["hard_negative_mining"] = Query(
        lambda spark, sf: ann.hard_negative_mining(spark, sf),
        ann.hard_negative_mining_oracle(),
        ("ann",),
    )
    # windowed per-user admission cap (deterministic rate limiting)
    r["rate_limited_events"] = Query(
        lambda spark, sf: timeseries.rate_limited_events(spark, sf),
        timeseries.rate_limited_events_oracle(),
        ("events",),
    )
    # SCD2 validity intervals from the event stream (temporal table)
    r["scd2_user_state"] = Query(
        timeseries.scd2_user_state,
        timeseries.scd2_user_state_oracle(),
        ("events",),
    )
    # outlier-robust metric prep: clip at 6-dp-rounded exact quantiles
    r["winsorized_event_stats"] = Query(
        lambda spark, sf: timeseries.winsorized_event_stats(spark, sf),
        timeseries.winsorized_event_stats_oracle(),
        ("events",),
    )
    # 100 TB twin: approx_percentile clip thresholds, validated against
    # the exact twin via contract booleans in the same plan
    r["winsorized_event_stats_approx"] = Query(
        lambda spark, sf: timeseries.winsorized_event_stats_approx(spark, sf),
        timeseries.winsorized_event_stats_approx_oracle(),
        ("events", "sketch"),
    )
    # per-doc memorization-risk gate over the repeated-spans stream
    r["doc_span_novelty"] = Query(
        lambda spark, sf: textprep.doc_span_novelty(spark, sf),
        textprep.doc_span_novelty_oracle(),
        ("textprep",),
    )
    # feature-store point-in-time join against the SCD2 history
    r["point_in_time_state"] = Query(
        timeseries.point_in_time_state,
        timeseries.point_in_time_state_oracle(),
        ("events", "join"),
    )
    # self-retrieval MRR: multi-query batch BM25 evaluation harness
    r["known_item_search_eval"] = Query(
        lambda spark, sf: textstats.known_item_search_eval(spark, sf),
        textstats.known_item_search_eval_oracle(),
        ("text", "eval"),
    )
    # embedding-space distribution shift between dataset splits
    r["split_centroid_drift"] = Query(
        ann.split_centroid_drift,
        ann.split_centroid_drift_oracle(),
        ("ann", "eval"),
    )
    # catalog NDV statistics: exact twin + HLL accuracy contract
    r["column_cardinality_profile"] = Query(
        lambda spark, sf: layout.column_cardinality_profile(spark, sf),
        layout.column_cardinality_profile_oracle(),
        ("layout", "sketch"),
    )
    # min/max witness points per time bucket (dashboard downsampling)
    r["event_minmax_downsample"] = Query(
        lambda spark, sf: timeseries.event_minmax_downsample(spark, sf),
        timeseries.event_minmax_downsample_oracle(),
        ("events",),
    )
    # mT5-style temperature reweighting (mixture_plan's tunable sibling)
    r["temperature_mixture_plan"] = Query(
        lambda spark, sf: textprep.temperature_mixture_plan(spark, sf),
        textprep.temperature_mixture_plan_oracle(),
        ("textprep",),
    )
    # A-ES weighted sampling without replacement, hash-deterministic
    r["weighted_sample"] = Query(
        lambda spark, sf: textprep.weighted_sample(spark, sf),
        textprep.weighted_sample_oracle(),
        ("textprep", "sampling"),
    )
    # per-label L2-norm audit: index-build input validation
    r["embedding_norm_audit"] = Query(
        lambda spark, sf: ann.embedding_norm_audit(spark, sf),
        ann.embedding_norm_audit_oracle(),
        ("ann", "quality"),
    )
    r["dedup_clusters"] = Query(
        lambda spark, sf: dedup.dedup_clusters(spark, sf),
        dedup.dedup_clusters_oracle(),
        ("dedup", "iterative"),
    )
    # funnel's final stage: per-doc keep/drop verdict + canonical pointer
    r["dedup_representatives"] = Query(
        lambda spark, sf: dedup.dedup_representatives(spark, sf),
        dedup.dedup_representatives_oracle(),
        ("dedup", "iterative"),
    )
    # per-stage funnel summary (corpus -> exact -> candidates -> verified)
    r["dedup_funnel_report"] = Query(
        lambda spark, sf: dedup.dedup_funnel_report(spark, sf),
        dedup.dedup_funnel_report_oracle(),
        ("dedup", "profiling"),
    )
    # candidate-graph degree histogram (blocking-explosion diagnostic)
    r["dup_graph_degrees"] = Query(
        lambda spark, sf: dedup.dup_graph_degrees(spark, sf),
        dedup.dup_graph_degrees_oracle(),
        ("dedup", "profiling"),
    )
    r["embedding_lsh_near_dups"] = Query(
        lambda spark, sf: dedup.embedding_lsh_near_dups(spark, sf),
        dedup.embedding_lsh_near_dups_oracle(),
        ("dedup", "vector"),
    )
    # observability twin for the sign-LSH bucket cap above
    r["embedding_lsh_dropped_buckets"] = Query(
        lambda spark, sf: dedup.embedding_lsh_dropped_buckets(spark, sf),
        dedup.embedding_lsh_dropped_buckets_oracle(),
        ("dedup", "vector", "report"),
    )
    r["ngram_jaccard_pairs"] = Query(
        lambda spark, sf: dedup.ngram_jaccard_pairs(spark, sf),
        dedup.ngram_jaccard_pairs_oracle(),
        ("dedup", "bench"),
    )
    r["ngram_dropped_shingles"] = Query(
        lambda spark, sf: dedup.ngram_dropped_shingles(spark, sf),
        dedup.ngram_dropped_shingles_oracle(),
        ("dedup",),
    )
    r["embedding_near_dups"] = Query(
        lambda spark, sf: dedup.embedding_near_dups(spark, sf),
        dedup.embedding_near_dups_oracle(),
        ("dedup", "vector", "bench"),
    )
    # SemDeDup: within-IVF-cluster cosine pruning — the semantic dedup
    # pass that runs after the lexical funnel
    r["semantic_dedup"] = Query(
        lambda spark, sf: dedup.semantic_dedup(spark, sf),
        dedup.semantic_dedup_oracle(),
        ("dedup", "vector"),
    )
    # near-dup pairs straddling a train/val/test boundary — the
    # split-induced contamination audit (decontaminate's sibling)
    r["split_leakage"] = Query(
        lambda spark, sf: dedup.split_leakage(spark, sf),
        dedup.split_leakage_oracle(),
        ("dedup", "split"),
    )
    # blocking-quality eval: LSH candidate recall/precision vs exact
    # n-gram Jaccard ground truth (the dedup analog of ann_recall_at_k)
    r["lsh_recall_report"] = Query(
        lambda spark, sf: dedup.lsh_recall_report(spark, sf),
        dedup.lsh_recall_report_oracle(),
        ("dedup",),
    )
    # cross-source near-duplication matrix over the shared funnel
    # (mirror/scrape detection between sources)
    r["source_overlap"] = Query(
        lambda spark, sf: dedup.source_overlap(spark, sf),
        dedup.source_overlap_oracle(),
        ("dedup",),
    )
    # the (bands, rows) tuning sweep: one row per banding config, all
    # sharing a single persisted signature pass
    r["minhash_band_sweep"] = Query(
        lambda spark, sf: dedup.minhash_band_sweep(spark, sf),
        dedup.minhash_band_sweep_oracle(),
        ("dedup",),
    )
    # Bloom-bitset membership decontamination — the broadcast structure
    # that replaces the raw benchmark-shingle set at 100 TB
    r["bloom_decontaminate"] = Query(
        lambda spark, sf: textprep.bloom_decontaminate(spark, sf),
        textprep.bloom_decontaminate_oracle(),
        ("dedup", "split"),
    )

    # --- training-data pipeline: similarity search ---
    r["ann_topk"] = Query(
        lambda spark, sf: ann.ann_topk(spark, sf), ann.ann_topk_oracle(), ("vector", "bench")
    )
    r["ivf_assignments"] = Query(
        lambda spark, sf: ann.ivf_assignments(spark, sf),
        ann.ivf_assignments_oracle(),
        ("vector", "index-build"),
    )
    r["ivf_centroid_update"] = Query(
        lambda spark, sf: ann.ivf_centroid_update(spark, sf),
        ann.ivf_centroid_update_oracle(),
        ("vector", "index-build"),
    )
    r["ann_ivf_topk"] = Query(
        lambda spark, sf: ann.ann_ivf_topk(spark, sf), ann.ann_ivf_topk_oracle(), ("vector",)
    )
    # training-free query path: multi-probe sign-LSH buckets pushed
    # into the scan as an IN filter (partition pruning on a
    # bucket-partitioned layout) + its recall gate
    r["ann_lsh_topk"] = Query(
        lambda spark, sf: ann.ann_lsh_topk(spark, sf),
        ann.ann_lsh_topk_oracle(),
        ("vector",),
    )
    r["ann_lsh_recall_at_k"] = Query(
        lambda spark, sf: ann.ann_lsh_recall_at_k(spark, sf),
        ann.ann_lsh_recall_at_k_oracle(),
        ("vector", "report"),
    )
    r["generate_vectors"] = Query(
        lambda spark, sf: ann.generate_vectors_summary(spark, sf),
        ann.generate_vectors_oracle(),
        ("vector", "index-build"),
    )
    # one unrolled Lloyd iteration (update -> re-assign) with per-centroid
    # shift — the oracle-pinned k-means iteration body
    r["ivf_train"] = Query(
        lambda spark, sf: ann.ivf_train(spark, sf),
        ann.ivf_train_oracle(),
        ("vector", "index-build", "iterative"),
    )
    # TWO unrolled Lloyd iterations with per-round telemetry — pins the
    # round-to-round composition (round 2 assigns against round 1's
    # updated means + empty-cell carry-forward) that ivf_train's single
    # iteration can't; the oracle-pinned body of ivf_train_converged,
    # whose fixpoint loop is pytest-pinned (test_pipeline_ops.py)
    r["ivf_train_iters"] = Query(
        lambda spark, sf: ann.ivf_train_iters(spark, sf),
        ann.ivf_train_iters_oracle(),
        ("vector", "index-build", "iterative"),
    )
    # incremental index maintenance: delta-only assignment against the
    # frozen index (anti-join worklist shape) + the reassignment-rate
    # audit that decides upsert-vs-rebuild
    r["ivf_upsert_assignments"] = Query(
        lambda spark, sf: ann.ivf_upsert_assignments(spark, sf),
        ann.ivf_upsert_assignments_oracle(),
        ("vector", "index-build", "worklist"),
    )
    r["ivf_staleness_report"] = Query(
        lambda spark, sf: ann.ivf_staleness_report(spark, sf),
        ann.ivf_staleness_report_oracle(),
        ("vector", "index-build", "report"),
    )
    # post-merge balance audit: stored rows + upsert delta profiled per
    # centroid (streaming/vectors.py:stream_ivf_upsert produces the
    # delta continuously; this is the write step's acceptance report)
    r["ivf_index_merge"] = Query(
        lambda spark, sf: ann.ivf_index_merge(spark, sf),
        ann.ivf_index_merge_oracle(),
        ("vector", "index-build", "report"),
    )
    # the stored-index lifecycle end to end: build -> store (warehouse
    # parquet) -> load -> serve the merge audit with delta-only corpus
    # cost; the oracle re-derives from base tables so a green row
    # certifies the storage roundtrip value-for-value
    r["index_lifecycle_report"] = Query(
        lambda spark, sf: ann.index_lifecycle_report(spark, sf),
        ann.index_lifecycle_report_oracle(),
        ("vector", "index-build", "report", "lifecycle"),
    )
    # staleness audit on the stored-index path: frozen set = warehouse
    # table + delta upsert (persisted once), content-identical to the
    # bulk re-derivation so the oracle is unchanged
    r["ivf_staleness_stored"] = Query(
        lambda spark, sf: ann.ivf_staleness_stored(spark, sf),
        ann.ivf_staleness_stored_oracle(),
        ("vector", "index-build", "report", "lifecycle"),
    )
    r["knn_join"] = Query(
        lambda spark, sf: ann.knn_join(spark, sf), ann.knn_join_oracle(), ("vector", "bench")
    )
    r["knn_label_accuracy"] = Query(
        lambda spark, sf: ann.knn_label_accuracy(spark, sf),
        ann.knn_label_accuracy_oracle(),
        ("vector", "eval"),
    )
    r["ivf_label_purity"] = Query(
        lambda spark, sf: ann.ivf_label_purity(spark, sf),
        ann.ivf_label_purity_oracle(),
        ("vector", "index-build", "eval"),
    )
    r["cross_lingual_near_dups"] = Query(
        lambda spark, sf: dedup.cross_lingual_near_dups(spark, sf),
        dedup.cross_lingual_near_dups_oracle(),
        ("dedup", "eval"),
    )
    r["pq_codes"] = Query(
        ann.pq_codes, ann.pq_codes_oracle(), ("vector", "index-build", "bench")
    )
    r["pq_adc_topk"] = Query(
        lambda spark, sf: ann.pq_adc_topk(spark, sf), ann.pq_adc_topk_oracle(), ("vector",)
    )
    r["pq_rerank_topk"] = Query(
        lambda spark, sf: ann.pq_rerank_topk(spark, sf),
        ann.pq_rerank_topk_oracle(),
        ("vector",),
    )

    # --- training-data pipeline: text analysis ---
    r["lang_id"] = Query(textstats.lang_id, textstats.lang_id_oracle(), ("text", "bench"))
    r["text_quality"] = Query(textstats.text_quality, textstats.text_quality_oracle(), ("text",))
    r["token_counts"] = Query(textstats.token_counts, textstats.token_counts_oracle(), ("text",))
    r["doc_fingerprints"] = Query(
        textstats.doc_fingerprints, textstats.doc_fingerprints_oracle(), ("text",)
    )
    r["top_terms"] = Query(
        lambda spark, sf: textstats.top_terms(spark, sf),
        textstats.top_terms_oracle(),
        ("text", "bench"),
    )
    # tokenizer-vocabulary OOV audit per source (top-v corpus vocab
    # broadcast back into the token stream)
    r["vocab_coverage"] = Query(
        lambda spark, sf: textstats.vocab_coverage(spark, sf),
        textstats.vocab_coverage_oracle(),
        ("text",),
    )
    r["dataset_splits"] = Query(
        textstats.dataset_splits, textstats.dataset_splits_oracle(), ("text", "split")
    )

    # --- training-data pipeline: corpus preparation ---
    r["repetition_stats"] = Query(
        textprep.repetition_stats, textprep.repetition_stats_oracle(), ("text", "filter", "bench")
    )
    r["doc_chunks"] = Query(
        lambda spark, sf: textprep.doc_chunks(spark, sf),
        textprep.doc_chunks_oracle(),
        ("text", "chunking"),
    )
    r["stratified_sample"] = Query(
        textprep.stratified_sample, textprep.stratified_sample_oracle(), ("text", "sampling")
    )
    r["decontaminate"] = Query(
        textprep.decontaminate, textprep.decontaminate_oracle(), ("text", "dedup", "bench")
    )
    r["pack_sequences"] = Query(
        lambda spark, sf: textprep.pack_sequences(spark, sf),
        textprep.pack_sequences_oracle(),
        ("text", "packing"),
    )
    # per-split packing waste summary (window-free twin aggregation)
    r["pack_efficiency_report"] = Query(
        lambda spark, sf: textprep.pack_efficiency_report(spark, sf),
        textprep.pack_efficiency_report_oracle(),
        ("text", "packing", "profiling"),
    )
    # token-length distribution for sequence-length selection
    r["token_length_histogram"] = Query(
        lambda spark, sf: textstats.token_length_histogram(spark, sf),
        textstats.token_length_histogram_oracle(),
        ("text", "profiling"),
    )
    # cross-document repeated n-gram spans: the scalable boilerplate /
    # substring-dedup proxy (suffix-array dedup's cheap sibling)
    r["repeated_spans"] = Query(
        lambda spark, sf: textprep.repeated_spans(spark, sf),
        textprep.repeated_spans_oracle(),
        ("text", "dedup"),
    )
    # substring-dedup upgrade: shingle runs chained into MAXIMAL
    # repeated substrings (Lee et al. 2022 shape); repeated_spans is
    # the cheap fixed-width sibling
    r["repeated_substring_spans"] = Query(
        lambda spark, sf: textprep.repeated_substring_spans(spark, sf),
        textprep.repeated_substring_spans_oracle(),
        ("text", "dedup"),
    )
    r["mixture_report"] = Query(
        textprep.mixture_report, textprep.mixture_report_oracle(), ("text", "profiling")
    )
    r["top_quality_per_source"] = Query(
        lambda spark, sf: textprep.top_quality_per_source(spark, sf),
        textprep.top_quality_per_source_oracle(),
        ("text", "curation"),
    )
    r["corpus_profile"] = Query(
        textprep.corpus_profile, textprep.corpus_profile_oracle(), ("text", "profiling")
    )

    # --- event-time relational ops (as-of join, quantiles, sketches) ---
    r["asof_attribution"] = Query(
        timeseries.asof_attribution, timeseries.asof_attribution_oracle(), ("events", "bench")
    )
    r["interval_click_counts"] = Query(
        lambda spark, sf: timeseries.interval_click_counts(spark, sf),
        timeseries.interval_click_counts_oracle(),
        ("events", "join"),
    )
    r["event_rollup"] = Query(
        timeseries.event_rollup, timeseries.event_rollup_oracle(), ("events", "agg")
    )
    r["event_props_rollup"] = Query(
        timeseries.event_props_rollup, timeseries.event_props_rollup_oracle(), ("events", "json")
    )
    r["event_value_quantiles"] = Query(
        timeseries.event_value_quantiles,
        timeseries.event_value_quantiles_oracle(),
        ("events", "agg"),
    )
    # 100 TB twin: Greenwald-Khanna summaries with accuracy-contract
    # booleans against the exact quartiles (hll_daily_users pattern)
    r["event_value_quantiles_approx"] = Query(
        lambda spark, sf: timeseries.event_value_quantiles_approx(spark, sf),
        timeseries.event_value_quantiles_approx_oracle(),
        ("events", "sketch"),
    )
    # sketch estimates emitted as accuracy-contract booleans (oracle
    # expects TRUE) + exact twins — same pattern as hll_daily_users
    r["sketch_event_profile"] = Query(
        timeseries.sketch_event_profile,
        timeseries.sketch_event_profile_oracle(),
        ("events", "sketch"),
    )

    # --- multimodal columns ---
    r["media_inventory"] = Query(
        multimodal.media_inventory, multimodal.media_inventory_oracle(), ("multimodal",)
    )
    r["frame_sample_plan"] = Query(
        lambda spark, sf: multimodal.frame_sample_plan(spark, sf),
        multimodal.frame_sample_plan_oracle(),
        ("multimodal",),
    )
    # mapInPandas decode stage: the stub codec is deterministic, so
    # DuckDB re-derives it from the md5 hex digest — full oracle check
    r["media_features"] = Query(
        lambda spark, sf: multimodal.media_features(spark, sf),
        multimodal.media_features_oracle(),
        ("multimodal", "udf"),
    )
    # bytes-level exact dedup over the binary media column — the
    # multimodal twin of dedup_exact, no decode needed
    r["media_dedup"] = Query(
        multimodal.media_dedup, multimodal.media_dedup_oracle(), ("multimodal", "dedup")
    )
    # the RESIZE stage (decode -> resize -> encode normalization pass):
    # Arrow-batched mapInPandas with real dimension arithmetic and the
    # documented deterministic stub standing in for the pixel resample
    r["media_resize"] = Query(
        lambda spark, sf: multimodal.media_resized(spark, sf),
        multimodal.media_resized_oracle(),
        ("multimodal", "udf"),
    )
    # r10: oracle-grade certification of the REAL resample arm — the
    # actual media_resized stage run over a generative corpus of
    # vendored-encoder PNGs, with decode-back contract booleans the
    # oracle pins to TRUE (and the arm pinned to the literal 'real')
    r["media_resize_contract"] = Query(
        lambda spark, sf: multimodal.media_resize_contract(spark, sf),
        multimodal.media_resize_contract_oracle(),
        ("multimodal", "udf"),
    )
    # r11: JPEG twin — certifies the vendored baseline-JPEG decoder's
    # arm of media_resized the same way (generative vendored-encoder
    # corpus, contract booleans pinned TRUE, arm pinned 'real'; the
    # roundtrip stays exact because the resize output is PNG and the
    # comparison reference is the JPEG's own decoded luminance)
    r["media_resize_contract_jpeg"] = Query(
        lambda spark, sf: multimodal.media_resize_contract_jpeg(spark, sf),
        multimodal.media_resize_contract_jpeg_oracle(),
        ("multimodal", "udf"),
    )
    # r11: perceptual average-hash over REAL decoded pixels, VALUE-
    # pinned end-to-end (the constructed-duplicate corpus makes the
    # expected 64-bit fingerprint pure doc_id arithmetic) — and the
    # capped self-join listing the resized/re-encoded duplicate pairs
    # binary dedup is blind to
    r["media_phash"] = Query(
        lambda spark, sf: multimodal.media_phash(spark, sf),
        multimodal.media_phash_oracle(),
        ("multimodal", "dedup", "udf"),
    )
    r["media_phash_dup_pairs"] = Query(
        lambda spark, sf: multimodal.media_phash_dup_pairs(spark, sf),
        multimodal.media_phash_dup_pairs_oracle(),
        ("multimodal", "dedup"),
    )
    # r12: the perceptual image front door (batch twin of
    # streaming/ingest.stream_media_ingest_dedup) — arriving blobs
    # whose average-hash already appears in the known corpus's
    # broadcast fingerprint set are rejected; both roles re-derived
    # in the oracle so the real decode of BOTH sides is value-pinned
    r["media_ingest_dedup"] = Query(
        lambda spark, sf: multimodal.media_ingest_dedup(spark, sf),
        multimodal.media_ingest_dedup_oracle(),
        ("multimodal", "dedup", "streaming", "udf"),
    )
    # r12: Hamming<=3 perceptual near-dup pairs — the crop/watermark/
    # brightness edits identical-hash dedup misses, via 4x16-bit
    # prefix banding (pigeonhole-complete; the simhash_banded_near_dups
    # discipline applied to the image fingerprint) over a constructed
    # near-twin corpus whose expected pair set is pure doc_id
    # arithmetic — plus the dropped-bucket observability twin
    r["media_phash_near_dup_pairs"] = Query(
        lambda spark, sf: multimodal.media_phash_near_dup_pairs(spark, sf),
        multimodal.media_phash_near_dup_pairs_oracle(),
        ("multimodal", "dedup", "udf"),
    )
    r["media_phash_dropped_bands"] = Query(
        lambda spark, sf: multimodal.media_phash_dropped_bands(spark, sf),
        multimodal.media_phash_dropped_bands_oracle(),
        ("multimodal", "dedup"),
    )
    # r12: the image front door's admission ledger (verdict per
    # arriving blob, exact > perceptual > accepted) — completes the
    # observability pattern the text front door set
    r["media_ingest_decision_report"] = Query(
        lambda spark, sf: multimodal.media_ingest_decision_report(spark, sf),
        multimodal.media_ingest_decision_report_oracle(),
        ("multimodal", "dedup", "streaming", "udf"),
    )
    # r12: the audio modality goes REAL — vendored RIFF/WAVE PCM16
    # codec, one decode pass to an array<int> column, every feature
    # downstream is Catalyst HOF arithmetic; the square-wave corpus
    # makes every value doc_id arithmetic, so DuckDB value-pins the
    # whole decode+HOF chain (the image evidence pattern, 3rd modality)
    r["audio_features"] = Query(
        lambda spark, sf: multimodal.audio_features(spark, sf),
        multimodal.audio_features_oracle(),
        ("multimodal", "udf"),
    )
    r["audio_frame_energy"] = Query(
        lambda spark, sf: multimodal.audio_frame_energy(spark, sf),
        multimodal.audio_frame_energy_oracle(),
        ("multimodal", "udf"),
    )
    # r12: the NEAR-dup escalation of the image front door — band
    # membership against the known corpus's 4x16-bit band set (the
    # text ingest_near_dedup pattern on the perceptual fingerprint)
    r["media_ingest_near_dedup"] = Query(
        lambda spark, sf: multimodal.media_ingest_near_dedup(spark, sf),
        multimodal.media_ingest_near_dedup_oracle(),
        ("multimodal", "dedup", "streaming", "udf"),
    )
    # r12: loudness-invariant audio dedup — sign-sequence fingerprint
    # collisions under the repo's capped hash-keyed self-join discipline
    r["audio_dup_pairs"] = Query(
        lambda spark, sf: multimodal.audio_dup_pairs(spark, sf),
        multimodal.audio_dup_pairs_oracle(),
        ("multimodal", "dedup", "udf"),
    )
    # loudness-invariant audio front door: arriving recordings whose
    # sign-sequence fingerprint the known corpus already holds are dropped
    r["audio_ingest_dedup"] = Query(
        lambda spark, sf: multimodal.audio_ingest_dedup(spark, sf),
        multimodal.audio_ingest_dedup_oracle(),
        ("multimodal", "audio", "ingest"),
    )

    # --- event-time analytics (streaming twins in streaming/events.py) ---
    r["windowed_event_counts"] = Query(
        streaming_events.windowed_event_counts,
        streaming_events.windowed_event_counts_oracle(),
        ("streaming", "bench"),
    )
    # overlapping 15m/5m windows — the sliding shape tumbling can't express
    r["sliding_event_counts"] = Query(
        streaming_events.sliding_event_counts,
        streaming_events.sliding_event_counts_oracle(),
        ("streaming",),
    )
    r["sessionize"] = Query(
        lambda spark, sf: streaming_events.sessionize(spark, sf),
        streaming_events.sessionize_oracle(),
        ("streaming", "bench"),
    )
    r["enriched_events"] = Query(
        streaming_events.enriched_events,
        streaming_events.enriched_events_oracle(),
        ("streaming", "join"),
    )
    return r

QUERIES: dict[str, Query] = _registry()

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.builder for name, q in QUERIES.items()}

def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items()}
