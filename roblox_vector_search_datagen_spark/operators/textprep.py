"""Corpus-preparation operators: the transformations a pretraining
pipeline runs between "raw crawl" and "training shards" — repetition
filtering (Gopher-style), token-window chunking, stratified mixture
sampling, train/test decontamination, and token-budget sequence
packing.

These extend the reference's corpus-maintenance surface (pruneGames.ts
is its only quality filter — predicate prune at pruneGames.ts:152-186)
to the scale jobs a 100 TB text corpus actually needs. All five are
pure Catalyst pipelines (no Python in the hot path):

- repetition_stats / stratified_sample are single-pass projections —
  zero shuffles, embarrassingly parallel at any scale.
- doc_chunks explodes each doc into overlapping windows — one narrow
  generator stage, output partitions inherit input partitioning.
- decontaminate joins the exploded train-side shingles against the
  DISTINCT benchmark shingle set — the benchmark side of a real
  decontamination run is tiny (eval sets), so it broadcasts and the
  100 TB side never shuffles.
- pack_sequences windows over (split, shard) — packing is per-shard
  streaming-greedy, so parallelism equals shard count and no global
  sort exists.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import parallelism
from ..functions.caching import persist_if
from ..sources import tables

ROUND = 6

def _words(col) -> F.Column:
    return F.split(col, r"\s+")

def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: distinct-word
    fraction, top-word dominance, duplicate-bigram fraction, and the
    resulting keep/drop verdict (Rae et al. 2021, "Scaling Language
    Models", repetition filters C.2). One projection pass, no shuffle;
    the O(distinct×n) top-word scan stays inside codegen'd higher-order
    functions instead of a Python UDF."""
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents"
    )

    def from_words(w):
        n = F.size(w)
        dw = F.array_distinct(w)
        top = F.array_max(F.transform(dw, lambda t: F.size(F.filter(w, lambda x: x == t))))
        bigrams = F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(" ", F.element_at(w, i + 1), F.element_at(w, i + 2)),
        )
        dup_bigram = F.when(
            n >= 2,
            F.round(1.0 - F.size(F.array_distinct(bigrams)) / (n - 1).cast("double"), ROUND),
        ).otherwise(F.lit(0.0))
        frac_distinct = F.round(F.size(dw) / n.cast("double"), ROUND)
        top_frac = F.round(top / n.cast("double"), ROUND)
        return F.struct(
            n.cast("int").alias("n_words"),
            frac_distinct.alias("frac_distinct"),
            top_frac.alias("top_word_frac"),
            dup_bigram.alias("dup_bigram_frac"),
            ((frac_distinct >= 0.3) & (top_frac <= 0.2) & (dup_bigram <= 0.3)).alias("keep"),
        )

    r = H.let_expr(_words(F.lower("text")), from_words)
    return d.select("doc_id", r.alias("r")).select("doc_id", "r.*")

def repetition_stats_oracle() -> str:
    w = "string_split_regex(lower(text), '\\s+')"
    return f"""
WITH t AS (
  SELECT doc_id, {w} AS w, len({w}) AS n FROM documents
), m AS (
  SELECT doc_id, n,
    round(CAST(len(list_distinct(w)) AS DOUBLE) / n, {ROUND}) AS frac_distinct,
    round(CAST(list_max(list_transform(list_distinct(w),
        t -> len(list_filter(w, x -> x = t)))) AS DOUBLE) / n, {ROUND}) AS top_word_frac,
    CASE WHEN n >= 2 THEN round(1.0 - CAST(len(list_distinct(
        list_transform(range(1, n), i -> w[i] || ' ' || w[i+1]))) AS DOUBLE)
        / (n - 1), {ROUND}) ELSE 0.0 END AS dup_bigram_frac
  FROM t
)
SELECT doc_id, CAST(n AS INT) AS n_words, frac_distinct, top_word_frac, dup_bigram_frac,
       (frac_distinct >= 0.3 AND top_word_frac <= 0.2 AND dup_bigram_frac <= 0.3) AS keep
FROM m
"""

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48

def doc_chunks(
    spark: SparkSession, sf_dir: str, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping token-window chunking (chunk=64, stride=48): the
    long-document splitter feeding a fixed-context trainer or an
    embedding index. Start offsets are a generated sequence exploded to
    one row per window; the token array is carried through the explode
    so each chunk is a slice, not a re-tokenize. Generators cannot nest
    inside expressions, so the plan projects in two steps."""
    d = tables.load_table(spark, sf_dir, "documents")
    with_words = d.select("doc_id", _words(F.col("text")).alias("w")).withColumn(
        "n", F.size("w")
    )
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0), F.ceil((F.col("n") - chunk) / F.lit(float(stride))).cast("int")
    )
    exploded = with_words.select(
        "doc_id",
        "w",
        "n",
        F.explode(F.transform(F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride)).alias(
            "start"
        ),
    )
    return exploded.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start_token"),
        F.least(F.lit(chunk), F.col("n") - F.col("start")).cast("int").alias("n_tokens"),
        F.array_join(F.slice("w", F.col("start") + 1, chunk), " ").alias("chunk_text"),
    )

def doc_chunks_oracle(chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE) -> str:
    w = "string_split_regex(text, '\\s+')"
    return f"""
WITH t AS (
  SELECT doc_id, {w} AS w, len({w}) AS n FROM documents
), c AS (
  SELECT doc_id, w, n,
         unnest(range(0, 1 + greatest(0, CAST(ceil((n - {chunk}) / {stride}.0) AS BIGINT)))) * {stride} AS start
  FROM t
)
SELECT doc_id,
       CAST(start / {stride} AS INT) AS chunk_idx,
       CAST(start AS INT) AS start_token,
       CAST(least({chunk}, n - start) AS INT) AS n_tokens,
       array_to_string(list_slice(w, start + 1, start + {chunk}), ' ') AS chunk_text
FROM c
"""

# Per-language mixture rates in per-mille: the domain-mixing knob of a
# corpus build (e.g. upsample en, downsample zh). Deterministic
# hash-gate membership — no RNG state, reproducible on any engine.
MIXTURE_PERMILLE: dict[str, int] = {"en": 1000, "es": 600, "fr": 450, "de": 250, "zh": 120}
MIXTURE_DEFAULT_PERMILLE = 50

def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified mixture sampling: keep a per-language deterministic
    fraction of documents by hash gate (h32(doc_id) % 1000 < rate).
    A pure filter-projection — no shuffle, no sampling state; the exact
    membership set is reproducible across engines and runs, which is
    what makes corpus mixtures auditable."""
    d = tables.load_table(spark, sf_dir, "documents")
    rate = F.lit(MIXTURE_DEFAULT_PERMILLE)
    for lg, r in MIXTURE_PERMILLE.items():
        rate = F.when(F.col("lang") == lg, r).otherwise(rate)
    gate = F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")) % 1000
    return (
        d.withColumn("rate_permille", rate.cast("int"))
        .filter(gate < F.col("rate_permille"))
        .select("doc_id", "lang", "source", "rate_permille")
    )

def stratified_sample_oracle() -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    rate = f"{MIXTURE_DEFAULT_PERMILLE}"
    for lg, r in MIXTURE_PERMILLE.items():
        rate = f"CASE WHEN lang = '{lg}' THEN {r} ELSE {rate} END"
    return f"""
SELECT doc_id, lang, source, CAST({rate} AS INT) AS rate_permille
FROM documents
WHERE {h} % 1000 < {rate}
"""

# Decontamination uses the same hash split as textstats.dataset_splits:
# train = bucket < 80, benchmark/test = bucket >= 90.
_TRAIN_BUCKET_LT = 80
_TEST_BUCKET_GE = 90

def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination report: train-split documents sharing
    at least one word shingle with any benchmark (test-split) document,
    with the count of shared shingles (the PaLM/GPT-3 n-gram-overlap
    decontamination check). Benchmark suites are tiny next to a 100 TB
    train corpus, so the distinct benchmark-shingle set is broadcast
    and the train side never shuffles for the join; the only exchange
    is the final per-doc count aggregation (map-side combined)."""
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents", "doc_id"
    )
    bucket = F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")) % 100
    docs = d.select(
        "doc_id", bucket.alias("bucket"), F.expr(H.word_shingles_expr_sql("text")).alias("sh")
    )
    train = docs.filter(F.col("bucket") < _TRAIN_BUCKET_LT).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    bench = (
        docs.filter(F.col("bucket") >= _TEST_BUCKET_GE)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_shingles"))
    )

def decontaminate_oracle() -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    shingles = H.word_shingles_sql("text")
    return f"""
WITH docs AS (
  SELECT doc_id, {h} % 100 AS bucket, {shingles} AS sh FROM documents
), train AS (
  SELECT doc_id, unnest(sh) AS shingle FROM docs WHERE bucket < {_TRAIN_BUCKET_LT}
), bench AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM docs WHERE bucket >= {_TEST_BUCKET_GE}
)
SELECT doc_id, CAST(count(*) AS INT) AS n_shared_shingles
FROM train JOIN bench USING (shingle)
GROUP BY doc_id
"""

def mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture accounting: documents and tokens per (source, lang) with
    each cell's fraction of total tokens — the report a corpus build
    publishes so the mixture actually trained on is auditable against
    the target weights (stratified_sample's rates). One aggregation
    whose output is |source|×|lang| rows; the grand total joins back as
    a broadcast single row rather than an all-to-one window, so nothing
    ever funnels through a single partition."""
    d = tables.load_table(spark, sf_dir, "documents")
    toks = d.select("source", "lang", F.size(_words(F.col("text"))).alias("n_tokens"))
    cells = toks.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    total = cells.agg(F.sum("n_tokens").alias("total_tokens"))
    return cells.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("total_tokens"), 6).alias("frac_tokens"),
    )

def mixture_report_oracle() -> str:
    w = "string_split_regex(text, '\\s+')"
    return f"""
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({w})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM cells), 6) AS frac_tokens
FROM cells
"""

TOP_PER_GROUP_K = 5

def top_quality_per_source(
    spark: SparkSession, sf_dir: str, k: int = TOP_PER_GROUP_K
) -> DataFrame:
    """Per-group top-k selection: the k highest-quality documents of
    each source (deterministic tie-break on doc_id) — the curation step
    that picks exemplar documents per domain. Quality is the same
    single-pass heuristic as textstats.text_quality, recomputed inline
    so the operator is one scan + one rank window whose shuffle carries
    only (source, doc_id, quality)."""
    from . import textstats

    q = textstats.text_quality(spark, sf_dir).select("doc_id", "quality")
    d = tables.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        d.join(q, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("source", F.col("rank").cast("int").alias("rank"), "doc_id", "quality")
    )

def top_quality_per_source_oracle(k: int = TOP_PER_GROUP_K) -> str:
    from . import textstats

    quality = textstats.text_quality_oracle()
    return f"""
WITH q AS ({quality}),
ranked AS (
  SELECT d.source, q.doc_id, q.quality,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY q.quality DESC, q.doc_id ASC) AS rank
  FROM q JOIN documents d ON d.doc_id = q.doc_id
)
SELECT source, CAST(rank AS INT) AS rank, doc_id, quality FROM ranked WHERE rank <= {k}
"""

def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile aggregate over the documents table: row count,
    null count, distinct count, min/max (stringified) for every column
    — the data-quality report a pipeline snapshots per ingest batch.
    One pass, one ungrouped aggregation; every per-column statistic is
    map-side combined, so the exchange carries a single partial-agg row
    per partition no matter the corpus size (distinct counts would be
    approx_count_distinct sketches at 100 TB — exact here to stay
    oracle-checkable)."""
    d = tables.load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in d.columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}_distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}_min"),
            F.max(F.col(c)).cast("string").alias(f"{c}_max"),
        ]
    return d.agg(*aggs)

def corpus_profile_oracle() -> str:
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    parts = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for c in cols:
        parts += [
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}_nulls",
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS {c}_distinct",
            f"CAST(min({c}) AS VARCHAR) AS {c}_min",
            f"CAST(max({c}) AS VARCHAR) AS {c}_max",
        ]
    sel = ",\n       ".join(parts)
    return f"SELECT {sel}\nFROM documents"

PACK_BUDGET_TOKENS = 256

def pack_sequences(
    spark: SparkSession, sf_dir: str, budget: int = PACK_BUDGET_TOKENS
) -> DataFrame:
    """Token-budget sequence packing: assign documents to training
    sequences of ~`budget` tokens by streaming-greedy fill (a doc
    starts a new sequence when the running total would pass the
    budget boundary; sequences may overflow by at most one doc — the
    standard concat-and-split trainer contract). Packing runs per
    (split, shard): the window partitions on the 100-way hash shard,
    so parallelism scales with shard count and no global sort exists
    — shard count would be O(corpus/executor-memory) at 100 TB."""
    d = tables.load_table(spark, sf_dir, "documents")
    bucket = F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")) % 100
    toks = d.select(
        "doc_id",
        bucket.cast("int").alias("shard"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
        F.size(_words(F.col("text"))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "split",
        "shard",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.floor(prev / budget).cast("int").alias("seq_id"),
        (prev % budget).cast("int").alias("seq_offset"),
    )

def pack_sequences_oracle(budget: int = PACK_BUDGET_TOKENS) -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    w = "string_split_regex(text, '\\s+')"
    return f"""
WITH t AS (
  SELECT doc_id,
         {h} % 100 AS shard,
         CASE WHEN {h} % 100 < 80 THEN 'train'
              WHEN {h} % 100 < 90 THEN 'val' ELSE 'test' END AS split,
         len({w}) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, split, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM t
)
SELECT doc_id, split, CAST(shard AS INT) AS shard, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor(prev / {budget}) AS INT) AS seq_id,
       CAST(prev % {budget} AS INT) AS seq_offset
FROM c
"""

def pack_efficiency_report(
    spark: SparkSession, sf_dir: str, budget: int = PACK_BUDGET_TOKENS
) -> DataFrame:
    """Packing-efficiency summary for `pack_sequences`: per split, how
    many documents and tokens went in, how many `budget`-token training
    sequences come out, and how many tokens the per-shard tails waste —
    the number that decides whether the shard count (or the budget) is
    right before a trainer burns a run on it. Under concat-and-split
    packing every sequence is exactly `budget` tokens except each
    (split, shard)'s last, so waste is purely the tail remainders:
    waste_rate = tail_waste / (n_sequences * budget). Emits
    (split, n_docs, total_tokens, n_sequences, tail_waste_tokens,
    waste_rate).

    Scale shape: no window at all — two map-side-combined aggregations
    (doc -> shard totals -> split rollup); the whole report is one
    corpus scan and two tiny exchanges."""
    d = tables.load_table(spark, sf_dir, "documents")
    bucket = F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")) % 100
    toks = d.select(
        bucket.cast("int").alias("shard"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
        F.size(_words(F.col("text"))).alias("n_tokens"),
    )
    per_shard = toks.groupBy("split", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tot"),
    )
    n_seq = F.floor((F.col("tot") + budget - 1) / budget)
    tail = (budget - F.col("tot") % budget) % budget
    return (
        per_shard.groupBy("split")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("tot").cast("bigint").alias("total_tokens"),
            F.sum(n_seq).cast("bigint").alias("n_sequences"),
            F.sum(tail).cast("bigint").alias("tail_waste_tokens"),
        )
        .select(
            "split",
            "n_docs",
            "total_tokens",
            "n_sequences",
            "tail_waste_tokens",
            F.round(
                F.col("tail_waste_tokens") / (F.col("n_sequences") * F.lit(budget)), 6
            ).alias("waste_rate"),
        )
    )

def pack_efficiency_report_oracle(budget: int = PACK_BUDGET_TOKENS) -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    w = "string_split_regex(text, '\\s+')"
    return f"""
WITH t AS (
  SELECT {h} % 100 AS shard,
         CASE WHEN {h} % 100 < 80 THEN 'train'
              WHEN {h} % 100 < 90 THEN 'val' ELSE 'test' END AS split,
         len({w}) AS n_tokens
  FROM documents
),
per_shard AS (
  SELECT split, shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tot
  FROM t GROUP BY 1, 2
)
SELECT split,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(tot) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(floor((tot + {budget} - 1) / {budget}) AS BIGINT)) AS BIGINT) AS n_sequences,
       CAST(sum(({budget} - tot % {budget}) % {budget}) AS BIGINT) AS tail_waste_tokens,
       round(CAST(sum(({budget} - tot % {budget}) % {budget}) AS DOUBLE)
             / (sum(CAST(floor((tot + {budget} - 1) / {budget}) AS BIGINT)) * {budget}), 6) AS waste_rate
FROM per_shard GROUP BY split
"""

# ---------------------------------------------------------------------------
# End-to-end corpus selection (the composed pipeline)
# ---------------------------------------------------------------------------

CONTAM_MIN_SHINGLES = 12

def training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed selection pipeline a corpus build actually ships:
    language-ID -> quality rules -> exact-dup canonicalization ->
    benchmark decontamination -> split assignment, with every stage's
    verdict kept as an auditable flag column (the selection funnel is a
    report, not a black box). Emits one row per document:
    (doc_id, predicted_lang, split, pass_lang, pass_quality,
    is_canonical, contaminated, selected).

    Scale shape: the per-row stages (language-ID, quality rules, the
    dedup digest, the split hash) are the SAME expressions the
    individually-verified operators use (`lang_struct_expr`,
    `quality_struct_expr`, `split_struct_expr`), fused here into ONE
    corpus scan — a 100 TB corpus is read once, not once per stage.
    Only two global operations remain: the canonicalization window on
    the content digest (dedup needs the corpus-wide view — one shuffle)
    and the decontamination left join on doc_id (its benchmark side
    stays broadcast inside `decontaminate`). Flags, not filters,
    between stages: a single pass yields both the selected corpus
    (filter on `selected`) and the per-stage rejection accounting."""
    from .quality import quality_struct_expr
    from .textstats import lang_struct_expr, split_struct_expr

    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents", "doc_id"
    )
    base = (
        d.select(
            "doc_id",
            "text",
            lang_struct_expr().alias("li"),
            quality_struct_expr().alias("q"),
            split_struct_expr().alias("sp"),
        )
        .select(
            "doc_id",
            F.col("li.predicted_lang").alias("predicted_lang"),
            F.col("q.keep").alias("pass_quality"),
            H.digest_expr(F.col("text")).alias("digest"),
            F.col("sp.split").alias("split"),
        )
        .withColumn(
            "is_canonical",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("digest")),
        )
    )
    dec = decontaminate(spark, sf_dir)
    contaminated = (F.col("split") == "train") & (
        F.coalesce(F.col("n_shared_shingles"), F.lit(0)) >= CONTAM_MIN_SHINGLES
    )
    pass_lang = F.col("predicted_lang") != "und"
    return base.join(dec, "doc_id", "left").select(
        "doc_id",
        "predicted_lang",
        "split",
        pass_lang.alias("pass_lang"),
        "pass_quality",
        "is_canonical",
        contaminated.alias("contaminated"),
        (
            pass_lang & F.col("pass_quality") & F.col("is_canonical") & ~contaminated
        ).alias("selected"),
    )

def training_corpus_oracle() -> str:
    from .quality import quality_filter_oracle
    from .textstats import dataset_splits_oracle, lang_id_oracle

    return f"""
WITH li AS (SELECT doc_id, predicted_lang FROM ({lang_id_oracle()}) t),
qf AS (SELECT doc_id, keep AS pass_quality FROM ({quality_filter_oracle()}) t),
canon AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY {H.digest_sql('text')}) AS is_canonical
  FROM documents
),
dec AS (SELECT * FROM ({decontaminate_oracle()}) t),
sp AS (SELECT doc_id, split FROM ({dataset_splits_oracle()}) t)
SELECT li.doc_id, li.predicted_lang, sp.split,
       li.predicted_lang <> 'und' AS pass_lang,
       qf.pass_quality,
       canon.is_canonical,
       (sp.split = 'train' AND coalesce(dec.n_shared_shingles, 0) >= {CONTAM_MIN_SHINGLES}) AS contaminated,
       (li.predicted_lang <> 'und' AND qf.pass_quality AND canon.is_canonical
        AND NOT (sp.split = 'train' AND coalesce(dec.n_shared_shingles, 0) >= {CONTAM_MIN_SHINGLES})) AS selected
FROM li
JOIN qf USING (doc_id)
JOIN canon USING (doc_id)
LEFT JOIN dec USING (doc_id)
JOIN sp USING (doc_id)
"""

# ---------------------------------------------------------------------------
# Deterministic per-group sampling
# ---------------------------------------------------------------------------

SAMPLE_PER_GROUP = 25

def per_group_sample(spark: SparkSession, sf_dir: str, k: int = SAMPLE_PER_GROUP) -> DataFrame:
    """Exactly-k-per-source sample, deterministic across runs and
    engines: rank documents inside each source by a salted content
    hash (not RNG — reproducibility is the point of a pinned eval
    subset) and keep the first k. `stratified_sample` draws
    proportionally; this draws a FIXED quota per group — the balanced
    shape for per-source evals and human review queues. One shuffle on
    the group key; the rank window runs inside each group partition.
    Emits (doc_id, source, sample_rank)."""
    d = tables.load_table(spark, sf_dir, "documents")
    hkey = F.expr(H.h32_expr_sql("concat('pgs:', CAST(doc_id AS STRING))"))
    w = Window.partitionBy("source").orderBy(F.asc("hkey"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", hkey.alias("hkey"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .select("doc_id", "source", F.col("sample_rank").cast("int").alias("sample_rank"))
    )

def per_group_sample_oracle(k: int = SAMPLE_PER_GROUP) -> str:
    h = H.h32_sql("'pgs:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {h} ASC, doc_id ASC) AS sample_rank
  FROM documents
)
SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank
FROM ranked WHERE sample_rank <= {k}
"""

# ---------------------------------------------------------------------------
# Cross-document repeated spans (boilerplate / substring-dedup proxy)
# ---------------------------------------------------------------------------

SPAN_N = 5
SPAN_MIN_DOCS = 2
SPAN_TOPK = 100

def repeated_spans(
    spark: SparkSession,
    sf_dir: str,
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    k: int = SPAN_TOPK,
) -> DataFrame:
    """Cross-document repeated word-n-gram spans — the scalable proxy
    for substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": exact substring dedup
    needs a suffix array; n-gram document frequency finds the same
    boilerplate at a fraction of the cost). A span appearing in many
    documents is template/boilerplate text a corpus build strips
    before training.

    One explode (n_tokens rows per doc) into one map-side-combined
    aggregation keyed by the span; the shuffle carries ~n-word strings
    and the output is top-k bounded. At 100 TB you would pre-hash the
    span to an 8-byte key for the exchange and resolve representative
    text from a min() agg — same plan shape, narrower key; the string
    key keeps the fixture-scale oracle byte-identical. Emits
    (span, n_docs, n_occurrences), most-shared first."""
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents"
    )
    w = d.select("doc_id", _words(F.col("text")).alias("w")).withColumn("n", F.size("w"))
    spans = w.filter(F.col("n") >= n).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - n + 1),
                lambda i: F.array_join(F.slice(F.col("w"), i, n), " "),
            )
        ).alias("span"),
    )
    # cascade instead of count_distinct-mixed-with-count (which would
    # Expand-rewrite the span stream ×2): the (span, doc) pre-agg
    # map-side-combines in-doc repeats before anything shuffles, then
    # the span rollup is over the already-narrow table
    per_doc = spans.groupBy("span", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_doc.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cnt").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("span"))
        .limit(k)
    )

def repeated_spans_oracle(
    n: int = SPAN_N, min_docs: int = SPAN_MIN_DOCS, k: int = SPAN_TOPK
) -> str:
    w = r"string_split_regex(text, '\s+')"
    return f"""
WITH t AS (
  SELECT doc_id, {w} AS w, len({w}) AS nw FROM documents
),
s AS (
  SELECT doc_id, array_to_string(list_slice(w, i, i + {n} - 1), ' ') AS span
  FROM (SELECT doc_id, w, unnest(range(1, nw - {n} + 2)) AS i FROM t WHERE nw >= {n})
)
SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= {min_docs}
ORDER BY n_docs DESC, n_occurrences DESC, span LIMIT {k}
"""

SPAN_CHAIN_MIN_WORDS = SPAN_N + 2
SPAN_CHAIN_TOPK = 100
# seed-split salt for the second span hash. Order matters: Spark's
# multi-arg xxhash64 seed-chains left-to-right
# (xxhash64(a, b) == XXH64(b, seed=XXH64(a, 42))), so the salt must be
# the FIRST argument — xxhash64(salt, span) = XXH64(span,
# seed=XXH64(salt, 42)), a genuinely different seed from the default
# 42, making h2 independent of h1. With the salt second, h2 would be a
# pure function of h1 (any h1 collision collides h2 too) and the pair
# key would be no stronger than a single 64-bit hash.
_SPAN_H2_SALT = 0x9E3779B9

def repeated_substring_spans(
    spark: SparkSession,
    sf_dir: str,
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
    k: int = SPAN_CHAIN_TOPK,
) -> DataFrame:
    """MAXIMAL cross-document repeated substrings via shingle chaining
    — the substring-dedup upgrade of `repeated_spans` (which reports
    fixed-width n-grams and therefore undercounts long boilerplate: a
    50-word template shows up as 46 overlapping 5-gram rows, never as
    one 50-word span). This is the distributed shape of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better")
    suffix-array substring dedup: positions whose shingle occurs in
    >= min_docs documents are chained into maximal consecutive runs
    (gaps-and-islands), and a run of length L recovers the full
    L-word repeated substring — suffix-automaton fidelity from
    relational operators.

    Scale shape: shingle document frequency is one two-level hash agg;
    the repeated-shingle set joins back position-rows one-to-one (no
    fan-out — each position matches at most once, so unlike the
    bucket self-joins this needs no cap); the island window shuffles
    (doc_id, pos) pairs keyed by doc; the final text reconstruction
    joins the top-k-bounded run table back to the word arrays.

    The span key is a 16-byte pair of INDEPENDENT xxhash64 values of
    the span text (seed-split: h2 hashes (salt, span) — salt first, so
    the chained seed XXH64(salt, 42) differs from h1's 42), NEVER the
    n-word string: the df aggregation and the position join exchange
    hashes, and the string exists only inside the per-position
    projection (hashed in the same codegen stage the explode emits it
    — it reaches no exchange) and the final top-k reconstruction
    (sliced from the word arrays). Key width dominates shuffle volume
    at 100 TB — this is the same narrowing `_ngram_buckets` applies to
    shingle keys — and the two-hash key pushes collision odds from
    ~m^2/2^65 (real risk on a 10^9-span corpus: a collision silently
    merges two distinct spans' document frequencies and can scrub
    unrelated text) to ~m^2/2^129, past any corpus scale. The oracle
    keeps exact span strings, so the hash-green gate would surface a
    fixture-scale collision — none. Emits (doc_id, start_pos,
    len_words, span_text), longest first."""
    t, runs = _span_runs(spark, sf_dir, n, min_docs, min_words, k)
    out = (
        runs.join(t.select("doc_id", "w"), "doc_id")
        .select(
            "doc_id",
            "start_pos",
            "len_words",
            F.array_join(
                F.slice(F.col("w"), F.col("start_pos").cast("int"), F.col("len_words").cast("int")),
                " ",
            ).alias("span_text"),
        )
        .orderBy(F.col("len_words").desc(), "doc_id", "start_pos")
    )
    # exact .limit(k) at EVERY k — r12 skipped the limit for k >= 2^20,
    # which silently returned ALL rows whenever the result set
    # outnumbered a huge k. The memory hazard that guard dodged (an
    # effectively-unbounded k planning as TakeOrderedAndProject, whose
    # per-task top-k buffer is O(k) — guava leastOf allocates 2k slots
    # on every concurrent task) is handled where it belongs: the repo
    # session caps spark.sql.execution.topKSortFallbackThreshold
    # (session.py), so a huge-k limit plans as a spillable global sort
    # + GlobalLimit instead. A window row_number fallback here is NOT
    # an alternative — Catalyst's LimitPushDownThroughWindow rewrites
    # rank-over-global-order filters straight back into the limit.
    return out.limit(k)


def _span_runs(
    spark: SparkSession,
    sf_dir: str,
    n: int,
    min_docs: int,
    min_words: int,
    k: int,
):
    """Shared stages of the Lee et al. substring-dedup path: the
    persisted (doc_id, words) table and the maximal repeated-run table
    (doc_id, start_pos, len_words) — consumed by
    `repeated_substring_spans` (top-k report) and `substring_scrub`
    (the removal pass). Subtrees persist only for the shared default
    arguments, so both consumers ride the same cache entries."""
    invariant = (
        n == SPAN_N and min_docs == SPAN_MIN_DOCS
        and min_words == SPAN_CHAIN_MIN_WORDS and k == SPAN_CHAIN_TOPK
    )
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents", "doc_id"
    )
    t = persist_if(
        d.select("doc_id", _words(F.col("text")).alias("w")).withColumn("nw", F.size("w")),
        invariant,
    )
    # persisted: both the document-frequency branch and the position
    # join re-reference this explode, and the per-position span strings
    # are built by interpreted HOFs (transform + array_join are
    # CodegenFallback) — the most expensive projection in the plan, so
    # one materialization instead of two is the dominant cost lever.
    # The span string leaves the HOF but not the stage: the projection
    # below it derives the two independent 64-bit hashes (second one
    # seed-split by hashing (salt, span) — salt first) in the same codegen span and
    # drops the string, so only the 16-byte key is ever exchanged —
    # wide enough that a collision (which would merge two distinct
    # spans' document frequencies and could scrub unrelated text) is
    # out of reach at any corpus scale (~m^2/2^129).
    pos_spans = persist_if(
        t.filter(F.col("nw") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("nw") - n + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(F.slice(F.col("w"), i, n), " ").alias("span"),
                    ),
                )
            ).alias("ps"),
        )
        .select(
            "doc_id",
            F.col("ps.pos").alias("pos"),
            F.xxhash64(F.col("ps.span")).alias("span_h"),
            # salt FIRST: see _SPAN_H2_SALT — salt-second would
            # seed-chain h2 off h1 and collapse the pair to 64 bits.
            F.xxhash64(F.lit(_SPAN_H2_SALT), F.col("ps.span")).alias("span_h2"),
        ),
        invariant,
    )
    rep_spans = (
        pos_spans.select("span_h", "span_h2", "doc_id")
        .distinct()
        .groupBy("span_h", "span_h2")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span_h", "span_h2")
    )
    rep = pos_spans.join(rep_spans, ["span_h", "span_h2"]).select("doc_id", "pos")
    wgrp = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        rep.withColumn("grp", F.col("pos") - F.row_number().over(wgrp))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("start_pos"),
            (F.max("pos") - F.min("pos") + n).cast("bigint").alias("len_words"),
        )
        .filter(F.col("len_words") >= min_words)
    )
    return t, runs

def repeated_substring_spans_oracle(
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
    k: int = SPAN_CHAIN_TOPK,
) -> str:
    w = r"string_split_regex(text, '\s+')"
    return f"""
WITH t AS (
  SELECT doc_id, {w} AS w, len({w}) AS nw FROM documents
),
s AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(w, i, i + {n} - 1), ' ') AS span
  FROM (SELECT doc_id, w, unnest(range(1, nw - {n} + 2)) AS i FROM t WHERE nw >= {n})
),
df AS (
  SELECT span FROM (
    SELECT span, count(DISTINCT doc_id) AS n_docs FROM s GROUP BY span
  ) WHERE n_docs >= {min_docs}
),
rep AS (SELECT s.doc_id, s.pos FROM s JOIN df USING (span)),
runs AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
         CAST(max(pos) - min(pos) + {n} AS BIGINT) AS len_words
  FROM (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM rep
  )
  GROUP BY doc_id, grp
  HAVING max(pos) - min(pos) + {n} >= {min_words}
)
SELECT r.doc_id, r.start_pos, r.len_words,
       array_to_string(list_slice(t.w, r.start_pos, r.start_pos + r.len_words - 1), ' ')
         AS span_text
FROM runs r JOIN t USING (doc_id)
ORDER BY len_words DESC, doc_id, start_pos LIMIT {k}
"""


def substring_scrub(
    spark: SparkSession,
    sf_dir: str,
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
) -> DataFrame:
    """The REMOVAL pass of Lee et al. 2022 substring dedup — the
    terminal artifact `repeated_substring_spans` (the report) points
    at: every word position covered by a maximal cross-document
    repeated run (length >= min_words) is stripped, and the document
    is re-assembled from the survivors. This is the boilerplate-strip
    variant (every copy of the repeated span is removed — headers,
    licence blocks, templated navigation); a keep-one-copy policy
    composes from the same run table by anti-joining all but each
    span's canonical occurrence. Output text is whitespace-normalized
    (single spaces), the same convention every consumer of the word
    split already uses.

    Scale shape: rides the SAME persisted subtrees as the report
    (`_span_runs`: word table + hashed position-spans), so running
    report + scrub in one session pays the span discovery once. The
    scrub itself is: runs exploded to covered (doc_id, pos) rows
    (bounded by total word count), one anti-join against the word
    positions, and a per-doc ordered re-assembly — every exchange is
    keyed on doc_id. Emits (doc_id, n_words, n_removed,
    scrubbed_text), one row per document."""
    t, runs = _span_runs(spark, sf_dir, n, min_docs, min_words, SPAN_CHAIN_TOPK)
    covered = runs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("start_pos"), F.col("start_pos") + F.col("len_words") - 1
            )
        ).alias("pos"),
    )
    words = t.select(
        "doc_id", F.posexplode(F.col("w")).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "word")
    kept = words.join(covered, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("scrubbed"),
    )
    return (
        t.select("doc_id", F.col("nw").cast("bigint").alias("n_words"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("scrubbed"), F.lit("")).alias("scrubbed_text"),
        )
    )


def substring_scrub_oracle(
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
) -> str:
    w = r"string_split_regex(text, '\s+')"
    return f"""
WITH t AS (
  SELECT doc_id, {w} AS w, len({w}) AS nw FROM documents
),
s AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(w, i, i + {n} - 1), ' ') AS span
  FROM (SELECT doc_id, w, unnest(range(1, nw - {n} + 2)) AS i FROM t WHERE nw >= {n})
),
df AS (
  SELECT span FROM (
    SELECT span, count(DISTINCT doc_id) AS n_docs FROM s GROUP BY span
  ) WHERE n_docs >= {min_docs}
),
rep AS (SELECT s.doc_id, s.pos FROM s JOIN df USING (span)),
runs AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
         CAST(max(pos) - min(pos) + {n} AS BIGINT) AS len_words
  FROM (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM rep
  )
  GROUP BY doc_id, grp
  HAVING max(pos) - min(pos) + {n} >= {min_words}
),
covered AS (
  SELECT doc_id, CAST(unnest(range(start_pos, start_pos + len_words)) AS BIGINT) AS pos
  FROM runs
),
words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS word
  FROM t, unnest(range(1, len(w) + 1)) AS u(i)
),
kept AS (SELECT wd.* FROM words wd ANTI JOIN covered USING (doc_id, pos)),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY pos) AS scrubbed
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, CAST(t.nw AS BIGINT) AS n_words,
       CAST(t.nw - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(a.scrubbed, '') AS scrubbed_text
FROM t LEFT JOIN agg a USING (doc_id)
"""


def scrubbed_token_counts(
    spark: SparkSession,
    sf_dir: str,
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
) -> DataFrame:
    """The substring-dedup funnel composed END TO END: a downstream
    pipeline stage consuming the removal pass's output as its input
    corpus — `textstats.token_counts`' unit-economics columns
    recomputed over `scrubbed_text`. This is what certifies
    `substring_scrub` as an input-PRODUCING transform rather than a
    terminal report: the next stage's numbers (the token budget the
    scrubbed corpus actually contributes to a training mix) are
    oracle-pinned through the scrub.

    Scale shape: one projection over the scrub output — rides the same
    persisted `_span_runs` subtrees as the report and the scrub, adds
    no exchange of its own (the per-doc reassembly already keyed
    everything on doc_id). The whitespace-split convention matches
    `token_counts` (an all-removed document's empty string counts as
    one ws token in both engines — the split convention, pinned
    green). Emits (doc_id, n_removed, ws_tokens, re_tokens,
    approx_bpe_tokens)."""
    s = substring_scrub(spark, sf_dir, n, min_docs, min_words)
    return s.select(
        "doc_id",
        "n_removed",
        F.size(F.split(F.col("scrubbed_text"), r"\s+")).alias("ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(scrubbed_text, '\\w+|[^\\w\\s]', 0)")
        ).alias("re_tokens"),
        F.ceil(F.length("scrubbed_text") / 4).cast("int").alias("approx_bpe_tokens"),
    )


def scrubbed_token_counts_oracle(
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
) -> str:
    return rf"""
SELECT doc_id, n_removed,
       CAST(len(string_split_regex(scrubbed_text, '\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(scrubbed_text, '\w+|[^\w\s]')) AS INT) AS re_tokens,
       CAST(ceil(length(scrubbed_text) / 4.0) AS INT) AS approx_bpe_tokens
FROM ({substring_scrub_oracle(n, min_docs, min_words)}) scrub
"""


LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


def length_bucket_plan(
    spark: SparkSession, sf_dir: str, buckets: tuple[int, ...] = LENGTH_BUCKETS
) -> DataFrame:
    """Sequence-length BUCKETING plan — the pad-to-bucket alternative
    to concat packing (`pack_sequences`): dynamic batching groups
    similar-length documents and pads each to its bucket's ceiling
    (powers of two here, the usual kernel-friendly grid), so the
    choice between bucketing and packing is exactly the padding waste
    this report prices per bucket. Documents longer than the top
    bucket are capped to it (the max-sequence-length truncation every
    trainer applies), so the top bucket's waste can be negative-free
    by construction. Whitespace-token convention matches
    `token_counts`.

    Scale shape: one corpus scan; the bucket key is a CASE chain over
    the fixed grid (pure codegen — deliberately NOT pow/ceil(log2())
    float arithmetic, where engines disagree at exact powers of two);
    one hash aggregation with map-side combine to |buckets| rows; the
    padded/waste columns are post-aggregation arithmetic on the group
    key. No window, no join, no UDF. Emits (bucket, n_docs, n_tokens,
    padded_tokens, waste_share), smallest bucket first."""
    d = tables.load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), r"\s+"))
    top = buckets[-1]
    bucket = F.lit(top)
    for b in reversed(buckets[:-1]):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    return (
        d.select(
            bucket.cast("int").alias("bucket"),
            F.least(n, F.lit(top)).alias("n_cap"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_cap").cast("bigint").alias("n_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            (F.col("bucket") * F.col("n_docs")).cast("bigint").alias("padded_tokens"),
            F.round(
                F.lit(1.0) - F.col("n_tokens") / (F.col("bucket") * F.col("n_docs")),
                6,
            ).alias("waste_share"),
        )
        .orderBy("bucket")
    )


def length_bucket_plan_oracle(buckets: tuple[int, ...] = LENGTH_BUCKETS) -> str:
    w = r"string_split_regex(text, '\s+')"
    top = buckets[-1]
    case = " ".join(f"WHEN n <= {b} THEN {b}" for b in buckets[:-1])
    return f"""
WITH t AS (SELECT len({w}) AS n FROM documents),
b AS (
  SELECT CASE {case} ELSE {top} END AS bucket,
         least(n, {top}) AS n_cap
  FROM t
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_cap) AS BIGINT) AS n_tokens,
       CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
       round(1.0 - sum(n_cap) / CAST(bucket * count(*) AS DOUBLE), 6) AS waste_share
FROM b GROUP BY bucket ORDER BY bucket
"""


def scrub_store(
    spark: SparkSession,
    sf_dir: str,
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
    rebuild: bool = False,
) -> str:
    """STORE step for the SCRUBBED CORPUS — the warehouse treatment the
    token shards got (`textstats.token_shards_store`): the substring
    scrub is the most expensive text transform in the repo (span
    discovery + anti-join + per-doc reassembly over every document),
    and every downstream consumer that re-derives it pays that cost
    again. Materialize `substring_scrub`'s output once as a parquet
    warehouse table and let consumers scan the stored rows.

    Same warehouse discipline as every store: content-addressed tag
    (path digest + documents (size, mtime) — a regenerated corpus
    rebuilds instead of serving the stale scrub), `_SUCCESS`
    write-if-absent, `rebuild=True` the explicit hook, and the entry
    is `gcWarehouse`-collectable once its tag dies (the `_manifest`
    sibling parses under the same family, so both collect together).

    The write repartitions by doc_id hash to a file count SIZED BY
    TARGET BYTES, not a constant: n_files = ceil(corpus chars /
    COMPACT_TARGET_CHARS), probed from the documents table's n_chars
    column (a column-pruned metadata-cheap scan; scrubbing only
    removes text, so the input volume upper-bounds the output and the
    layout errs toward one extra small file, never an oversized one).
    A fixed count inverts at scale — 8 files is right at fixture scale
    and 8 multi-TB files at 100 TB, the opposite of the small-files
    failure the layout exists to avoid; deriving from the same
    constant `compaction_plan` packs to keeps the two layout policies
    in one place.

    A sibling MANIFEST table (doc_id, n_words, n_removed, ws_tokens,
    approx_bpe_tokens) is written in the same commit from the
    just-committed scrub table — the per-document economics every
    serve reads, precomputed once at store time instead of re-derived
    from the text rows per serve (the `token_shards_store` manifest
    discipline, textstats.py). At 100 TB the manifest is
    corpus-doc-count integer rows vs the scrub table's full text
    payload: the difference between a mixture planner reading
    megabytes and re-scanning terabytes."""
    from ..functions import warehouse
    from .layout import COMPACT_TARGET_CHARS, manifest_file_count

    tag = warehouse.sf_tag(sf_dir, "documents")
    path = os.path.join(
        warehouse.WAREHOUSE_DIR,
        f"scrubbed_corpus_{tag}_n{n}_d{min_docs}_w{min_words}",
    )
    manifest = _scrub_manifest_path(path)
    if rebuild or not warehouse.tables_ready(path, manifest):
        probe = (
            tables.load_table(spark, sf_dir, "documents")
            .agg(
                F.coalesce(F.sum("n_chars"), F.lit(0)).alias("c"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        total_chars, n_docs = probe.c, probe.n
        n_files = max(1, math.ceil(total_chars / COMPACT_TARGET_CHARS))
        (
            substring_scrub(spark, sf_dir, n, min_docs, min_words)
            .repartition(n_files, "doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        (
            # manifest from the just-committed scrub table (a narrow
            # warehouse scan, not a second span discovery); sized by
            # its own fixed-width row count, not coalesce(1) — the
            # single-file layout inverts at scale exactly like the
            # fixed scrub file count this store just stopped using
            spark.read.parquet(path)
            .select(
                "doc_id",
                "n_words",
                "n_removed",
                F.size(F.split(F.col("scrubbed_text"), r"\s+")).alias("ws_tokens"),
                F.ceil(F.length("scrubbed_text") / 4)
                .cast("int")
                .alias("approx_bpe_tokens"),
            )
            .repartition(manifest_file_count(n_docs), "doc_id")
            .write.mode("overwrite")
            .parquet(manifest)
        )
    return path


def _scrub_manifest_path(scrub_path: str) -> str:
    # sibling, not a subdirectory: keeps the scrub table's file listing
    # clean and parses under the same GC family (warehouse._parse_entry)
    return scrub_path + "_manifest"


def scrub_stored_report(
    spark: SparkSession,
    sf_dir: str,
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
) -> DataFrame:
    """SERVE step — the registry's end-to-end stored-scrub path: the
    per-document economics a mixture planner reads off the scrubbed
    corpus, served ENTIRELY from the store-time MANIFEST — the
    documents table is never scanned, the span discovery never
    re-runs, and (r10) the scrubbed TEXT rows are never read either:
    the token counts were computed once at `scrub_store` time and the
    serve touches only corpus-doc-count integer rows (plan-pinned, the
    `stored_shard_report` pattern). Only `removed_share` — pure
    integer-column arithmetic — is derived per serve.

    The oracle intentionally does NOT read the warehouse: it re-derives
    the same rows from the base tables via the full scrub SQL, so a
    hash-green row certifies the scrub -> store -> manifest -> report
    roundtrip preserved every value. Emits (doc_id, n_words, n_removed,
    ws_tokens, approx_bpe_tokens, removed_share)."""
    path = scrub_store(spark, sf_dir, n, min_docs, min_words)
    m = spark.read.parquet(_scrub_manifest_path(path))
    return m.select(
        "doc_id",
        "n_words",
        "n_removed",
        "ws_tokens",
        "approx_bpe_tokens",
        F.round(
            F.col("n_removed") / F.greatest(F.col("n_words"), F.lit(1)), 6
        ).alias("removed_share"),
    )


def scrub_stored_report_oracle(
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
    min_words: int = SPAN_CHAIN_MIN_WORDS,
) -> str:
    return rf"""
SELECT doc_id, n_words, n_removed,
       CAST(len(string_split_regex(scrubbed_text, '\s+')) AS INT) AS ws_tokens,
       CAST(ceil(length(scrubbed_text) / 4.0) AS INT) AS approx_bpe_tokens,
       round(n_removed / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS removed_share
FROM ({substring_scrub_oracle(n, min_docs, min_words)}) scrub
"""


# ---------------------------------------------------------------------------
# Mixture planning (token-budget allocation across sources)
# ---------------------------------------------------------------------------

MIXTURE_BUDGET_TOKENS = 50_000

def mixture_plan(
    spark: SparkSession, sf_dir: str, budget: int = MIXTURE_BUDGET_TOKENS
) -> DataFrame:
    """The inverse of mixture_report: given a total token budget and a
    uniform target share per source, compute each source's sampling
    rate and the tokens it will actually contribute (capped at what it
    has — undersized sources can't be upsampled past 1.0, the standard
    epoch-capping constraint in pretraining mixture design). A corpus
    build runs this BEFORE the sample to turn mixture weights into
    concrete per-source Bernoulli rates.

    One aggregation to |sources| rows, a broadcast 1-row total, and
    all-integer arithmetic up to the single final division — the
    output is a driver-sized plan table regardless of corpus size.
    Emits (source, n_docs, n_tokens, target_tokens, sample_rate,
    expected_tokens)."""
    d = tables.load_table(spark, sf_dir, "documents")
    per_src = d.select(
        "source", F.size(_words(F.col("text"))).alias("n_tokens")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    nsrc = per_src.agg(F.count(F.lit(1)).alias("n_sources"))
    # floor-then-cast (engine-identical); a bare double->bigint cast
    # truncates in Spark but rounds in DuckDB on fractional targets
    target = F.floor(F.lit(budget) / F.col("n_sources")).cast("bigint")
    return per_src.crossJoin(F.broadcast(nsrc)).select(
        "source",
        "n_docs",
        "n_tokens",
        target.alias("target_tokens"),
        F.round(F.least(F.lit(1.0), target / F.col("n_tokens")), 6).alias("sample_rate"),
        F.least(F.col("n_tokens"), target).alias("expected_tokens"),
    )

def mixture_plan_oracle(budget: int = MIXTURE_BUDGET_TOKENS) -> str:
    w = "string_split_regex(text, '\\s+')"
    return f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({w})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
n AS (SELECT count(*) AS n_sources FROM per_src)
SELECT source, n_docs, n_tokens,
       CAST(floor({budget} / n_sources) AS BIGINT) AS target_tokens,
       round(least(1.0, CAST(floor({budget} / n_sources) AS BIGINT) / CAST(n_tokens AS DOUBLE)), 6) AS sample_rate,
       least(n_tokens, CAST(floor({budget} / n_sources) AS BIGINT)) AS expected_tokens
FROM per_src CROSS JOIN n
"""


REPEAT_BUDGET_TOKENS = 60_000
# Diminishing-returns constant for repeated data: effective extra
# epochs saturate at RD_STAR (the fitted half-life from Muennighoff et
# al. 2023, "Scaling Data-Constrained Language Models", eq. 5 — public
# fit: R*_D ~ 15.4; any positive constant gives the same plan shape)
RD_STAR = 15.4


def repetition_budget_plan(
    spark: SparkSession,
    sf_dir: str,
    budget: int = REPEAT_BUDGET_TOKENS,
    rd_star: float = RD_STAR,
) -> DataFrame:
    """Data-constrained training planner: when the token budget EXCEEDS
    the corpus, how many epochs does each source run and how much is a
    repeated token actually worth? Per source, the uniform budget slice
    is split into unique tokens seen once and repeated mass, and the
    repeated mass is discounted by the diminishing-returns curve
    effective_extra = U * rd_star * (1 - exp(-R / rd_star)) with
    R = repeated/U fractional repeat epochs (Muennighoff et al. 2023).
    A source with epochs < 1 is sampled like `mixture_plan`; a source
    with epochs >> 1 shows exactly how much of its slice the decay
    wastes — the number that says "buy more data, not more epochs".
    Emits (source, n_docs, unique_tokens, alloc_tokens, epochs,
    repeated_tokens, effective_tokens, efficiency).

    One aggregation to |sources| rows, a broadcast 1-row source count,
    then pure per-row scalar math — a driver-sized plan table at any
    corpus size, same shape as `mixture_plan`."""
    d = tables.load_table(spark, sf_dir, "documents")
    per_src = d.select(
        "source", F.size(_words(F.col("text"))).alias("n_tokens")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("unique_tokens"),
    )
    nsrc = per_src.agg(F.count(F.lit(1)).alias("n_sources"))
    # floor-then-cast: Spark's double->bigint cast truncates but
    # DuckDB's CAST rounds to nearest — floor() is engine-identical
    alloc = F.floor(F.lit(budget) / F.col("n_sources")).cast("bigint")
    u = F.col("unique_tokens")
    repeated = F.greatest(F.lit(0).cast("bigint"), (alloc - u).cast("bigint"))
    r_epochs = repeated / u
    eff = (
        F.least(alloc, u)
        + u * rd_star * (F.lit(1.0) - F.exp(-r_epochs / F.lit(rd_star)))
    )
    return per_src.crossJoin(F.broadcast(nsrc)).select(
        "source",
        "n_docs",
        "unique_tokens",
        alloc.alias("alloc_tokens"),
        F.round(alloc / u, 6).alias("epochs"),
        repeated.alias("repeated_tokens"),
        F.round(eff, 3).alias("effective_tokens"),
        F.round(eff / alloc, 6).alias("efficiency"),
    )


def repetition_budget_plan_oracle(
    budget: int = REPEAT_BUDGET_TOKENS, rd_star: float = RD_STAR
) -> str:
    w = "string_split_regex(text, '\\s+')"
    return f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({w})) AS BIGINT) AS unique_tokens
  FROM documents GROUP BY source
),
n AS (SELECT count(*) AS n_sources FROM per_src),
calc AS (
  SELECT source, n_docs, unique_tokens,
         CAST(floor({budget} / n_sources) AS BIGINT) AS alloc_tokens,
         greatest(CAST(0 AS BIGINT),
                  CAST(CAST(floor({budget} / n_sources) AS BIGINT) - unique_tokens AS BIGINT)) AS repeated_tokens
  FROM per_src CROSS JOIN n
)
SELECT source, n_docs, unique_tokens, alloc_tokens,
       round(CAST(alloc_tokens AS DOUBLE) / unique_tokens, 6) AS epochs,
       repeated_tokens,
       round(least(alloc_tokens, unique_tokens)
             + unique_tokens * {rd_star}
               * (1.0 - exp(-(CAST(repeated_tokens AS DOUBLE) / unique_tokens) / {rd_star})), 3) AS effective_tokens,
       round((least(alloc_tokens, unique_tokens)
             + unique_tokens * {rd_star}
               * (1.0 - exp(-(CAST(repeated_tokens AS DOUBLE) / unique_tokens) / {rd_star})))
             / alloc_tokens, 6) AS efficiency
FROM calc
"""


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (broadcast-bitset membership at 100 TB)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 17  # bits in the filter
BLOOM_K = 4  # hash functions (minhash family indices 0..K-1)


def bloom_decontaminate(
    spark: SparkSession, sf_dir: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Decontamination via a Bloom filter over the benchmark shingles —
    the membership structure a 100 TB run actually ships to executors.
    `decontaminate` broadcasts the raw distinct benchmark-shingle set;
    that stops scaling when the eval suite grows (a multi-benchmark
    union is easily 10^8 shingles — tens of GB as strings, a few MB as
    an m-bit filter). The Bloom contract is one-sided: NO false
    negatives (every truly contaminated shingle is flagged), bounded
    false positives (clean documents occasionally flagged for manual
    re-check or exact re-verification) — exactly the safe direction for
    decontamination, where a miss poisons the eval and a false alarm
    costs one recheck.

    The filter here is expressed relationally so the oracle can rebuild
    it bit-for-bit: positions j(shingle) = minhash_j(h32(shingle)) % m
    for j < k; the benchmark side's distinct position set IS the filter
    (its cardinality <= m bounds the broadcast at ~1 MB of longs for
    the fixture's m=2^17). Train-side probes explode each distinct doc
    shingle into its k positions, hit-test against the broadcast
    position set, and a shingle is bloom-positive iff all k probes hit.
    The exact twin joins the same shingle hashes against the broadcast
    benchmark hash set, so the result carries both verdicts plus the
    per-doc no-false-negative contract. All probes join broadcast sides
    on 8-byte keys; the only exchanges are the (doc_id, h) probe dedup
    and the final map-side-combined per-doc aggregation — the k
    membership probes are k broadcast joins (a plan constant), so the
    pipelined row stream between those exchanges never widens. Emits
    one row per train document: (doc_id, n_shingles, n_bloom_hits,
    n_exact_hits, contaminated, bloom_flagged, no_false_negatives)."""
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents"
    )
    bucket = F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")) % 100
    docs = d.select(
        "doc_id", bucket.alias("bucket"), F.expr(H.word_shingles_expr_sql("text")).alias("sh")
    )
    # persisted: the bit-position derivation AND the exact-twin probe
    # both reference the benchmark hash set — one shingle pass, not two
    bench_h = (
        docs.filter(F.col("bucket") >= _TEST_BUCKET_GE)
        .select(F.explode("sh").alias("shingle"))
        .select(F.expr(H.h32_expr_sql("shingle")).alias("h"))
        .distinct()
        .persist()
    )
    # persisted (when (m, k) are the defaults): the k per-hash-function
    # probes each build a differently-aliased broadcast from this
    # table, which defeats ReusedExchange (ingest_decision_report
    # pattern)
    bits = persist_if(
        bench_h.select(
            F.explode(
                F.array(*[F.expr(H.minhash_value_expr_sql("h", j)) % m for j in range(k)])
            ).alias("pos")
        )
        .distinct()
        .withColumn("bit", F.lit(1)),
        (m, k) == (BLOOM_M, BLOOM_K),
    )
    # distinct on (doc_id, h): shingles are already distinct per doc,
    # but two shingles may collide in h32 — membership is per HASH, so
    # dedup the probe unit (mirrored in the oracle's train CTE)
    train = (
        docs.filter(F.col("bucket") < _TRAIN_BUCKET_LT)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .select("doc_id", F.expr(H.h32_expr_sql("shingle")).alias("h"))
        .distinct()
    )
    # one broadcast probe-join PER HASH FUNCTION (a plan constant)
    # instead of exploding k probe rows + re-grouping by (doc_id, h):
    # the k joins all probe the same broadcast table and the row stream
    # stays pipelined — zero exchanges until the final per-doc agg
    # (measured: the explode+groupBy variant re-shuffled k x |shingles|
    # rows and was the most expensive query of the bench round)
    per_shingle = train
    for j in range(k):
        bj = F.broadcast(
            bits.select(F.col("pos").alias(f"p{j}"), F.col("bit").alias(f"bit{j}"))
        )
        per_shingle = per_shingle.join(
            bj, (F.expr(H.minhash_value_expr_sql("h", j)) % m) == F.col(f"p{j}"), "left"
        )
    bloom_hit = F.lit(True)
    for j in range(k):
        bloom_hit = bloom_hit & F.col(f"bit{j}").isNotNull()
    per_shingle = per_shingle.select("doc_id", "h", bloom_hit.alias("bloom_hit"))
    flagged = per_shingle.join(
        F.broadcast(bench_h.withColumn("ex", F.lit(1))), "h", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.col("bloom_hit").cast("int")).cast("bigint").alias("n_bloom_hits"),
            F.sum(F.coalesce(F.col("ex"), F.lit(0))).cast("bigint").alias("n_exact_hits"),
            F.min(
                (F.col("bloom_hit") | F.col("ex").isNull()).cast("int")
            ).alias("nfn"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_exact_hits") > 0).alias("contaminated"),
            (F.col("n_bloom_hits") > 0).alias("bloom_flagged"),
            (F.col("nfn") == 1).alias("no_false_negatives"),
        )
    )


def bloom_decontaminate_oracle(m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    shingles = H.word_shingles_sql("text")
    sh_h = H.h32_sql("shingle")
    pos_list = ", ".join(f"({H.minhash_value_sql('h', j)}) % {m}" for j in range(k))
    return f"""
WITH docs AS (
  SELECT doc_id, {h} % 100 AS bucket, {shingles} AS sh FROM documents
),
bench_h AS (
  SELECT DISTINCT {sh_h} AS h
  FROM (SELECT unnest(sh) AS shingle FROM docs WHERE bucket >= {_TEST_BUCKET_GE})
),
bits AS (
  SELECT DISTINCT unnest([{pos_list}]) AS pos FROM bench_h
),
train AS (
  SELECT DISTINCT doc_id, {sh_h} AS h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM docs WHERE bucket < {_TRAIN_BUCKET_LT})
),
probes AS (
  SELECT doc_id, h, unnest([{pos_list}]) AS pos FROM train
),
per_shingle AS (
  SELECT p.doc_id, p.h,
         (sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = {k}) AS bloom_hit
  FROM probes p LEFT JOIN bits b ON b.pos = p.pos
  GROUP BY p.doc_id, p.h
),
flagged AS (
  SELECT s.doc_id, s.bloom_hit, e.h IS NOT NULL AS exact_hit
  FROM per_shingle s LEFT JOIN bench_h e ON e.h = s.h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
       (sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) > 0) AS contaminated,
       (sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) > 0) AS bloom_flagged,
       (min(CASE WHEN bloom_hit OR NOT exact_hit THEN 1 ELSE 0 END) = 1)
         AS no_false_negatives
FROM flagged
GROUP BY doc_id
"""

def doc_span_novelty(spark: SparkSession, sf_dir: str, n: int = SPAN_N) -> DataFrame:
    """Per-document span novelty: of each document's DISTINCT word
    n-gram spans, how many also appear in at least one other document —
    the per-doc memorization-risk gate complementing `repeated_spans`'
    corpus-level top-k (Lee et al. 2021: a document whose content is
    mostly shared spans contributes near-zero novel signal and inflates
    memorization; pipelines drop or downweight above a shared-ratio
    threshold).

    Same single span stream as repeated_spans: one explode, a
    (span, doc) distinct pre-aggregation, a span-level doc-frequency
    rollup (narrow table), and a join back keyed on the span — the
    Zipf-skewed join AQE skew-splitting handles; at 100 TB pre-hash
    the span to an 8-byte key for the exchange. Emits
    (doc_id, n_spans, n_shared, shared_ratio)."""
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents"
    )
    w = d.select("doc_id", _words(F.col("text")).alias("w")).withColumn("n", F.size("w"))
    spans = w.filter(F.col("n") >= n).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - n + 1),
                    lambda i: F.array_join(F.slice(F.col("w"), i, n), " "),
                )
            )
        ).alias("span"),
    )
    df_cnt = spans.groupBy("span").agg(F.count(F.lit(1)).alias("df"))
    return (
        spans.join(df_cnt, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_shared"),
            F.round(
                F.sum((F.col("df") >= 2).cast("long")) / F.count(F.lit(1)), 6
            ).alias("shared_ratio"),
        )
    )

def doc_span_novelty_oracle(n: int = SPAN_N) -> str:
    w = r"string_split_regex(text, '\s+')"
    return f"""
WITH t AS (
  SELECT doc_id, {w} AS w, len({w}) AS nw FROM documents
),
spans AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, nw - {n} + 2),
                               i -> array_to_string(w[i:i+{n}-1], ' '))) AS span
  FROM t WHERE nw >= {n}
),
dfc AS (SELECT span, count(*) AS df FROM spans GROUP BY 1)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(sum(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS shared_ratio
FROM spans s JOIN dfc USING (span)
GROUP BY s.doc_id
"""

TEMP_MIXTURE_TAU = 3.0

def temperature_mixture_plan(
    spark: SparkSession,
    sf_dir: str,
    budget: int = MIXTURE_BUDGET_TOKENS,
    tau: float = TEMP_MIXTURE_TAU,
) -> DataFrame:
    """Temperature-based mixture reweighting (the mT5/XLM-R sampling
    scheme, Xue et al. 2021): target share of source s is
    p_s^(1/tau) / sum_r p_r^(1/tau), where p_s is the source's natural
    token share. tau=1 reproduces natural proportions, tau->inf
    approaches uniform — the standard knob that upsamples small
    sources without flattening the mixture entirely (`mixture_plan` is
    the tau->inf endpoint). Targets are capped at each source's actual
    tokens (no upsampling past 1.0 — the same epoch-cap constraint as
    mixture_plan).

    Same scale shape as mixture_plan: one corpus aggregation to
    |sources| rows, the tempered normalizer is a 1-row broadcast, all
    math after the aggregation is driver-table-sized. Emits (source,
    n_tokens, natural_share, temp_share, target_tokens, sample_rate)."""
    d = tables.load_table(spark, sf_dir, "documents")
    per_src = (
        d.select("source", F.size(_words(F.col("text"))).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("n_tokens"))
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens")
    )
    # integer nano-unit quantization (the qsum6 pattern, at 1e-9): pow
    # is libm-derived and the normalizer is a float sum, so quantize
    # each tempered share to the 1e-9 grid BEFORE summing — both
    # engines then divide the identical integers and the downstream
    # floor() cannot straddle an engine-dependent ulp boundary
    shared = per_src.crossJoin(F.broadcast(tot)).withColumn(
        "natural_share", F.col("n_tokens") / F.col("total_tokens")
    ).withColumn(
        "tempered_u",
        F.round(F.pow(F.col("natural_share"), 1.0 / tau) * 1e9, 0).cast("bigint"),
    )
    z = shared.agg(F.sum("tempered_u").cast("bigint").alias("z_u"))
    out = shared.crossJoin(F.broadcast(z)).withColumn(
        "temp_share", F.col("tempered_u") / F.col("z_u")
    )
    target = F.least(
        F.col("n_tokens"),
        F.floor(F.col("temp_share") * budget).cast("bigint"),
    )
    return out.select(
        "source",
        "n_tokens",
        F.round("natural_share", 6).alias("natural_share"),
        F.round("temp_share", 6).alias("temp_share"),
        target.alias("target_tokens"),
        F.round(F.least(F.lit(1.0), target / F.col("n_tokens")), 6).alias("sample_rate"),
    )

def temperature_mixture_plan_oracle(
    budget: int = MIXTURE_BUDGET_TOKENS, tau: float = TEMP_MIXTURE_TAU
) -> str:
    w = "string_split_regex(text, '\\s+')"
    return f"""
WITH per_src AS (
  SELECT source, CAST(sum(len({w})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per_src),
shared AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / total_tokens AS natural_share,
         CAST(round(pow(CAST(n_tokens AS DOUBLE) / total_tokens, 1.0 / {tau}) * 1e9, 0)
              AS BIGINT) AS tempered_u
  FROM per_src CROSS JOIN tot
),
z AS (SELECT CAST(sum(tempered_u) AS BIGINT) AS z_u FROM shared),
out AS (
  SELECT source, n_tokens, natural_share,
         CAST(tempered_u AS DOUBLE) / z.z_u AS temp_share
  FROM shared CROSS JOIN z
)
SELECT source, n_tokens,
       round(natural_share, 6) AS natural_share,
       round(temp_share, 6) AS temp_share,
       least(n_tokens, CAST(floor(temp_share * {budget}) AS BIGINT)) AS target_tokens,
       round(least(1.0, least(n_tokens, CAST(floor(temp_share * {budget}) AS BIGINT))
                        / CAST(n_tokens AS DOUBLE)), 6) AS sample_rate
FROM out
"""

# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

WS_PER_SOURCE = 5

def weighted_sample(
    spark: SparkSession, sf_dir: str, n_per_source: int = WS_PER_SOURCE
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, n per
    source: the A-ES scheme (Efraimidis & Spirakis 2006) — each item
    draws key u^(1/w) for uniform u and weight w, and the top-n keys
    per stratum are a correct weighted sample. The uniform comes from
    the portable hash (u = (h32(doc_id) % 10^6 + 1) / 10^6), so unlike
    rand()-based sampling the exact membership set is reproducible
    across engines, runs and retries — the property that makes a
    sampled corpus slab auditable. Here w = n_chars (longer documents
    proportionally likelier), the standard size-biased inclusion for
    byte-budgeted slabs; `stratified_sample` and `per_group_sample`
    remain the uniform members of the family.

    One projection computes the key per row (scan-fused), and the
    per-source top-n is a rank window over narrow (source, key) rows —
    no global sort, no sampling state. Keys are rounded to 9 dp before
    ranking so libm pow's ulp variance cannot reorder ties across
    engines; doc_id breaks exact ties. Emits (source, rank, doc_id,
    n_chars, u, key)."""
    d = tables.load_table(spark, sf_dir, "documents")
    u = (F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")) % 1_000_000 + 1) / 1_000_000.0
    # greatest(n_chars, 1): an empty document would make 1/n_chars a
    # NULL key (div-by-zero), and NULL placement under DESC differs
    # between engines — clamp the weight so the key is always defined,
    # and order desc_nulls_last anyway (registry determinism contract)
    key = F.round(F.pow(u, F.lit(1.0) / F.greatest(F.col("n_chars"), F.lit(1))), 9)
    keyed = d.select(
        "source", "doc_id", "n_chars", F.round(u, 6).alias("u"), key.alias("key")
    )
    w = Window.partitionBy("source").orderBy(F.col("key").desc_nulls_last(), F.col("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_per_source)
        .select("source", F.col("rank").cast("int").alias("rank"), "doc_id", "n_chars", "u", "key")
    )

def weighted_sample_oracle(n_per_source: int = WS_PER_SOURCE) -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    u = f"(({h} % 1000000 + 1) / 1000000.0)"
    key = f"round(pow({u}, 1.0 / greatest(n_chars, 1)), 9)"
    return f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars, round({u}, 6) AS u, {key} AS key
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY key DESC, doc_id) AS rank
  FROM keyed
)
SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars, u, key
FROM ranked WHERE rank <= {n_per_source}
"""
