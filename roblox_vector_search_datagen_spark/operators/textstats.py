"""Text-analysis operators over the `documents` corpus: language-ID,
quality scoring, token counting, and document fingerprinting — the
text side of the LLM-training-data pipeline.

All four are pure Catalyst expression pipelines (no UDFs): string and
higher-order array functions that stay inside whole-stage codegen, so
a 100 TB corpus pays exactly one columnar scan per operator and the
aggregation-free ones are embarrassingly parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import parallelism
from ..functions import warehouse
from ..functions.caching import persist_if
from ..functions import vector as V
from ..schemas import local_df
from ..sources import tables

# Deterministic per-language marker-word profiles. The fixtures' text is
# synthetic word soup, so these profiles are drawn from the corpus vocab
# to exercise the mechanism; a real deployment would load real n-gram
# profiles the same way (a small broadcast list folded into the plan).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "fast", "slow", "big", "small"),
    "es": ("data", "table", "vector", "part"),
    "fr": ("query", "row", "column", "line"),
    "de": ("spark", "hash", "merge", "sort"),
    "zh": ("join", "filter", "group", "agg"),
}
_LANG_ORDER = tuple(sorted(LANG_PROFILES))  # deterministic tie-break

def _profile_score_expr(words, lang: str):
    markers = F.array(*[F.lit(m) for m in LANG_PROFILES[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(markers, w)))

def lang_struct_expr():
    """struct(predicted_lang, score) over the `text` column — exposed
    as a bare expression so fused pipelines (training_corpus) fold it
    into their single corpus scan. The token array and per-profile
    score vector are let-bound so the text is split once and each
    profile scanned once per row."""

    def from_scores(sc):
        best = F.array_max(sc)
        pred = F.lit("und")
        for idx, lg in reversed(list(enumerate(_LANG_ORDER))):  # earlier alphabetical wins ties
            pred = F.when(F.element_at(sc, idx + 1) == best, lg).otherwise(pred)
        return F.struct(
            F.when(best > 0, pred).otherwise(F.lit("und")).alias("predicted_lang"),
            best.cast("int").alias("score"),
        )

    return H.let_expr(
        F.split(F.lower("text"), r"\s+"),
        lambda w: H.let_expr(
            F.array(*[_profile_score_expr(w, lg) for lg in _LANG_ORDER]), from_scores
        ),
    )

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID: score each profile against the token
    stream, argmax with alphabetical tie-break, 'und' when no marker
    hits. Emits (doc_id, lang, predicted_lang, score)."""
    d = tables.load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_struct_expr().alias("r")).select(
        "doc_id", "lang", F.col("r.predicted_lang").alias("predicted_lang"), F.col("r.score").alias("score")
    )

def lang_id_oracle() -> str:
    words = "string_split_regex(lower(text), '\\s+')"

    def score(lg: str) -> str:
        markers = ", ".join(f"'{m}'" for m in LANG_PROFILES[lg])
        return f"len(list_filter({words}, w -> list_contains([{markers}], w)))"

    best = "greatest(" + ", ".join(f"score_{lg}" for lg in _LANG_ORDER) + ")"
    pred = "'und'"
    for lg in reversed(_LANG_ORDER):
        pred = f"CASE WHEN score_{lg} = {best} THEN '{lg}' ELSE {pred} END"
    scores = ", ".join(f"{score(lg)} AS score_{lg}" for lg in _LANG_ORDER)
    return f"""
WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
SELECT doc_id, lang,
       CASE WHEN {best} > 0 THEN {pred} ELSE 'und' END AS predicted_lang,
       CAST({best} AS INT) AS score
FROM scored
"""

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length, word stats, stopword ratio)
    in one projection pass — the filters a pretraining pipeline runs
    before anything expensive."""
    d = tables.load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])

    def from_words(w):
        n_words = F.size(w)
        n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop, x)))
        mean_wl = F.round(
            F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n_words, 6
        )
        stop_ratio = F.round(n_stop.cast("double") / n_words, 6)
        quality = F.round(
            F.when(n_words < 5, 0.0).otherwise(
                F.least(F.lit(1.0), n_words.cast("double") / 100.0) * 0.5
                + F.when((mean_wl >= 3.0) & (mean_wl <= 8.0), 0.3).otherwise(0.0)
                + F.least(F.lit(0.2), stop_ratio * 2.0)
            ),
            6,
        )
        return F.struct(
            n_words.alias("n_words"),
            mean_wl.alias("mean_word_len"),
            stop_ratio.alias("stopword_ratio"),
            quality.alias("quality"),
        )

    r = H.let_expr(F.split(F.lower("text"), r"\s+"), from_words)
    return d.select("doc_id", F.length("text").alias("n_chars"), r.alias("r")).select(
        "doc_id",
        "n_chars",
        F.col("r.n_words").alias("n_words"),
        F.col("r.mean_word_len").alias("mean_word_len"),
        F.col("r.stopword_ratio").alias("stopword_ratio"),
        F.col("r.quality").alias("quality"),
    )

def text_quality_oracle() -> str:
    words = "string_split_regex(lower(text), '\\s+')"
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH w AS (
  SELECT doc_id, text, {words} AS words,
         len({words}) AS n_words,
         len(list_filter({words}, x -> list_contains([{stop}], x))) AS n_stop,
         round(list_aggregate(list_transform({words}, x -> CAST(length(x) AS DOUBLE)), 'sum') / len({words}), 6) AS mean_word_len
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(n_words AS INT) AS n_words,
       mean_word_len,
       round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
       round(CASE WHEN n_words < 5 THEN 0.0 ELSE
         least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5
         + CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 8.0 THEN 0.3 ELSE 0.0 END
         + least(0.2, round(CAST(n_stop AS DOUBLE) / n_words, 6) * 2.0)
       END, 6) AS quality
FROM w
"""

def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    word/punct regex — the unit-economics column of a training corpus."""
    d = tables.load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)")).alias("re_tokens"),
        F.ceil(F.length("text") / 4).cast("int").alias("approx_bpe_tokens"),
    )

def token_counts_oracle() -> str:
    return r"""
SELECT doc_id,
       CAST(len(string_split_regex(text, '\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS re_tokens,
       CAST(ceil(length(text) / 4.0) AS INT) AS approx_bpe_tokens
FROM documents
"""

TOP_TERMS_K = 3

def top_terms(spark: SparkSession, sf_dir: str, k: int = TOP_TERMS_K) -> DataFrame:
    """Per-document top-k terms by TF-IDF (score = tf * ln(1 + N/df)),
    deterministic tie-break on the term itself — the keyword/topic
    column a corpus pipeline derives for mixing and reporting.

    Plan shape: one explode -> (doc, term) count (map-side combined),
    document frequency derived FROM that aggregate (no second corpus
    scan), equi-join on term, then a per-doc window for the top-k. All
    four exchanges are linear in token count; nothing is quadratic and
    no UDF appears — the whole pipeline is codegen'd Catalyst."""
    d = tables.load_table(spark, sf_dir, "documents")
    spread = parallelism.spread_scan(spark, sf_dir, d, "documents", "doc_id")
    tokens = spread.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "score")
    )

def top_terms_oracle(k: int = TOP_TERMS_K) -> str:
    return rf"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ln(1.0 + CAST(n_docs AS DOUBLE) / df), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, score
FROM ranked WHERE rank <= {k}
"""

# deterministic corpus split: md5-derived bucket of the doc key, so the
# assignment is stable across runs, machines and engines (no RNG state)
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10

def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by hashed
    doc_id — the held-out-split operator of a training pipeline.
    Hash-based splitting is the scale idiom: no sampling state, no
    shuffle at all (a pure projection), and any engine that can md5
    reproduces the exact membership."""
    d = tables.load_table(spark, sf_dir, "documents")
    return d.select("doc_id", split_struct_expr().alias("s")).select(
        "doc_id", F.col("s.bucket").alias("bucket"), F.col("s.split").alias("split")
    )

def split_struct_expr():
    """struct(bucket, split) over `doc_id` — exposed as a bare
    expression for fused pipelines."""
    bucket = F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")) % 100
    return F.struct(
        bucket.cast("int").alias("bucket"),
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )

def dataset_splits_oracle() -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id,
       CAST({h} % 100 AS INT) AS bucket,
       CASE WHEN {h} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {h} % 100 < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: whole-text hash + winnowing-style minimum
    shingle hash (the cheap pre-cluster key for near-dup sharding).
    array_min of an empty array is NULL, so no size guard is needed —
    the shingle array is built exactly once per row."""
    d = tables.load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(H.h32_expr_sql("text")).alias("content_hash"),
        F.expr(
            f"array_min(transform({H.word_shingles_expr_sql('text')}, s -> {H.h32_expr_sql('s')}))"
        ).alias("min_shingle_hash"),
    )

def doc_fingerprints_oracle() -> str:
    shingles = H.word_shingles_sql("text")
    h = H.h32_sql("s")
    return f"""
SELECT doc_id,
       {H.h32_sql("text")} AS content_hash,
       list_min(list_transform({shingles}, s -> {h})) AS min_shingle_hash
FROM documents
"""

# ---------------------------------------------------------------------------
# BM25 ranked retrieval (corpus-statistics text relevance)
# ---------------------------------------------------------------------------

BM25_QUERY = ("fast", "data", "query")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOPK,
) -> DataFrame:
    """BM25 top-k retrieval over the documents corpus — the
    statistics-grounded text-relevance operator (the reference ranks
    text matches by positional heuristics only, search.get.ts:64-101;
    BM25 is what that becomes once corpus statistics exist).

    Plan shape (the distributed BM25 shape, asserted in
    tests/test_plans.py): document length is a PER-ROW projection
    (size of the token array — no explode, no shuffle), carried through
    the posting explode so the one real shuffle aggregates only the
    query-pruned postings (|docs matching Q| × |Q| rows, not the full
    inverted index); the (n_docs, avgdl) corpus scalars are a
    shuffle-free scalar aggregate of a second narrow scan, and document
    frequencies (|Q| rows) + scalars broadcast into the scoring join.
    Two corpus scans total, nothing corpus-sized ever exchanges.
    Ranking is on the unrounded score (rounding only in the final
    projection) with doc_id tie-break, and the top-k is
    TakeOrderedAndProject — no global sort. Emits
    (doc_id, n_terms, bm25)."""
    d = tables.load_table(spark, sf_dir, "documents")
    dl_expr = F.size(F.split(F.lower("text"), r"\s+"))
    qterms = F.array(*[F.lit(t) for t in terms])
    tokens = parallelism.spread_scan(spark, sf_dir, d, "documents", "doc_id").select(
        "doc_id",
        dl_expr.alias("dl"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term"),
    )
    # persisted: dfreq and the scoring join both reference this posting
    # aggregation and Catalyst instantiates the subtree per reference —
    # the cache saves the second corpus tokenize (A/B: ~11% at sf0.1)
    tf = persist_if(
        tokens.filter(F.array_contains(qterms, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")),
        tuple(terms) == BM25_QUERY,
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(dl_expr).alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") * (BM25_K1 + 1.0) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms"),
            # integer micro-unit accumulation: the per-term summand is
            # libm-derived (ln), so quantize BEFORE summing — the score,
            # the top-k cut, and the tie-break are then all
            # order-independent and engine-exact (see functions.num)
            F.sum(F.round((idf * norm) * 1e6, 0).cast("bigint")).alias("score_u"),
        )
    )
    return (
        scored.orderBy(F.col("score_u").desc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id", "n_terms", F.round(F.col("score_u") / 1e6, 6).alias("bm25"))
    )

def bm25_search_oracle(terms: tuple[str, ...] = BM25_QUERY, k: int = BM25_TOPK) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    return rf"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens
  WHERE term IN ({term_list}) GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, CAST(count(*) AS INT) AS n_terms,
         sum(CAST(round((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * ({BM25_K1} + 1.0)
             / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))) * 1e6) AS BIGINT)) AS score_u
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms, round(score_u / 1e6, 6) AS bm25
FROM scored ORDER BY score_u DESC, doc_id LIMIT {k}
"""

# ---------------------------------------------------------------------------
# PMI collocations (bigram association mining)
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 20
PMI_TOPK = 50

def pmi_collocations(
    spark: SparkSession, sf_dir: str, min_count: int = PMI_MIN_COUNT, k: int = PMI_TOPK
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information
    — the phrase-mining operator (tokenizer vocab extension, entity
    discovery). PMI = ln(P(ab) / (P(a)·P(b))) with all probabilities
    from corpus counts.

    Plan shape: ONE tokenize pass builds the adjacent-pair stream with
    a per-row higher-order zip (arrays_zip of the token array and
    itself shifted — no self-join!); pair and unigram counts are two
    aggregations; unigram totals broadcast into the pair table (two
    small joins on single words). The min_count floor prunes the pair
    table before the joins, and top-k is TakeOrderedAndProject. Emits
    (w1, w2, n_pair, pmi)."""
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents"
    )
    toks = F.split(F.lower("text"), r"\s+")
    pairs_expr = F.expr(
        "transform(slice(tokens, 1, greatest(size(tokens) - 1, 0)), (t, i) -> struct(t as w1, tokens[i + 1] as w2))"
    )
    pairs = (
        d.select(toks.alias("tokens"))
        .select(F.explode(pairs_expr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    pair_counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    tokens = d.select(F.explode(toks).alias("w"))
    uni = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    totals = pair_counts.agg(F.sum("n_pair").alias("total_pairs")).crossJoin(
        uni.agg(F.sum("n_w").alias("total_words"))
    )
    pmi = F.log(
        (F.col("n_pair") / F.col("total_pairs"))
        / ((F.col("n_a") / F.col("total_words")) * (F.col("n_b") / F.col("total_words")))
    )
    scored = (
        pair_counts.filter(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .crossJoin(F.broadcast(totals))
        # quantize the libm-derived score BEFORE the top-k cut so the
        # cut and tie-break are engine-exact (same pattern as bm25)
        .select("w1", "w2", "n_pair", F.round(pmi * 1e6, 0).cast("bigint").alias("pmi_u"))
    )
    return (
        scored.orderBy(F.col("pmi_u").desc(), F.col("w1"), F.col("w2"))
        .limit(k)
        .select("w1", "w2", "n_pair", F.round(F.col("pmi_u") / 1e6, 6).alias("pmi"))
    )

def pmi_collocations_oracle(min_count: int = PMI_MIN_COUNT, k: int = PMI_TOPK) -> str:
    return rf"""
WITH docs AS (SELECT string_split_regex(lower(text), '\s+') AS tokens FROM documents),
pairs AS (
  SELECT t.w1, t.w2 FROM docs,
  LATERAL unnest(list_transform(tokens[1:len(tokens)-1],
                 (x, i) -> struct_pack(w1 := x, w2 := tokens[i + 1]))) AS u(t)
),
pair_counts AS (SELECT w1, w2, count(*) AS n_pair FROM pairs GROUP BY 1, 2),
tokens AS (SELECT unnest(tokens) AS w FROM docs),
uni AS (SELECT w, count(*) AS n_w FROM tokens GROUP BY 1),
totals AS (
  SELECT (SELECT sum(n_pair) FROM pair_counts) AS total_pairs,
         (SELECT sum(n_w) FROM uni) AS total_words
),
scored AS (
  SELECT p.w1, p.w2, p.n_pair,
         CAST(round(ln((p.n_pair / total_pairs)
            / ((a.n_w / total_words) * (b.n_w / total_words))) * 1e6) AS BIGINT) AS pmi_u
  FROM pair_counts p
  JOIN uni a ON a.w = p.w1
  JOIN uni b ON b.w = p.w2
  CROSS JOIN totals
  WHERE p.n_pair >= {min_count}
)
-- rank on the micro-unit-quantized score (mirrors the Spark plan): the
-- top-k cut and tie-break are then engine-exact despite per-row libm
-- ulp wobble in ln()
SELECT w1, w2, n_pair, round(pmi_u / 1e6, 6) AS pmi
FROM scored
ORDER BY pmi_u DESC, w1, w2 LIMIT {k}
"""

# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and vector ranks
# ---------------------------------------------------------------------------

RRF_C = 60
HYBRID_POOL = 50
HYBRID_TOPK = 20

def hybrid_search(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = BM25_QUERY,
    k: int = HYBRID_TOPK,
    pool: int = HYBRID_POOL,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval via reciprocal-rank fusion
    (Cormack et al. 2009): the BM25 top-`pool` and the embedding-cosine
    top-`pool` (over the stored embeddings table, which aligns 1:1 with
    documents — the same space ann_topk queries) merge on doc_id with
    rrf = 1/(C + text_rank) + 1/(C + vec_rank), missing ranks
    contributing 0. This is the RAG retrieval shape the reference's
    two separate endpoints (text search, vector search —
    src/endpoints/search.get.ts / vectorSearch.get.ts) compose into.

    Scale notes: each leg is already a top-`pool` reduction
    (TakeOrderedAndProject / per-partition heaps), so the fusion join
    touches 2·pool rows — driver-trivial at any corpus size; the corpus
    never exchanges, and the vector leg reads the persisted embedding
    column rather than re-encoding documents. The RRF score is a fixed
    two-term expression over small-integer ranks, so it is bit-identical
    across engines with no quantization needed. Emits
    (doc_id, text_rank, vec_rank, rrf)."""
    wt = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    text_ranked = (
        bm25_search(spark, sf_dir, terms, pool)
        .select("doc_id", F.row_number().over(wt).cast("int").alias("text_rank"))
    )
    qv = V.vector_lit_spark_sql(V.embed_query(" ".join(terms)))
    vecs = tables.load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id AS doc_id", f"round({V.cosine_expr_sql('embedding', qv)}, 6) AS cosine"
    )
    wv = Window.orderBy(F.col("cosine").desc_nulls_last(), F.col("doc_id"))
    vec_ranked = (
        vecs.orderBy(F.col("cosine").desc_nulls_last(), F.col("doc_id"))
        .limit(pool)
        .select("doc_id", F.row_number().over(wv).cast("int").alias("vec_rank"))
    )
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("text_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    fused = text_ranked.join(vec_ranked, "doc_id", "full_outer").select(
        "doc_id", "text_rank", "vec_rank", rrf.alias("rrf")
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(k)

def hybrid_search_oracle(
    terms: tuple[str, ...] = BM25_QUERY, k: int = HYBRID_TOPK, pool: int = HYBRID_POOL
) -> str:
    qv = V.vector_sql_literal(V.embed_query(" ".join(terms)))
    cos = V.cosine_sql("embedding", qv)
    return f"""
WITH bm AS ({bm25_search_oracle(terms, pool)}),
text_ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS text_rank
  FROM bm
),
scored AS (SELECT vec_id AS doc_id, round({cos}, 6) AS cosine FROM embeddings),
vec_ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC NULLS LAST, doc_id) AS INT) AS vec_rank
  FROM (SELECT * FROM scored ORDER BY cosine DESC NULLS LAST, doc_id LIMIT {pool})
)
SELECT COALESCE(t.doc_id, u.doc_id) AS doc_id, t.text_rank, u.vec_rank,
       round(COALESCE(1.0 / ({RRF_C} + t.text_rank), 0.0)
             + COALESCE(1.0 / ({RRF_C} + u.vec_rank), 0.0), 6) AS rrf
FROM text_ranked t FULL OUTER JOIN vec_ranked u ON t.doc_id = u.doc_id
ORDER BY rrf DESC, doc_id LIMIT {k}
"""

# ---------------------------------------------------------------------------
# BPE merge statistics (tokenizer induction, first merge step)
# ---------------------------------------------------------------------------

BPE_TOPK = 50

def bpe_pair_counts(spark: SparkSession, sf_dir: str, k: int = BPE_TOPK) -> DataFrame:
    """Corpus-weighted adjacent character-pair frequencies — the
    argmax-search statistic of one BPE merge step (Sennrich et al.
    2016), the tokenizer-induction primitive a training-data pipeline
    runs before committing to a vocab.

    Scale shape: the char-level explode runs over the DISTINCT-WORD
    vocabulary (bounded by Heaps' law — sublinear in corpus bytes), not
    the token stream: tokenize once, count words (one shuffle on a
    narrow string key with map-side combine), then explode each distinct
    word into its len-1 adjacent pairs weighted by the word count. The
    quadratic-ish char work is O(vocab · word_len) regardless of corpus
    size, which is why production BPE trainers do exactly this
    word-histogram reduction first. All-integer math; top-k is
    TakeOrderedAndProject. Emits (pair, n_words, total)."""
    d = tables.load_table(spark, sf_dir, "documents")
    tokens = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
    vocab = tokens.filter(F.length("w") >= 2).groupBy("w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pairs_expr = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    pairs = vocab.select("cnt", F.explode(pairs_expr).alias("pair"))
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_words"), F.sum("cnt").alias("total")
    )
    return counts.orderBy(F.col("total").desc(), F.col("pair")).limit(k)

def bpe_pair_counts_oracle(k: int = BPE_TOPK) -> str:
    return rf"""
WITH tokens AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
),
vocab AS (
  SELECT w, count(*) AS cnt FROM tokens WHERE len(w) >= 2 GROUP BY 1
),
pairs AS (
  SELECT substring(w, CAST(i AS INT), 2) AS pair, cnt
  FROM vocab, unnest(range(1, len(w))) AS u(i)
)
SELECT pair, count(*) AS n_words, CAST(sum(cnt) AS BIGINT) AS total
FROM pairs GROUP BY 1
ORDER BY total DESC, pair LIMIT {k}
"""

# ---------------------------------------------------------------------------
# BPE training + corpus tokenization (fertility audit)
# ---------------------------------------------------------------------------

BPE_MERGES = 6

# learned merge lists per (application, sf_dir, m, checkpoint_every):
# training is an eager driver loop (each round collects ONE row — the
# argmax pair), so like dedup_clusters its result cannot be shared via
# the CacheManager; deterministic, bounded entries (same discipline as
# functions/caching). checkpoint_every is part of the key even though
# it cannot change the VALUES (checkpointing is a lineage cut, not a
# semantic knob): a non-default cadence must actually train with that
# cadence, not silently return the memoized default-cadence plan.
_BPE_MEMO: dict[tuple[str, str, int, int], list[tuple[int, str, str, int]]] = {}


def _sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal of `s` (escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_apply_expr_sql(seg: str, a: str, b: str) -> str:
    """One BPE merge applied to a space-separated segmentation string:
    the exact left-to-right greedy pass of Sennrich et al. 2016 §3.2,
    as a string fold — merge when the accumulated string's LAST symbol
    is `a` and the incoming symbol is `b`, else append with a space.
    Expressed identically in DuckDB (`list_reduce`, _bpe_apply_sql) so
    the oracle reproduces every segmentation byte-for-byte.

    The input `seg` is deliberately referenced EXACTLY ONCE. Higher-
    order functions are CodegenFallback, so interpreted evaluation
    gets no common-subexpression elimination: a formulation that
    mentioned split(seg) k times would copy the whole upstream
    segmentation tree k-fold PER MERGE ROUND — k^m expression blowup
    for m chained merges (the first cut did exactly that: 4
    references, 50s for a 6-merge fertility pass that runs in ~1s
    linear). Folding from an empty-string init with the first symbol
    handled inside the lambda keeps the m-round chain linear. As text
    each round is one parse, not the ~20 py4j round-trips of a Column
    built from the same functions (r12 profile: the m-round chain
    dominated the encode family's plan construction)."""
    return (
        f"aggregate(split({seg}, ' '), '', (acc, x) -> "
        f"CASE WHEN acc = '' THEN x "
        f"WHEN regexp_extract(acc, '[^ ]*$', 0) = {_sql_str(a)} AND x = {_sql_str(b)} "
        f"THEN concat(acc, x) ELSE concat(acc, ' ', x) END)"
    )


def _bpe_seg_sql(merges: list[tuple[int, str, str, int]]) -> str:
    """The m learned merges folded over a word's character split, as
    ONE Spark-SQL expression string (input column `w`)."""
    seg = "array_join(split(w, ''), ' ')"
    for _, a, b, _t in merges:
        seg = _bpe_apply_expr_sql(seg, a, b)
    return seg


def _bpe_apply_sql(seg: str, a_expr: str, b_expr: str) -> str:
    return f"""CASE WHEN len(string_split({seg}, ' ')) = 1 THEN {seg} ELSE
      list_reduce(string_split({seg}, ' '),
        (acc, x) -> CASE WHEN regexp_extract(acc, '[^ ]*$') = {a_expr} AND x = {b_expr}
                    THEN acc || x ELSE acc || ' ' || x END) END"""


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word histogram — the vocab-scale reduction every BPE
    trainer runs first (Heaps' law bounds it sublinearly in corpus
    bytes, which is why 100 TB BPE training is feasible at all)."""
    d = tables.load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


BPE_CHECKPOINT_EVERY = 8


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    checkpoint_every: int = BPE_CHECKPOINT_EVERY,
) -> list[tuple[int, str, str, int]]:
    """Learn `m` BPE merges on the corpus word histogram: per round,
    count adjacent SYMBOL pairs on the current segmentation (weighted
    by word frequency, overlapping occurrences counted as Sennrich
    does), pick the max — ties broken (total DESC, a ASC, b ASC) so
    engine and oracle agree — apply it, repeat. Each round's argmax is
    a single-row collect (the O(1) iterative-driver pattern of
    _connected_components); the pair count is a vocab-scale
    aggregation, never a corpus pass. Returns [(round, a, b, total)].

    Rounds re-derive the segmentation lazily (round r's plan folds the
    merges since the last checkpoint over the vocab scan) — at vocab
    scale that beats minting per-round cache entries — and every
    `checkpoint_every` rounds the segmentation is localCheckpoint-ed
    (the `ivf_train_converged` lifecycle): the fold chain and its
    analysis cost stay bounded at O(checkpoint_every) regardless of
    how many thousand merges the trainer runs, at the price of one
    vocab-scale materialization per cadence. The default m never
    reaches the cadence, so the small-m oracle plans are unchanged;
    the 30-merge pytest pins merge-for-merge parity with the
    independent pure-Python trainer ACROSS checkpoint boundaries.
    """
    key = (spark.sparkContext.applicationId, sf_dir, m, checkpoint_every)
    if key in _BPE_MEMO:
        return _BPE_MEMO[key]
    vocab = persist_if(_bpe_vocab(spark, sf_dir), m == BPE_MERGES)
    cur = vocab.select(
        "w", "cnt", F.array_join(F.split(F.col("w"), ""), " ").alias("seg")
    )
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, m + 1):
        syms = F.split(F.col("seg"), " ")
        pair_expr = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("a"),
                    F.element_at(syms, i + 1).alias("b"),
                ),
            )
        )
        top = (
            cur.filter(F.size(syms) >= 2)
            .select("cnt", pair_expr.alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.col("total").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, total = top[0].a, top[0].b, int(top[0].total)
        merges.append((r, a, b, total))
        cur = cur.selectExpr("w", "cnt", f"{_bpe_apply_expr_sql('seg', a, b)} AS seg")
        if checkpoint_every and r % checkpoint_every == 0:
            cur = cur.localCheckpoint()
    _BPE_MEMO[key] = merges
    return merges


def _bpe_train_ctes(m: int) -> str:
    """The oracle's unrolled training rounds: CTEs vocab, seg0,
    p1..pm (pair counts), m1..mm (argmax), seg1..segm (applied)."""
    parts = [
        r"""vocab AS (
  SELECT w, count(*) AS cnt
  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
),
seg0 AS (
  SELECT w, cnt, array_to_string(string_split(w, ''), ' ') AS seg FROM vocab
)"""
    ]
    for r in range(1, m + 1):
        parts.append(
            f"""p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS total
  FROM (SELECT cnt, string_split(seg, ' ') AS s FROM seg{r - 1}),
       unnest(range(1, len(s))) AS u(i)
  GROUP BY 1, 2
),
m{r} AS (SELECT a, b, total FROM p{r} ORDER BY total DESC, a, b LIMIT 1),
seg{r} AS (
  -- LEFT JOIN, not CROSS: an exhausted corpus (no pairs left) must
  -- carry the segmentation forward unchanged, matching the trainer's
  -- early break — a cross join against the empty argmax would empty
  -- every later CTE and silently zero the downstream oracles
  SELECT w, cnt,
         CASE WHEN m.a IS NULL THEN seg
              ELSE {_bpe_apply_sql("seg", "m.a", "m.b")} END AS seg
  FROM seg{r - 1} LEFT JOIN m{r} m ON TRUE
)"""
        )
    return ",\n".join(parts)


def bpe_merges(spark: SparkSession, sf_dir: str, m: int = BPE_MERGES) -> DataFrame:
    """The learned merge table (round, a, b, merged, total) — the
    artifact a tokenizer build publishes. The reference has no
    tokenizer (its text feeds an embeddings API wholesale,
    generateEmbeddings.ts); this is the beyond-reference
    tokenizer-induction step bpe_pair_counts (first-round statistics
    only) points toward, now trained to m rounds with exact Sennrich
    apply semantics, oracle-pinned round by round."""
    rows = _bpe_train(spark, sf_dir, m)
    return local_df(
        spark,
        [(r, a, b, a + b, t) for r, a, b, t in rows],
        "round int, a string, b string, merged string, total bigint",
    )


def bpe_merges_oracle(m: int = BPE_MERGES) -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a, b, a || b AS merged, total FROM m{r}"
        for r in range(1, m + 1)
    )
    return f"WITH {_bpe_train_ctes(m)}\n{unions}"


def bpe_vocab(spark: SparkSession, sf_dir: str, m: int = BPE_MERGES) -> DataFrame:
    """The tokenizer's publishable vocabulary: every symbol the
    m-merge segmentation emits anywhere in the corpus, with its
    corpus-weighted frequency and a deterministic token id (frequency
    DESC, symbol ASC — the id assignment every tokenizer artifact
    fixes at build time). Base characters that survive unmerged and
    merged symbols land in one table, so `size(vocab)` is the
    embedding-matrix row count a model build allocates.

    Scale shape: one explode over the vocab-histogram segmentation
    (vocab-scale, not corpus-scale), one aggregation, one global rank
    over the (small) symbol table. Emits (token, token_id, n_words,
    freq)."""
    merges = _bpe_train(spark, sf_dir, m)
    vocab = _bpe_vocab(spark, sf_dir)
    seg = _bpe_seg_sql(merges)
    syms = (
        vocab.selectExpr("w", "cnt", f"explode(split({seg}, ' ')) AS token")
        .groupBy("token")
        .agg(
            F.countDistinct("w").alias("n_words"),
            F.sum("cnt").alias("freq"),
        )
    )
    w_rank = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return syms.select(
        "token",
        (F.row_number().over(w_rank)).cast("int").alias("token_id"),
        "n_words",
        "freq",
    )


def bpe_vocab_oracle(m: int = BPE_MERGES) -> str:
    return f"""
WITH {_bpe_train_ctes(m)},
syms AS (
  SELECT token, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
         CAST(sum(cnt) AS BIGINT) AS freq
  FROM (SELECT w, cnt, unnest(string_split(seg, ' ')) AS token FROM seg{m})
  GROUP BY token
)
SELECT token,
       CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS token_id,
       n_words, freq
FROM syms
"""


BPE_ENCODE_DOCS = 10

# Broadcast ceiling for the exploded distinct-word segmentation table
# the encode joins into the occurrence stream. Heaps' law keeps the
# distinct-word vocabulary sublinear in corpus bytes, but a true
# web-scale corpus (typos, URLs, numerals) can push it past what a
# driver/executor comfortably broadcasts — a few subword rows per
# word, so 2M words is roughly low hundreds of MB. At or below the
# ceiling the corpus never shuffles to be tokenized; above it the
# encode falls back to a plain shuffle join on `w` (one extra
# corpus-sized exchange, unavoidable once the vocab side outgrows
# memory) — same values either way, pinned by test.
BPE_BROADCAST_MAX_WORDS = 2_000_000

# distinct-word counts per (application, sf_dir): one count decides the
# join strategy for every encode-family consumer in the session; rides
# the persisted vocab subtree so it is a cache-scan at default args.
# Cleared by dedup.clear_session_memos alongside the other memos.
_VOCAB_COUNT_MEMO: dict[tuple[str, str], int] = {}


def _vocab_join_side(spark: SparkSession, sf_dir: str, vocab_side: DataFrame, broadcast_max: int):
    """The vocab-derived join side, broadcast only below the ceiling —
    see BPE_BROADCAST_MAX_WORDS. The count memoizes per (application,
    sf_dir); `broadcast_max <= 0` forces the shuffle path (tests pin
    both paths hash-identical)."""
    if broadcast_max <= 0:
        # forced-shuffle arm: the broadcast decision is already made, so
        # never pay (or memoize) the distinct-word count corpus scan
        return vocab_side
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _VOCAB_COUNT_MEMO:
        _VOCAB_COUNT_MEMO[key] = _bpe_vocab(spark, sf_dir).count()
    if _VOCAB_COUNT_MEMO[key] <= broadcast_max:
        return F.broadcast(vocab_side)
    return vocab_side


def bpe_encode_sample(
    spark: SparkSession, sf_dir: str, m: int = BPE_MERGES, n_docs: int = BPE_ENCODE_DOCS
) -> DataFrame:
    """The tokenizer's end product: documents encoded to ordered
    token-id sequences — the model-ready representation a training
    shard stores. Bounded to the first `n_docs` documents so the
    emitted table stays a publishable sample; the plan is the
    production encode unchanged (drop the doc_id filter and it IS the
    corpus encode).

    Scale shape: tokenize + the m literal-merge folds are one
    stateless projection (no merges table join); token ids come from
    ONE broadcast of the corpus vocabulary; the only shuffle is the
    per-document position window, bounded by document length. Emits
    (doc_id, pos, token, token_id) with pos 1-based in reading
    order."""
    return _bpe_encode(spark, sf_dir, m, doc_bound=n_docs).select(
        "doc_id", "pos", "token", "token_id"
    )


def _bpe_encode(
    spark: SparkSession,
    sf_dir: str,
    m: int,
    doc_bound: int | None = None,
    broadcast_max: int = BPE_BROADCAST_MAX_WORDS,
) -> DataFrame:
    """Shared encode plan: segment each DISTINCT word once, then join
    occurrences to their segmentation. The m merge folds are
    interpreted higher-order functions (CodegenFallback) — the
    per-word fold is the expensive expression in the tokenizer family
    — so the fold runs over the Heaps-law-bounded word histogram
    (exactly the table `_bpe_train` aggregates), never once per
    corpus occurrence: the first cut folded per occurrence and spent
    ~50 s of executor time on the sf0.1 encode that the vocab-join
    formulation does in ~2 s. The exploded (word, spos, token,
    token_id) table is vocab-scale and broadcasts into the occurrence
    stream WHILE the distinct-word count stays under
    BPE_BROADCAST_MAX_WORDS — under the ceiling the corpus never
    shuffles to be tokenized; past it (web-scale vocab: typos, URLs,
    numerals) the encode degrades honestly to a shuffle join on `w`
    rather than blowing the broadcast (same values, pinned by test).
    The remaining corpus-sized exchange is the per-document position
    window (the oracle uses the identical join formulation).
    `doc_bound` limits to the sample prefix (`bpe_encode_sample`);
    None is the full-corpus production encode (`token_shards`). Emits
    (doc_id, pos, token, token_id)."""
    merges = _bpe_train(spark, sf_dir, m)
    seg = _bpe_seg_sql(merges)
    ids = bpe_vocab(spark, sf_dir, m).select("token", "token_id")
    word_tokens = (
        _bpe_vocab(spark, sf_dir)
        .selectExpr("w", f"posexplode(split({seg}, ' ')) AS (spos, token)")
        .join(ids, "token")
    )
    d = tables.load_table(spark, sf_dir, "documents")
    if doc_bound is not None:
        d = d.filter(F.col("doc_id") < doc_bound)
    # The doc_id exchange the position window needs anyway is taken
    # BEFORE the tokenize-explode (r12, guide §2.3/§3.3): the shuffle
    # then carries each document's text once (~44 B/token exploded vs
    # the raw text bytes — measured 11.3 MB -> 1.5 MB at sf0.1) and the
    # explode + vocab join + window all run partition-local after it,
    # parallel across the cluster instead of serial per scan split.
    # The count is pinned (scan-equivalent arithmetic, see
    # functions/parallelism.py) so byte-based AQE coalescing cannot
    # serialize the CPU-heavy explode at fixture scale.
    n_parts = parallelism.corpus_partitions(spark, sf_dir, "documents")
    words = (
        d.repartition(n_parts, "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias("wpos", "w"),
        )
        .filter(F.col("w") != "")
    )
    w_pos = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    return words.join(
        _vocab_join_side(spark, sf_dir, word_tokens, broadcast_max), "w"
    ).select(
        "doc_id",
        F.row_number().over(w_pos).cast("int").alias("pos"),
        "token",
        "token_id",
    )


def bpe_encode_sample_oracle(m: int = BPE_MERGES, n_docs: int = BPE_ENCODE_DOCS) -> str:
    return rf"""
WITH {_bpe_train_ctes(m)},
vsyms AS (
  SELECT token, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
         CAST(sum(cnt) AS BIGINT) AS freq
  FROM (SELECT w, cnt, unnest(string_split(seg, ' ')) AS token FROM seg{m})
  GROUP BY token
),
ids AS (
  SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS token_id
  FROM vsyms
),
words AS (
  SELECT doc_id, i AS wpos, ws[i] AS w
  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
        FROM documents WHERE doc_id < {n_docs}),
       unnest(range(1, len(ws) + 1)) AS u(i)
  WHERE ws[i] <> ''
),
syms AS (
  SELECT doc_id, wpos, j AS spos, ss[j] AS token
  FROM (SELECT wd.doc_id, wd.wpos, string_split(g.seg, ' ') AS ss
        FROM words wd JOIN seg{m} g USING (w)),
       unnest(range(1, len(ss) + 1)) AS v(j)
)
SELECT s.doc_id,
       CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.wpos, s.spos)
            AS INT) AS pos,
       s.token, i.token_id
FROM syms s JOIN ids i USING (token)
"""


def token_shards(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """The tokenizer lifecycle's TERMINAL artifact: the whole corpus
    encoded to ordered token ids, shard-keyed with the same seeded
    hash as `shard_manifest` / `seeded_shuffle` — the (shard, doc_id,
    pos, token_id) table a training job's data loader reads, where
    `bpe_encode_sample` is only the publishable preview. One row per
    token: writing this partitioned by `shard` gives each loader split
    a self-contained, reproducibly-assigned slice (same seed => same
    membership as the shard manifest it is validated against).

    Scale shape: identical to the sample encode with the doc_id bound
    dropped — the m merge folds are literals in one stateless
    projection, the vocabulary broadcasts below the
    BPE_BROADCAST_MAX_WORDS ceiling (shuffle-join fallback above it),
    and the only other shuffle is the per-document position window
    (bounded by document length); the shard key is a pure per-row
    hash, no extra exchange. Emits
    (shard, doc_id, pos, token_id) — the token string stays out so
    the artifact is as narrow as what a trainer actually stores."""
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed = SHUFFLE_SEED if seed is None else seed
    shards = SHUFFLE_SHARDS if shards is None else shards
    shard = F.pmod(
        F.expr(H.h32_expr_sql(f"concat_ws(':', '{seed}', CAST(doc_id AS STRING))")),
        F.lit(shards),
    ).cast("int")
    return _bpe_encode(spark, sf_dir, m).select(
        shard.alias("shard"), "doc_id", "pos", "token_id"
    )


def token_shards_oracle(
    m: int = BPE_MERGES, seed: int | None = None, shards: int | None = None
) -> str:
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed = SHUFFLE_SEED if seed is None else seed
    shards = SHUFFLE_SHARDS if shards is None else shards
    h = H.h32_sql(f"('{seed}' || ':' || CAST(s.doc_id AS VARCHAR))")
    return rf"""
WITH {_bpe_train_ctes(m)},
vsyms AS (
  SELECT token, CAST(sum(cnt) AS BIGINT) AS freq
  FROM (SELECT w, cnt, unnest(string_split(seg, ' ')) AS token FROM seg{m})
  GROUP BY token
),
ids AS (
  SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS token_id
  FROM vsyms
),
words AS (
  SELECT doc_id, i AS wpos, ws[i] AS w
  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
  WHERE ws[i] <> ''
),
syms AS (
  SELECT doc_id, wpos, j AS spos, ss[j] AS token
  FROM (SELECT wd.doc_id, wd.wpos, string_split(g.seg, ' ') AS ss
        FROM words wd JOIN seg{m} g USING (w)),
       unnest(range(1, len(ss) + 1)) AS v(j)
)
SELECT CAST({h} % {shards} AS INT) AS shard,
       s.doc_id,
       CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.wpos, s.spos)
            AS INT) AS pos,
       i.token_id
FROM syms s JOIN ids i USING (token)
"""


def token_shards_store(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    seed: int | None = None,
    shards: int | None = None,
    rebuild: bool = False,
) -> str:
    """STORE step of the tokenizer lifecycle — the same treatment the
    IVF index got in `ann.ivf_index_store`: materialize the full-corpus
    encode (shard, doc_id, pos, token_id) as a parquet warehouse table
    PARTITIONED BY `shard` and return its path. Partitioning by shard
    is the operational point the `token_shards` docstring promised:
    each data-loader split opens exactly its own `shard=N` directory —
    partition pruning at the file listing, no filter, no shuffle, no
    other split's bytes read.

    Write-if-absent keyed by (sf tag, m, seed, shards) —
    functions/warehouse.py's discipline: the tag digests the absolute
    path (same-leaf fixture roots get distinct entries) and the
    documents table's (size, mtime) (a regenerated/mutated corpus
    rebuilds instead of serving the stale encode); `_SUCCESS` is the
    commit marker and `rebuild=True` the explicit invalidation hook.

    A sibling MANIFEST table (shard, doc_id, n_tokens) is written in
    the same commit from the same encode: the per-document token
    profile every serve-path consumer (`stored_shard_report`'s pack
    rollup, `token_shards_upsert`'s frozen side) needs — precomputed
    once at write time instead of re-aggregated from the token rows on
    every serve. At 100 TB the manifest is ~corpus-doc-count rows vs
    the token table's ~corpus-token-count: the difference between a
    loader reading megabytes and re-scanning terabytes per plan."""
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed = SHUFFLE_SEED if seed is None else seed
    shards = SHUFFLE_SHARDS if shards is None else shards
    tag = warehouse.sf_tag(sf_dir, "documents")
    path = os.path.join(
        warehouse.WAREHOUSE_DIR, f"token_shards_{tag}_m{m}_s{seed}_n{shards}"
    )
    manifest = _token_manifest_path(path)
    if rebuild or not warehouse.tables_ready(path, manifest):
        enc = token_shards(spark, sf_dir, m, seed, shards)
        (
            enc
            # loader-friendly physical layout, paid once at build time:
            # repartition on the shard key collapses the write from
            # (shuffle partitions x shards) small files to one file per
            # shard (the encode upstream of this exchange keeps its full
            # parallelism), and sorting within each shard by (doc_id,
            # pos) stores every document contiguously in stream order —
            # sequential reads for the loader, long run-lengths for the
            # encoder. At 100 TB the repartition width would be a
            # multiple of the shard count; 1:1 is right at fixture scale.
            # The sort leads with `shard`: a partitioned write requires
            # its rows ordered by the partition column, and a sort on
            # (doc_id, pos) alone does not satisfy that, so the planner
            # adds a Sort on `shard` and drops ours as redundant.
            .repartition(shards, "shard")
            .sortWithinPartitions("shard", "doc_id", "pos")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
        from .layout import manifest_file_count

        # manifest from the just-committed token table (a narrow
        # warehouse scan, not a second encode): one row per (shard,
        # doc_id) with its token mass. Sized by ITS OWN row count
        # (layout.manifest_file_count over the persisted aggregate —
        # r10 advisory: the sizing input is the actual (shard, doc_id)
        # row set, not a documents-table count whose extra driver job
        # re-scanned source metadata on every rebuild), so the layout
        # rule and the rows it sizes can never drift. coalesce(1)
        # would be right at fixture scale but a single write task +
        # single multi-GB file at 100 TB (r10 review).
        agg = (
            spark.read.parquet(path)
            .groupBy(F.col("shard").cast("int").alias("shard"), F.col("doc_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
            .persist()
        )
        try:
            n_rows = agg.count()
            (
                agg.repartition(manifest_file_count(n_rows), "doc_id")
                .write.mode("overwrite")
                .parquet(manifest)
            )
        finally:
            agg.unpersist()
    return path


def _token_manifest_path(shards_path: str) -> str:
    # sibling, not a subdirectory: the token table is partitioned
    # parquet and a non-`shard=` child would break partition discovery
    return shards_path + "_manifest"


def stored_token_manifest(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """LOAD step, manifest half: the per-document token profile
    (shard, doc_id, n_tokens) written beside the shards at store time
    (writing both first if absent)."""
    path = token_shards_store(spark, sf_dir, m, seed, shards)
    return spark.read.parquet(_token_manifest_path(path))


def stored_token_shards(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """LOAD step: the model-ready token table as a DataFrame backed by
    the stored warehouse parquet (writing it first if absent). Column
    order re-normalized (partition column `shard` reads back last)."""
    path = token_shards_store(spark, sf_dir, m, seed, shards)
    return spark.read.parquet(path).select(
        F.col("shard").cast("int").alias("shard"), "doc_id", "pos", "token_id"
    )


PACK_TOKEN_BUDGET = 256


def stored_shard_report(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    budget: int | None = None,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """SERVE step — the registry's end-to-end stored-shards path: read
    each document's token mass from the MANIFEST table written beside
    the shards at store time (no re-encode, no re-aggregation of the
    token rows, and the documents table is never scanned — plan-pinned
    to the manifest scan), run the same greedy running-total pack as
    `pack_token_sequences` over those stored counts, and roll up the
    per-shard report a training job's loader reads before it opens a
    split: document count, token mass, packed-sequence count, and the
    largest single document (the sequence-length hazard).

    The oracle intentionally does NOT read the warehouse table: it
    re-derives the same report from the base tables (the
    `pack_token_sequences` CTEs + a shard rollup), so a hash-green row
    certifies the encode -> store -> manifest -> pack roundtrip
    preserved every value — exactly how `index_lifecycle_report`
    certified the IVF store. Emits (shard, n_docs, n_tokens, n_seqs,
    max_doc_tokens)."""
    budget = PACK_TOKEN_BUDGET if budget is None else budget
    per_doc = stored_token_manifest(spark, sf_dir, m, seed, shards)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = per_doc.select(
        "shard", "n_tokens", F.floor(prev / budget).alias("seq_id")
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
        F.max("n_tokens").cast("bigint").alias("max_doc_tokens"),
    )


def bpe_tokenizer_store(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    rebuild: bool = False,
) -> str:
    """STORE step for the TOKENIZER ITSELF — the artifact a model build
    actually ships (tokenizer.json's relational shape): the ordered
    merge list and the frequency-ranked vocabulary as two parquet
    tables under the warehouse. Training is the expensive eager driver
    loop (`_bpe_train`); its session memo dies with the process, so
    before this every new session (driver run, bench run, service
    restart) retrained from the corpus. The stored tokenizer makes the
    train cost once-per-corpus instead of once-per-session, and it is
    the FROZEN quantizer of the incremental encode paths — the exact
    role the stored centroids play for the IVF index.

    Same warehouse discipline as the other stores: content-addressed
    tag (path digest + documents (size, mtime)), `_SUCCESS`
    write-if-absent, `rebuild=True` the explicit hook. Three tables:
    the ordered merge list (m rows), the frequency-ranked vocabulary
    (|vocab| rows), and the SEGMENTS table — every distinct corpus
    word exploded to its (w, spos, token, token_id) subword rows, i.e.
    the tokenizer's frozen word->subwords map fully applied. Storing
    the segmentation is what lets every serve-path encode (the
    lifecycle report, the shard upsert's delta) run WITHOUT touching
    the documents table or re-folding the merges: encode = join
    occurrences to the stored segments. All three are tokenizer/
    vocab-sized (Heaps' law) — coalesced single files."""
    tag = warehouse.sf_tag(sf_dir, "documents")
    path = os.path.join(warehouse.WAREHOUSE_DIR, f"bpe_tokenizer_{tag}_m{m}")
    merges_path = os.path.join(path, "merges")
    vocab_path = os.path.join(path, "vocab")
    segments_path = os.path.join(path, "segments")
    if rebuild or not warehouse.tables_ready(merges_path, vocab_path, segments_path):
        bpe_merges(spark, sf_dir, m).coalesce(1).write.mode("overwrite").parquet(
            merges_path
        )
        bpe_vocab(spark, sf_dir, m).coalesce(1).write.mode("overwrite").parquet(
            vocab_path
        )
        merges = _bpe_train(spark, sf_dir, m)
        seg = _bpe_seg_sql(merges)
        ids = bpe_vocab(spark, sf_dir, m).select("token", "token_id")
        (
            _bpe_vocab(spark, sf_dir)
            .selectExpr("w", f"posexplode(split({seg}, ' ')) AS (spos, token)")
            .join(F.broadcast(ids), "token")
            .select("w", "spos", "token", "token_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(segments_path)
        )
    return path


def stored_bpe_merges(
    spark: SparkSession, sf_dir: str, m: int = BPE_MERGES
) -> list[tuple[int, str, str, int]]:
    """LOAD step, merge-list half: the frozen merge sequence from the
    warehouse (writing it first if absent), as the same [(round, a, b,
    total)] structure `_bpe_train` returns — an O(m) driver collect of
    a tokenizer-sized table, the documented driver-table pattern."""
    path = bpe_tokenizer_store(spark, sf_dir, m)
    rows = (
        spark.read.parquet(os.path.join(path, "merges"))
        .orderBy("round")
        .collect()
    )
    return [(int(r.round), r.a, r.b, int(r.total)) for r in rows]


# stored-segments word counts per (application, store path): decides the
# broadcast-vs-shuffle join strategy for the warehouse-served encode
# paths. Counting the STORED table is a warehouse scan (vocab-sized),
# never a corpus pass — the distinction that lets the serve paths stay
# documents-scan-free. Cleared alongside the other session memos.
_STORED_WORDS_MEMO: dict[tuple[str, str], int] = {}


def stored_bpe_segments(
    spark: SparkSession, sf_dir: str, m: int = BPE_MERGES
) -> DataFrame:
    """LOAD step, segmentation half: the frozen word->subwords map
    (w, spos, token, token_id) from the warehouse (writing it first if
    absent). This is the table every warehouse-served encode joins the
    occurrence stream into — the corpus never needs re-segmenting."""
    path = bpe_tokenizer_store(spark, sf_dir, m)
    return spark.read.parquet(os.path.join(path, "segments"))


def _stored_segments_join_side(
    spark: SparkSession,
    sf_dir: str,
    side: DataFrame,
    m: int = BPE_MERGES,
    broadcast_max: int = BPE_BROADCAST_MAX_WORDS,
) -> DataFrame:
    """Broadcast gate for stored-segments-derived join sides: same
    ceiling semantics as `_vocab_join_side`, but the deciding count is
    a distinct-w count over the WAREHOUSE segments table (vocab-sized
    scan), so forcing or taking either arm never touches documents."""
    if broadcast_max <= 0:
        return side
    key = (spark.sparkContext.applicationId, bpe_tokenizer_store(spark, sf_dir, m))
    if key not in _STORED_WORDS_MEMO:
        _STORED_WORDS_MEMO[key] = (
            stored_bpe_segments(spark, sf_dir, m).select("w").distinct().count()
        )
    if _STORED_WORDS_MEMO[key] <= broadcast_max:
        return F.broadcast(side)
    return side


def tokenizer_lifecycle_report(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    n_docs: int = BPE_ENCODE_DOCS,
) -> DataFrame:
    """SERVE step — the registry's end-to-end stored-TOKENIZER path:
    the sample documents are encoded by joining their occurrence
    stream into the STORED segments table — the warehouse's frozen
    (w, spos, token, token_id) map — so the serve path never scans the
    full documents table, never re-folds the merges, and never
    re-derives ids from the corpus: the only corpus touch is the
    n_docs-bounded sample being encoded, and the tokenizer branch of
    the plan is held to warehouse scans (plan-pinned, including the
    broadcast-gate count, which reads the stored table). Output is the
    model-ready encode of `bpe_encode_sample`, and the oracle IS
    `bpe_encode_sample_oracle` — re-deriving training, vocabulary and
    encode from the base tables — so a hash-green row certifies the
    stored tokenizer reproduces the from-scratch tokenizer
    merge-for-merge, id-for-id, byte-for-byte.
    Emits (doc_id, pos, token, token_id)."""
    word_tokens = stored_bpe_segments(spark, sf_dir, m)
    d = tables.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < n_docs)
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("wpos", "w"),
    ).filter(F.col("w") != "")
    w_pos = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    return words.join(
        _stored_segments_join_side(spark, sf_dir, word_tokens, m), "w"
    ).select(
        "doc_id",
        F.row_number().over(w_pos).cast("int").alias("pos"),
        "token",
        "token_id",
    )


def tokenizer_lifecycle_report_oracle(
    m: int = BPE_MERGES, n_docs: int = BPE_ENCODE_DOCS
) -> str:
    return bpe_encode_sample_oracle(m, n_docs)


TOKEN_DOC_HWM = 400  # doc_id high-water mark of the stored corpus


def token_shards_upsert(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    hwm: int = TOKEN_DOC_HWM,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Incremental maintenance of the stored token shards — the
    tokenizer-side twin of the IVF lifecycle's `index_lifecycle_report`:
    documents already present in the stored table are ANTI-JOINED out,
    only the delta is encoded (with the frozen tokenizer), and the
    per-shard merge audit is served. The corpus is never re-encoded to
    admit a batch: the stored side IS the manifest table written at
    store time (one narrow warehouse scan, no re-aggregation of token
    rows), the delta's segmentation comes from the stored SEGMENTS
    table (no merge re-fold, no distinct-word corpus pass), and the
    delta's token mass needs NO position window (each word's count is
    its segmentation size — the `pack_token_sequences` observation),
    so delta cost is a delta-sized scan + the segments-broadcast join
    + one aggregation.

    The high-water mark simulates the stored corpus on the static
    fixture exactly as `IVF_UPSERT_HWM` does for vectors: the frozen
    side is the stored table below `hwm`, and re-delivered documents
    below the mark drop out in whichever batch they arrive (the
    at-least-once contract). Documents that encode to zero tokens
    (empty/whitespace text) have no stored rows, so they re-enter the
    delta harmlessly — they encode to nothing and appear in neither
    side of the audit, in both engines.

    The oracle re-derives both sides from the base tables, so a
    hash-green row certifies the stored profile equals the from-scratch
    derivation document for document. Emits (shard, n_kept_docs,
    n_new_docs, n_kept_tokens, n_new_tokens, new_share)."""
    manifest = stored_token_manifest(spark, sf_dir, m, seed, shards)
    frozen = manifest.filter(F.col("doc_id") < hwm)
    kept = frozen.select("shard", "doc_id", "n_tokens").withColumn(
        "is_new", F.lit(0)
    )
    word_n = (
        stored_bpe_segments(spark, sf_dir, m)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("int").alias("n_sub"))
    )
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed_v = SHUFFLE_SEED if seed is None else seed
    shards_v = SHUFFLE_SHARDS if shards is None else shards
    d = tables.load_table(spark, sf_dir, "documents")
    delta_docs = d.join(frozen.select("doc_id"), "doc_id", "left_anti")
    occurrences = delta_docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    shard = F.pmod(
        F.expr(H.h32_expr_sql(f"concat_ws(':', '{seed_v}', CAST(doc_id AS STRING))")),
        F.lit(shards_v),
    ).cast("int")
    new = (
        occurrences.join(_stored_segments_join_side(spark, sf_dir, word_n, m), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_sub").cast("bigint").alias("n_tokens"))
        .select(shard.alias("shard"), "doc_id", "n_tokens")
        .withColumn("is_new", F.lit(1))
    )
    return (
        kept.unionByName(new)
        .groupBy("shard")
        .agg(
            F.sum(1 - F.col("is_new")).cast("bigint").alias("n_kept_docs"),
            F.sum("is_new").cast("bigint").alias("n_new_docs"),
            F.sum((1 - F.col("is_new")) * F.col("n_tokens")).cast("bigint").alias("n_kept_tokens"),
            F.sum(F.col("is_new") * F.col("n_tokens")).cast("bigint").alias("n_new_tokens"),
            F.round(F.sum("is_new") / F.count(F.lit(1)), 6).alias("new_share"),
        )
    )


def token_shards_upsert_oracle(
    m: int = BPE_MERGES,
    hwm: int = TOKEN_DOC_HWM,
    seed: int | None = None,
    shards: int | None = None,
) -> str:
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed = SHUFFLE_SEED if seed is None else seed
    shards = SHUFFLE_SHARDS if shards is None else shards
    h = H.h32_sql(f"('{seed}' || ':' || CAST(doc_id AS VARCHAR))")
    return rf"""
WITH {_bpe_train_ctes(m)},
word_n AS (SELECT w, len(string_split(seg, ' ')) AS n_sub FROM seg{m}),
occurrences AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
),
per_doc AS (
  SELECT CAST({h} % {shards} AS INT) AS shard, doc_id,
         CAST(sum(n_sub) AS BIGINT) AS n_tokens,
         CASE WHEN doc_id < {hwm} THEN 0 ELSE 1 END AS is_new
  FROM (SELECT o.doc_id, n.n_sub FROM occurrences o
        JOIN word_n n USING (w) WHERE o.w <> '')
  GROUP BY 1, 2
)
SELECT shard,
       CAST(sum(1 - is_new) AS BIGINT) AS n_kept_docs,
       CAST(sum(is_new) AS BIGINT) AS n_new_docs,
       CAST(sum((1 - is_new) * n_tokens) AS BIGINT) AS n_kept_tokens,
       CAST(sum(is_new * n_tokens) AS BIGINT) AS n_new_tokens,
       round(sum(is_new) / CAST(count(*) AS DOUBLE), 6) AS new_share
FROM per_doc GROUP BY shard
"""


def stored_roundtrip_audit(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Lifecycle-CLOSURE audit: DECODE the stored shards back to text.
    Loads the warehouse token table, maps token_id -> token through
    the broadcast vocab artifact (`bpe_vocab` — the same table a
    trainer ships beside the shards), reassembles each document's
    token stream in position order, and compares it against the
    whitespace-stripped lowercased source text. `matches = TRUE` on
    every row is the information-completeness certificate for the
    stored artifact: encode -> store -> load -> decode lost nothing a
    trainer needs. (The encode is lossy only in whitespace, by the
    tokenizer's own convention — hence the stripped comparison.)

    Scale shape: one stored-table scan, the vocab broadcast (id ->
    token is vocab-sized, and read from the STORED tokenizer artifact
    — the id map a trainer actually ships beside the shards, r9; the
    r8 cut re-derived it from the corpus), one per-doc aggregation
    whose reassembly is the same sort_array-of-structs idiom
    `substring_scrub` uses, and a doc_id-keyed join to the narrow
    (doc_id, stripped-text) projection — every exchange is keyed on
    doc_id. The oracle re-derives both sides from base tables, so a
    hash-green row certifies the STORED bytes decode correctly, not
    merely that two engines agree on live plans.
    Emits (doc_id, n_tokens, matches)."""
    stored = stored_token_shards(spark, sf_dir, m, seed, shards)
    vocab_path = os.path.join(bpe_tokenizer_store(spark, sf_dir, m), "vocab")
    vocab = spark.read.parquet(vocab_path).select("token_id", "token")
    decoded = (
        stored.join(F.broadcast(vocab), "token_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                "",
            ).alias("decoded"),
        )
    )
    d = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace(F.lower("text"), r"\s+", "").alias("expected")
    )
    return d.join(decoded, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        (F.coalesce(F.col("decoded"), F.lit("")) == F.col("expected")).alias("matches"),
    )


def stored_roundtrip_audit_oracle(m: int = BPE_MERGES) -> str:
    return rf"""
WITH {_bpe_train_ctes(m)},
words AS (
  SELECT doc_id, i AS wpos, ws[i] AS w
  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
  WHERE ws[i] <> ''
),
syms AS (
  SELECT doc_id, wpos, j AS spos, ss[j] AS token
  FROM (SELECT wd.doc_id, wd.wpos, string_split(g.seg, ' ') AS ss
        FROM words wd JOIN seg{m} g USING (w)),
       unnest(range(1, len(ss) + 1)) AS v(j)
),
decoded AS (
  SELECT doc_id, count(*) AS n_tokens,
         string_agg(token, '' ORDER BY wpos, spos) AS decoded
  FROM syms GROUP BY doc_id
),
expected AS (
  SELECT doc_id, regexp_replace(lower(text), '\s+', '', 'g') AS expected
  FROM documents
)
SELECT e.doc_id,
       CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens,
       (COALESCE(d.decoded, '') = e.expected) AS matches
FROM expected e LEFT JOIN decoded d USING (doc_id)
"""


def stored_shard_report_oracle(
    m: int = BPE_MERGES,
    budget: int | None = None,
    seed: int | None = None,
    shards: int | None = None,
) -> str:
    budget = PACK_TOKEN_BUDGET if budget is None else budget
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed = SHUFFLE_SEED if seed is None else seed
    shards = SHUFFLE_SHARDS if shards is None else shards
    h = H.h32_sql(f"('{seed}' || ':' || CAST(doc_id AS VARCHAR))")
    return rf"""
WITH {_bpe_train_ctes(m)},
word_n AS (SELECT w, len(string_split(seg, ' ')) AS n_sub FROM seg{m}),
occurrences AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
),
per_doc AS (
  SELECT CAST({h} % {shards} AS INT) AS shard, doc_id,
         CAST(sum(n_sub) AS BIGINT) AS n_tokens
  FROM (SELECT o.doc_id, n.n_sub FROM occurrences o
        JOIN word_n n USING (w) WHERE o.w <> '')
  GROUP BY 1, 2
),
c AS (
  SELECT shard, n_tokens,
         floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {budget})
           AS seq_id
  FROM per_doc
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens
FROM c GROUP BY shard
"""


def pack_token_sequences(
    spark: SparkSession,
    sf_dir: str,
    m: int = BPE_MERGES,
    budget: int = PACK_TOKEN_BUDGET,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Sequence packing over TRUE tokenizer counts — the step between
    `token_shards` and the trainer. `textprep.pack_sequences` packs on
    whitespace counts (the planning approximation); this consumes the
    trained tokenizer's actual per-document token mass, so seq_id
    boundaries land where the data loader will actually cut. Same
    streaming-greedy fill, per `token_shards` shard key.

    Scale shape: the per-doc count needs NO position window — each
    word's token count is the size of its segmentation, so the count
    is (occurrences join vocab-scale broadcast (w, n_sub)) + one
    per-doc sum; the only corpus-wide exchange is the per-shard
    running-total window, parallel in the shard count exactly like
    `pack_sequences`. Emits (shard, doc_id, n_tokens, seq_id,
    seq_offset)."""
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed = SHUFFLE_SEED if seed is None else seed
    shards = SHUFFLE_SHARDS if shards is None else shards
    merges = _bpe_train(spark, sf_dir, m)
    seg = _bpe_seg_sql(merges)
    word_n = _bpe_vocab(spark, sf_dir).selectExpr(
        "w", f"size(split({seg}, ' ')) AS n_sub"
    )
    d = tables.load_table(spark, sf_dir, "documents")
    occurrences = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    shard = F.pmod(
        F.expr(H.h32_expr_sql(f"concat_ws(':', '{seed}', CAST(doc_id AS STRING))")),
        F.lit(shards),
    ).cast("int")
    per_doc = (
        # same broadcast ceiling as _bpe_encode — the (w, n_sub) side
        # is vocab-scale and narrower still, but the honest-conditional
        # discipline applies family-wide
        occurrences.join(
            _vocab_join_side(spark, sf_dir, word_n, BPE_BROADCAST_MAX_WORDS), "w"
        )
        .groupBy("doc_id")
        .agg(F.sum("n_sub").cast("bigint").alias("n_tokens"))
        .select(shard.alias("shard"), "doc_id", "n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return per_doc.select(
        "shard",
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.floor(prev / budget).cast("int").alias("seq_id"),
        (prev % budget).cast("int").alias("seq_offset"),
    )


def pack_token_sequences_oracle(
    m: int = BPE_MERGES,
    budget: int = PACK_TOKEN_BUDGET,
    seed: int | None = None,
    shards: int | None = None,
) -> str:
    from .layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed = SHUFFLE_SEED if seed is None else seed
    shards = SHUFFLE_SHARDS if shards is None else shards
    h = H.h32_sql(f"('{seed}' || ':' || CAST(doc_id AS VARCHAR))")
    return rf"""
WITH {_bpe_train_ctes(m)},
word_n AS (SELECT w, len(string_split(seg, ' ')) AS n_sub FROM seg{m}),
occurrences AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
),
per_doc AS (
  SELECT CAST({h} % {shards} AS INT) AS shard, doc_id,
         CAST(sum(n_sub) AS BIGINT) AS n_tokens
  FROM (SELECT o.doc_id, n.n_sub FROM occurrences o
        JOIN word_n n USING (w) WHERE o.w <> '')
  GROUP BY 1, 2
),
c AS (
  SELECT shard, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM per_doc
)
SELECT shard, doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor(prev / {budget}) AS INT) AS seq_id,
       CAST(prev % {budget} AS INT) AS seq_offset
FROM c
"""


def bpe_fertility_report(
    spark: SparkSession, sf_dir: str, m: int = BPE_MERGES
) -> DataFrame:
    """Apply the trained tokenizer to the whole corpus and report
    per-source fertility — tokens per word and chars per token, the
    acceptance metric for a tokenizer build (a source whose fertility
    runs hot is one the merges under-fit, e.g. a language the training
    mix under-weighted).

    Scale shape: the trained merges enter the plan as LITERALS (m
    folds fused into one projection — no join against a merges table),
    so tokenization is a stateless single-pass projection over the
    (source, word) histogram: corpus-scale input, vocab-scale shuffle,
    zero additional corpus passes for the m merge rounds. Emits
    (source, n_words, n_tokens, fertility, chars_per_token)."""
    merges = _bpe_train(spark, sf_dir, m)
    d = tables.load_table(spark, sf_dir, "documents")
    src = (
        d.select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seg = _bpe_seg_sql(merges)
    return (
        src.selectExpr(
            "source",
            "cnt",
            f"cnt * size(split({seg}, ' ')) AS t",
            "cnt * length(w) AS c",
        )
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum("t").alias("n_tokens"),
            F.round(F.sum("t") / F.sum("cnt"), 6).alias("fertility"),
            F.round(F.sum("c") / F.sum("t"), 6).alias("chars_per_token"),
        )
        .select("source", "n_words", "n_tokens", "fertility", "chars_per_token")
    )


def bpe_fertility_report_oracle(m: int = BPE_MERGES) -> str:
    return rf"""
WITH {_bpe_train_ctes(m)},
src AS (
  SELECT source, w, count(*) AS cnt
  FROM (SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY 1, 2
),
toks AS (
  SELECT s.source, s.cnt,
         s.cnt * len(string_split(g.seg, ' ')) AS t,
         s.cnt * len(s.w) AS c
  FROM src s JOIN seg{m} g USING (w)
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_words,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       round(sum(t) / CAST(sum(cnt) AS DOUBLE), 6) AS fertility,
       round(sum(c) / CAST(sum(t) AS DOUBLE), 6) AS chars_per_token
FROM toks GROUP BY source
"""


# ---------------------------------------------------------------------------
# Heavy hitters (count-min sketch with exact-twin verification)
# ---------------------------------------------------------------------------

CMS_DEPTH = 3
CMS_WIDTH = 256
HH_TOPK = 20

def heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    k: int = HH_TOPK,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count-min-sketch frequency estimation for the corpus's top-k
    terms, verified against the exact counts in the same result — the
    FREQUENCY sketch pattern complementing the HLL cardinality rollups
    (hll_daily_users): at 100 TB the d×w counter matrix (a few KB) is
    what every node keeps and merges by element-wise addition, while
    the exact count exists only because fixture scale allows the twin.
    The emitted contract booleans pin the CMS guarantees: the estimate
    never undercounts (min of d counters, each a superset sum), and
    overshoot is bounded by 2N/w on the fixture stream.

    Plan shape: ONE tokenize pass fans each token into `depth` (row,
    bucket) pairs — a plan-constant explode, like the LSH band unpivot —
    and a single (row, bucket) aggregation builds all counters with
    map-side combine; the d×w counter table and the scalar total
    broadcast into the top-k candidates. All-integer arithmetic, so the
    sketch is bit-identical in the oracle. Emits
    (term, n_exact, n_est, never_undercounts, within_bound)."""
    d = tables.load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")).alias("term")
    ).withColumn("h", F.expr(H.h32_expr_sql("term")))
    rows = toks.select(
        "term",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    (F.expr(H.minhash_value_expr_sql("h", i)) % width).alias("bucket"),
                )
                for i in range(depth)
            ])
        ).alias("rb"),
    )
    counters = (
        rows.groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    top = (
        toks.groupBy("term", "h")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("term"))
        .limit(k)
    )
    est = top
    for i in range(depth):
        ci = counters.filter(F.col("row") == i).select(
            F.col("bucket").alias(f"b{i}"), F.col("c").alias(f"c{i}")
        )
        est = est.withColumn(f"b{i}", F.expr(H.minhash_value_expr_sql("h", i)) % width).join(
            F.broadcast(ci), f"b{i}"
        )
    n_est = F.least(*[F.col(f"c{i}") for i in range(depth)])
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "term",
            "n_exact",
            n_est.alias("n_est"),
            (n_est >= F.col("n_exact")).alias("never_undercounts"),
            (n_est - F.col("n_exact") <= 2 * F.col("n_total") / width).alias("within_bound"),
        )
    )

def heavy_hitters_oracle(
    k: int = HH_TOPK, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> str:
    h = H.h32_sql("term")
    rb = " UNION ALL ".join(
        f"SELECT term, {i} AS row, ({H.minhash_value_sql('h', i)}) % {width} AS bucket FROM t"
        for i in range(depth)
    )
    est = ", ".join(
        f"(SELECT c FROM counters c2 WHERE c2.row = {i} AND c2.bucket = ({H.minhash_value_sql('top.h', i)}) % {width})"
        for i in range(depth)
    )
    return rf"""
WITH raw AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
),
t AS (SELECT term, {h} AS h FROM raw),
rb AS ({rb}),
counters AS (SELECT row, bucket, count(*) AS c FROM rb GROUP BY 1, 2),
tot AS (SELECT count(*) AS n_total FROM t),
top AS (
  SELECT term, h, count(*) AS n_exact FROM t GROUP BY 1, 2
  ORDER BY n_exact DESC, term LIMIT {k}
),
est AS (
  SELECT term, n_exact, least({est}) AS n_est FROM top
)
SELECT term, n_exact, n_est,
       (n_est >= n_exact) AS never_undercounts,
       (n_est - n_exact <= 2 * (SELECT n_total FROM tot) / {width}) AS within_bound
FROM est
"""


VOCAB_SIZE = 24


def vocab_coverage(spark: SparkSession, sf_dir: str, v: int = VOCAB_SIZE) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: rate of out-of-vocabulary
    tokens per source against the top-`v` corpus vocabulary — the
    check run before freezing a tokenizer, because a source whose OOV
    rate is high will fragment into byte-fallback tokens and eat the
    token budget (and it tells you WHICH slice of the mixture the
    vocabulary under-serves).

    Plan: one tokenize pass -> (term) count aggregate (map-side
    combined, |vocab| rows out) -> top-v via TakeOrderedAndProject
    (never a global sort of tokens) -> the v-row vocabulary broadcasts
    back into the token stream for the membership mark -> one
    per-source aggregation. Token traffic crosses exactly one exchange.
    Emits (source, n_tokens, n_oov, oov_rate, n_docs,
    n_docs_fully_covered)."""
    d = tables.load_table(spark, sf_dir, "documents")
    tokens = d.select(
        "source", "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    )
    vocab = (
        tokens.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(v)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    marked = tokens.join(F.broadcast(vocab), "term", "left")
    per_doc = marked.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_oov").cast("bigint").alias("n_oov"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_oov") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_fully_covered"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
            "n_docs",
            "n_docs_fully_covered",
        )
    )


def vocab_coverage_oracle(v: int = VOCAB_SIZE) -> str:
    return rf"""
WITH tokens AS (
  SELECT source, doc_id,
         unnest(string_split_regex(lower(text), '\s+')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM tokens GROUP BY term
  ORDER BY count(*) DESC, term ASC LIMIT {v}
),
marked AS (
  SELECT t.source, t.doc_id, v.term IS NOT NULL AS in_vocab
  FROM tokens t LEFT JOIN vocab v ON v.term = t.term
),
per_doc AS (
  SELECT source, doc_id, count(*) AS n_tokens,
         sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS n_oov
  FROM marked GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_oov) AS BIGINT) AS n_oov,
       round(CAST(sum(n_oov) AS DOUBLE) / sum(n_tokens), 6) AS oov_rate,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_oov = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_fully_covered
FROM per_doc GROUP BY source
"""


# ---------------------------------------------------------------------------
# Token-length histogram (sequence-length selection)
# ---------------------------------------------------------------------------

TOKEN_HIST_BIN = 64


def token_length_histogram(
    spark: SparkSession, sf_dir: str, bin_width: int = TOKEN_HIST_BIN
) -> DataFrame:
    """Distribution of document token lengths in fixed-width bins — the
    table that picks a training sequence length: the mass above a
    candidate max_len is truncation loss, the mass far below it is
    padding/packing overhead (pair with `pack_efficiency_report` to
    price the chosen budget). Uses the whitespace-token convention of
    `token_counts`. Emits (bin, lo_tokens, hi_tokens, n_docs,
    total_tokens) — one scan, one map-side-combined aggregation with
    |max_len / bin_width| output rows."""
    d = tables.load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), r"\s+"))
    b = F.floor(n / bin_width)
    return (
        d.select(b.cast("int").alias("bin"), n.alias("n_tokens"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .select(
            "bin",
            (F.col("bin") * bin_width).cast("int").alias("lo_tokens"),
            (F.col("bin") * bin_width + bin_width - 1).cast("int").alias("hi_tokens"),
            "n_docs",
            "total_tokens",
        )
    )


def token_length_histogram_oracle(bin_width: int = TOKEN_HIST_BIN) -> str:
    return rf"""
WITH t AS (
  SELECT CAST(floor(len(string_split_regex(text, '\s+')) / {bin_width}) AS INT) AS bin,
         len(string_split_regex(text, '\s+')) AS n_tokens
  FROM documents
)
SELECT bin,
       CAST(bin * {bin_width} AS INT) AS lo_tokens,
       CAST(bin * {bin_width} + {bin_width} - 1 AS INT) AS hi_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM t GROUP BY bin
"""


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: known-item search MRR
# ---------------------------------------------------------------------------

KI_PROBES = 10
KI_QWORDS = 3

def known_item_search_eval(
    spark: SparkSession, sf_dir: str, n_probes: int = KI_PROBES, q_words: int = KI_QWORDS
) -> DataFrame:
    """Known-item retrieval evaluation: for each probe document, issue
    its own first `q_words` distinct words as a BM25 query over the
    whole corpus and report the rank at which the probe document itself
    comes back — the self-retrieval MRR smoke test every search index
    runs after a build (a known-item rank far from 1 means tokenizer,
    statistics, or scoring drifted), here doubling as the evaluation
    harness shape for multi-query batch retrieval.

    Plan shape (multi-query BM25, same scale contract as
    `bm25_search`): the K×Q probe-term table broadcasts; the single
    posting explode is pruned to terms ANY probe uses before the one
    real shuffle; per-term document frequencies are computed once and
    broadcast; scoring aggregates (probe, doc) partials with integer
    micro-unit sums; the per-probe ranking window partitions on
    probe_id over only that probe's candidate set (docs sharing a
    term), never the corpus. Emits (probe_id, n_candidates, rank,
    reciprocal_rank)."""
    d = tables.load_table(spark, sf_dir, "documents")
    dl_expr = F.size(F.split(F.lower("text"), r"\s+"))
    probe_terms = F.broadcast(
        d.filter(F.col("doc_id") < n_probes)
        .select(
            F.col("doc_id").alias("probe_id"),
            F.explode(
                F.array_distinct(F.slice(F.split(F.lower("text"), r"\s+"), 1, q_words))
            ).alias("term"),
        )
        .distinct()
    )
    tokens = parallelism.spread_scan(spark, sf_dir, d, "documents", "doc_id").select(
        "doc_id", dl_expr.alias("dl"), F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    )
    # persisted: dfreq and the scoring join both reference the posting
    # aggregation, and Catalyst instantiates the subtree once per
    # reference — without the cache the corpus tokenize + explode runs
    # twice (measured 3.5 -> ~2 s at sf0.1)
    tf = persist_if(
        tokens.join(probe_terms.select("term").distinct(), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")),
        (n_probes, q_words) == (KI_PROBES, KI_QWORDS),
    )
    stats = d.agg(F.count(F.lit(1)).alias("n_docs"), F.avg(dl_expr).alias("avgdl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    norm = F.col("tf") * (BM25_K1 + 1.0) / (
        F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .join(probe_terms, "term")
        .groupBy("probe_id", "doc_id")
        .agg(F.sum(F.round((idf * norm) * 1e6, 0).cast("bigint")).alias("score_u"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score_u").desc(), F.col("doc_id"))
    # n_candidates as a window count over the SAME partitioning as the
    # rank — one instantiation of the scoring subtree, one shuffle, no
    # self-join (a groupBy branch would re-run the whole tf/probe join)
    w_all = Window.partitionBy("probe_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).withColumn(
        "n_candidates", F.count(F.lit(1)).over(w_all)
    )
    return ranked.filter(F.col("doc_id") == F.col("probe_id")).select(
        "probe_id",
        "n_candidates",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.lit(1.0) / F.col("rank"), 6).alias("reciprocal_rank"),
    )

def known_item_search_eval_oracle(
    n_probes: int = KI_PROBES, q_words: int = KI_QWORDS
) -> str:
    w = r"string_split_regex(lower(text), '\s+')"
    return f"""
WITH probe_terms AS (
  SELECT DISTINCT doc_id AS probe_id,
         unnest(list_distinct({w}[1:{q_words}])) AS term
  FROM documents WHERE doc_id < {n_probes}
),
tokens AS (
  SELECT doc_id, len({w}) AS dl, unnest({w}) AS term FROM documents
),
tf AS (
  SELECT t.doc_id, t.term, count(*) AS tf, min(t.dl) AS dl
  FROM tokens t JOIN (SELECT DISTINCT term FROM probe_terms) q USING (term)
  GROUP BY 1, 2
),
stats AS (
  SELECT count(*) AS n_docs, avg(len({w})) AS avgdl FROM documents
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT p.probe_id, tf.doc_id,
         sum(CAST(round((ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl)))
             * 1e6, 0) AS BIGINT)) AS score_u
  FROM tf
  JOIN dfreq d USING (term)
  CROSS JOIN stats s
  JOIN probe_terms p USING (term)
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY score_u DESC, doc_id) AS rank
  FROM scored
),
n_cand AS (SELECT probe_id, count(*) AS n_candidates FROM scored GROUP BY 1)
SELECT r.probe_id, CAST(n.n_candidates AS BIGINT) AS n_candidates,
       CAST(r.rank AS INT) AS rank,
       round(1.0 / r.rank, 6) AS reciprocal_rank
FROM ranked r JOIN n_cand n USING (probe_id)
WHERE r.doc_id = r.probe_id
"""
