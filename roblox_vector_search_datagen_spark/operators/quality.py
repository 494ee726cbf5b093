"""Corpus-quality operators for the LLM-training-data pipeline: PII
scrubbing, corpus-LM scoring (self-perplexity), and a composed
Gopher-style quality filter.

The reference has no data-quality surface at all (its corpus is a few
thousand curated games — SURVEY.md §2.7 stops at scoring functions);
these operators are pure 100 TB pipeline capability. All three are
single-scan Catalyst pipelines:

* `pii_scrub` is a per-row projection (regexp_count/regexp_replace) —
  fused into the scan, embarrassingly parallel, zero shuffles.
* `unigram_logprob` is the two-pass self-LM shape: one word-count
  aggregation builds the unigram table, one join streams tokens past
  it. The token->vocab join explodes nothing (each token matches
  exactly one vocab row) and is hash-partitioned on the word; stopword
  skew is exactly the skew AQE's skew-join splitting handles, and at
  100 TB the vocab (Zipf: ~10^7 rows) alternatively broadcasts with an
  OOV floor.
* `quality_filter` is per-row higher-order array math over the token
  list — scan-fused, no shuffle; the rule thresholds come from the
  distribution profiles (`text_quality`, `event_value_quantiles`)
  computed by the ops alongside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.caching import persist_if
from ..functions.num import qmean6, qsum6, qsum6_sql
from ..functions import parallelism
from ..sources import tables

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Java-regex and RE2 (DuckDB) compatible by construction: no lookarounds,
# no backrefs, \b and character classes only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

def _pii_decorated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture text is synthetic word soup with no PII, so the
    operator's input is the corpus deterministically decorated with
    derived PII tokens (emails / phone numbers / IPv4 hosts by
    doc_id % 4) — the same construction the DuckDB oracle performs, so
    the scrub is exercised on rows that actually contain matches."""
    d = parallelism.spread_scan(
        spark, sf_dir, tables.load_table(spark, sf_dir, "documents"), "documents"
    )
    m4 = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    suffix = (
        F.when(m4 == 0, F.concat(F.lit(" contact user"), did, F.lit("@mail.example.com")))
        .when(
            m4 == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            m4 == 2,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                ((F.col("doc_id") * 3) % 256).cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return d.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))

_PII_DECORATED_SQL = """
SELECT doc_id,
       text || CASE
         WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         WHEN doc_id % 4 = 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                                  || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
         WHEN doc_id % 4 = 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                                  || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR)
         ELSE ''
       END AS text
FROM documents
"""

def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact emails, IPv4 addresses and phone numbers in one
    per-row projection. Replacement order (email, ip, phone) is part of
    the operator contract and mirrored in the oracle. Emits
    (doc_id, n_emails, n_ips, n_phones, clean_text)."""
    d = _pii_decorated(spark, sf_dir)
    t = F.col("text")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("int").alias("n_ips"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        clean.alias("clean_text"),
    )

def pii_scrub_oracle() -> str:
    return f"""
WITH d AS ({_PII_DECORATED_SQL})
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IPV4_RE}', '<IP>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g') AS clean_text
FROM d
"""

# ---------------------------------------------------------------------------
# Corpus-LM scoring (self-perplexity)
# ---------------------------------------------------------------------------

def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability of every document under the
    corpus's own unigram LM — the model-free stand-in for the
    perplexity-bucket quality signal (CCNet-style): word-soup outliers
    score low, typical documents score high. Emits
    (doc_id, n_tokens, avg_logprob)."""
    d = tables.load_table(spark, sf_dir, "documents")
    # persisted: the token stream feeds both the vocab aggregation and
    # the scoring join; the cache saves the second tokenize+explode
    # corpus pass (A/B: 1.07 -> 0.67 s at sf0.1)
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")).alias("word"),
    ).persist()
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(vocab, "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # quantized mean: order-independent across partitions and
            # immune to per-row libm ulp wobble (see functions.num)
            qmean6(F.log(F.col("cnt") / F.col("total"))).alias("avg_logprob"),
        )
    )

def unigram_logprob_oracle() -> str:
    return r"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
  FROM documents
),
v AS (SELECT word, count(*) AS cnt FROM t GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM v)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(round(sum(CAST(round((ln(v.cnt / (SELECT total FROM tot))) * 1e6) AS BIGINT))
             / count(ln(v.cnt / (SELECT total FROM tot)))) AS BIGINT) / 1e6 AS avg_logprob
FROM t JOIN v USING (word)
GROUP BY t.doc_id
"""

def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every source pair — the data-mixing diagnostic a
    pretraining pipeline reads beside `mixture_report`: near-zero JSD
    flags sources that are statistical duplicates (merge or
    down-weight them — cross-source crawl overlap is invisible to
    per-document dedup when the TEXTS differ but the DISTRIBUTION is
    one corpus), large JSD flags the genuinely novel mixture
    components worth upsampling. JSD is used over KL because it is
    symmetric, finite on disjoint support, and bounded (<= ln 2 in
    nats).

    Relational shape — the identity that keeps this ONE equi-join
    instead of a per-pair full-outer join: with g(x) = (x/2)ln(x/2),
    H(M) over the pair's word union splits into a shared-words term
    and two per-source constants,
      H(M) = -( SUM_both[m ln m - g(pa) - g(pb)] + G_s1 + G_s2 ),
      JSD  = H(M) - (H_s1 + H_s2)/2,
    so the plan is: one tokenize pass -> per-(source, word) counts ->
    per-source totals (broadcast, |S| rows) -> the persisted unigram
    table feeds (a) per-source scalars H and G (one aggregation) and
    (b) a self-equi-join on `word` restricted to s1 < s2 whose fanout
    per word is bounded by S^2/2 (S = mixture source count — dozens in
    practice, so the pair table is driver-sized at any corpus scale).
    Pairs sharing zero words still appear (left join from the pair
    cross of the |S|-row scalar table, shared term coalesced to 0).
    Every floating sum is micro-unit-quantized (functions/num.py) so
    the aggregation is order-independent and the oracle hash-stable;
    the final JSD arithmetic runs on those identical rounded operands
    in both engines. Emits (s1, s2, n_words_s1, n_words_s2, jsd) in
    nats, one row per unordered pair."""
    d = tables.load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("word"),
    )
    cnt = toks.groupBy("source", "word").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnt.groupBy("source").agg(F.sum("cnt").alias("total"))
    uni = persist_if(
        cnt.join(F.broadcast(tot), "source").select(
            "source", "word", (F.col("cnt") / F.col("total")).alias("p")
        ),
        True,
    )
    half = F.col("p") / 2
    per_src = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        qsum6(-F.col("p") * F.log(F.col("p"))).alias("h"),
        qsum6(half * F.log(half)).alias("g"),
    )
    a, b = uni.alias("a"), uni.alias("b")
    m = (F.col("a.p") + F.col("b.p")) / 2
    term = (
        m * F.log(m)
        - (F.col("a.p") / 2) * F.log(F.col("a.p") / 2)
        - (F.col("b.p") / 2) * F.log(F.col("b.p") / 2)
    )
    shared = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(qsum6(term).alias("t"))
    )
    p1 = per_src.select(
        F.col("source").alias("s1"),
        F.col("n_words").alias("n_words_s1"),
        F.col("h").alias("h1"),
        F.col("g").alias("g1"),
    )
    p2 = per_src.select(
        F.col("source").alias("s2"),
        F.col("n_words").alias("n_words_s2"),
        F.col("h").alias("h2"),
        F.col("g").alias("g2"),
    )
    # explicit broadcast: the pair cross of two |S|-row scalar tables
    # must plan as BroadcastNestedLoopJoin, never the CartesianProduct
    # fallback (stats-independent — the blanket plan test forbids it)
    pairs = p1.crossJoin(F.broadcast(p2)).filter(F.col("s1") < F.col("s2"))
    return (
        pairs.join(F.broadcast(shared), ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            "n_words_s1",
            "n_words_s2",
            # no final round: each component is already micro-unit
            # quantized (identical doubles in both engines), and the
            # composed value lands on the 5e-7 grid — exactly where a
            # round(x, 6) hits the midpoint tie the two engines break
            # differently. The identical IEEE expression over identical
            # operands is bit-reproducible without it.
            (
                -(F.coalesce(F.col("t"), F.lit(0.0)) + F.col("g1") + F.col("g2"))
                - (F.col("h1") + F.col("h2")) / 2
            ).alias("jsd"),
        )
    )


def source_divergence_oracle() -> str:
    term = (
        "((a.p + b.p) / 2) * ln((a.p + b.p) / 2)"
        " - (a.p / 2) * ln(a.p / 2) - (b.p / 2) * ln(b.p / 2)"
    )
    return rf"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
  FROM documents
),
cnt AS (SELECT source, word, count(*) AS cnt FROM toks GROUP BY 1, 2),
tot AS (SELECT source, sum(cnt) AS total FROM cnt GROUP BY 1),
uni AS (
  SELECT c.source, c.word, c.cnt / t.total AS p
  FROM cnt c JOIN tot t USING (source)
),
per_src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_words,
         {qsum6_sql("-(p) * ln(p)")} AS h,
         {qsum6_sql("(p / 2) * ln(p / 2)")} AS g
  FROM uni GROUP BY source
),
shared AS (
  SELECT a.source AS s1, b.source AS s2,
         {qsum6_sql(term)} AS t
  FROM uni a JOIN uni b ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p1.source AS s1, p2.source AS s2,
       p1.n_words AS n_words_s1, p2.n_words AS n_words_s2,
       -(COALESCE(sh.t, 0.0) + p1.g + p2.g) - (p1.h + p2.h) / 2 AS jsd
FROM per_src p1
JOIN per_src p2 ON p1.source < p2.source
LEFT JOIN shared sh ON sh.s1 = p1.source AND sh.s2 = p2.source
"""


# ---------------------------------------------------------------------------
# Composed quality filter (Gopher-style rules)
# ---------------------------------------------------------------------------

QF_MIN_WORDS = 50
QF_MAX_WORDS = 100_000
QF_MIN_MEAN_WLEN = 3.0
QF_MAX_MEAN_WLEN = 10.0
QF_MIN_ALPHA_RATIO = 0.8
QF_MIN_STOP_HITS = 2
QF_STOPWORDS = ("the", "and", "of", "to", "a", "in")

def quality_struct_expr():
    """The full rule-flag struct over the `text` column — exposed as a
    bare expression so fused pipelines fold it into one corpus scan."""
    stop = F.array(*[F.lit(s) for s in QF_STOPWORDS])

    def from_words(w):
        n = F.size(w)
        nd = n.cast("double")
        # guard the n == 0 case explicitly: Spark's 0.0/0.0 is NaN while
        # SQL division by zero is NULL — NULL on both sides keeps the
        # flags' three-valued logic identical to the oracle for empty /
        # whitespace-only documents
        mean_wlen = F.when(
            n > 0,
            F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / nd,
        )
        alpha = F.when(n > 0, F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double") / nd)
        stop_hits = F.size(F.filter(w, lambda x: F.array_contains(stop, x)))
        r_nwords = (n >= QF_MIN_WORDS) & (n <= QF_MAX_WORDS)
        r_wlen = (mean_wlen >= QF_MIN_MEAN_WLEN) & (mean_wlen <= QF_MAX_MEAN_WLEN)
        r_alpha = alpha >= QF_MIN_ALPHA_RATIO
        r_stop = stop_hits >= QF_MIN_STOP_HITS
        return F.struct(
            n.alias("n_words"),
            F.round(mean_wlen, 6).alias("mean_word_len"),
            F.round(alpha, 6).alias("alpha_ratio"),
            stop_hits.alias("stop_hits"),
            r_nwords.alias("r_nwords"),
            r_wlen.alias("r_wlen"),
            r_alpha.alias("r_alpha"),
            r_stop.alias("r_stop"),
            (r_nwords & r_wlen & r_alpha & r_stop).alias("keep"),
        )

    return H.let_expr(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""), from_words
    )

def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composed document filter: word-count bounds, mean
    word length, alphabetic-word ratio, and stopword presence, each as
    an explicit rule flag plus the conjunction. The flags (not just the
    verdict) are emitted because a pipeline tunes thresholds from the
    per-rule rejection rates. Emits (doc_id, n_words, mean_word_len,
    alpha_ratio, stop_hits, r_nwords, r_wlen, r_alpha, r_stop, keep)."""
    d = tables.load_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_struct_expr().alias("s")).select("doc_id", "s.*")

def quality_filter_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in QF_STOPWORDS)
    return rf"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS words
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(words) AS INT) AS n_words,
         CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words) AS mean_word_len,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(words) AS alpha_ratio,
         CAST(len(list_filter(words, x -> list_contains([{stop_list}], x))) AS INT) AS stop_hits
  FROM w
)
SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
       round(alpha_ratio, 6) AS alpha_ratio, stop_hits,
       (n_words >= {QF_MIN_WORDS} AND n_words <= {QF_MAX_WORDS}) AS r_nwords,
       (mean_word_len >= {QF_MIN_MEAN_WLEN} AND mean_word_len <= {QF_MAX_MEAN_WLEN}) AS r_wlen,
       (alpha_ratio >= {QF_MIN_ALPHA_RATIO}) AS r_alpha,
       (stop_hits >= {QF_MIN_STOP_HITS}) AS r_stop,
       (n_words >= {QF_MIN_WORDS} AND n_words <= {QF_MAX_WORDS}
        AND mean_word_len >= {QF_MIN_MEAN_WLEN} AND mean_word_len <= {QF_MAX_MEAN_WLEN}
        AND alpha_ratio >= {QF_MIN_ALPHA_RATIO} AND stop_hits >= {QF_MIN_STOP_HITS}) AS keep
FROM m
"""

# ---------------------------------------------------------------------------
# Perplexity-style decile buckets (CCNet head/middle/tail)
# ---------------------------------------------------------------------------

def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning: decile-bucket every document by
    its corpus-LM score and label head/middle/tail — the mixture knob a
    pretraining build turns (keep head, downsample tail). ntile runs
    over the single already-aggregated (doc_id, avg_logprob) table, so
    the global ordering the deciles need touches |docs| narrow rows,
    never the token stream; at 100 TB you would swap ntile for
    approx-quantile cutpoints (mergeable, no global sort) — the exact
    form here is the oracle-checkable twin. Emits
    (doc_id, avg_logprob, decile, tier)."""
    from pyspark.sql import Window

    scored = unigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    w = Window.orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
    decile = F.ntile(10).over(w)
    return scored.select(
        "doc_id",
        "avg_logprob",
        decile.cast("int").alias("decile"),
    ).withColumn(
        "tier",
        F.when(F.col("decile") <= 3, "head")
        .when(F.col("decile") <= 7, "middle")
        .otherwise("tail"),
    )

def quality_buckets_oracle() -> str:
    return f"""
WITH scored AS (SELECT doc_id, avg_logprob FROM ({unigram_logprob_oracle()}) t),
d AS (
  SELECT doc_id, avg_logprob,
         CAST(ntile(10) OVER (ORDER BY avg_logprob DESC, doc_id ASC) AS INT) AS decile
  FROM scored
)
SELECT doc_id, avg_logprob, decile,
       CASE WHEN decile <= 3 THEN 'head'
            WHEN decile <= 7 THEN 'middle'
            ELSE 'tail' END AS tier
FROM d
"""

def quality_buckets_approx(spark: SparkSession, sf_dir: str, err: float = 0.001) -> DataFrame:
    """The 100 TB twin of `quality_buckets`: decile CUTPOINTS from
    approx_percentile (mergeable t-digest partials — constant memory
    per partition, one tiny shuffle) instead of a global ntile sort.
    Bucket assignment is then a per-row comparison against the
    broadcast cutpoints — no global ordering anywhere. Tested against
    the exact twin for assignment agreement (boundary docs may land one
    decile off; that is the approximation contract)."""
    from pyspark.sql import Window  # noqa: F401  (parity with exact twin's imports)

    scored = unigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    cuts = scored.agg(
        F.approx_percentile(
            "avg_logprob", F.array(*[F.lit(i / 10.0) for i in range(1, 10)]), F.lit(int(1 / err))
        ).alias("cuts")
    )
    joined = scored.crossJoin(F.broadcast(cuts))
    # decile = 1 + number of cutpoints strictly below the score, counted
    # from the top (descending deciles match ntile's ORDER BY DESC)
    above = F.size(F.filter(F.col("cuts"), lambda c: F.col("avg_logprob") < c))
    decile = (above + 1).cast("int")
    return joined.select(
        "doc_id",
        "avg_logprob",
        decile.alias("decile"),
        F.when(decile <= 3, "head").when(decile <= 7, "middle").otherwise("tail").alias("tier"),
    )

# ---------------------------------------------------------------------------
# DSIR importance weights (hashed n-gram importance resampling)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024

def dsir_weights(
    spark: SparkSession, sf_dir: str, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    per-document log importance weight
    log w(x) = Σ_tokens [log p_target(b) - log p_raw(b)] over hashed
    unigram features (bucket b = h32(word) mod `buckets`), with
    add-one smoothing on both bucket distributions. Target here is the
    English slice of the corpus (lang = 'en'), raw is everything —
    resampling by these weights tilts a random crawl toward the target
    distribution, the standard pretraining-mixture selection move.

    Scale shape: ONE tokenize pass builds both bucket histograms (raw
    and target are conditional counts in the same groupBy — one shuffle
    on a `buckets`-ary key, map-side combined); the fixed-size histogram
    (buckets rows, corpus-size-independent) broadcasts with its totals
    into a second token scan, and the per-doc sum shuffles only
    (doc_id, quantized summand). Per-token log-ratios accumulate as
    micro-unit BIGINTs (functions.num) so the doc weight is
    order-independent and engine-exact. Emits
    (doc_id, n_tokens, log_weight)."""
    d = tables.load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")).alias("word"),
    ).withColumn("b", F.pmod(F.expr(H.h32_expr_sql("word")), F.lit(buckets)))
    # the histogram feeds both the totals aggregate and the scoring
    # join; persisting the `buckets`-row table stops Spark re-deriving
    # it from a third corpus scan
    hist = persist_if(
        toks.groupBy("b").agg(
            F.count(F.lit(1)).alias("raw_cnt"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("tgt_cnt"),
        ),
        buckets == DSIR_BUCKETS,
    )
    totals = hist.agg(
        F.sum("raw_cnt").alias("raw_total"), F.sum("tgt_cnt").alias("tgt_total")
    )
    ratio = F.log(
        (F.col("tgt_cnt") + 1).cast("double") / (F.col("tgt_total") + buckets)
    ) - F.log((F.col("raw_cnt") + 1).cast("double") / (F.col("raw_total") + buckets))
    return (
        toks.join(F.broadcast(hist), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.round(ratio * 1e6, 0).cast("bigint")) / 1e6, 6
            ).alias("log_weight"),
        )
    )

def dsir_weights_oracle(buckets: int = DSIR_BUCKETS) -> str:
    h = H.h32_sql("word")
    return rf"""
WITH t AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
  FROM documents
),
tb AS (SELECT doc_id, lang, ({h}) % {buckets} AS b FROM t),
hist AS (
  SELECT b, count(*) AS raw_cnt,
         count(CASE WHEN lang = 'en' THEN 1 END) AS tgt_cnt
  FROM tb GROUP BY 1
),
tot AS (SELECT sum(raw_cnt) AS raw_total, sum(tgt_cnt) AS tgt_total FROM hist)
SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(CAST(round((ln(CAST(h.tgt_cnt + 1 AS DOUBLE) / (tot.tgt_total + {buckets}))
                 - ln(CAST(h.raw_cnt + 1 AS DOUBLE) / (tot.raw_total + {buckets}))) * 1e6) AS BIGINT))
             / 1e6, 6) AS log_weight
FROM tb JOIN hist h USING (b) CROSS JOIN tot
GROUP BY tb.doc_id
"""

# ---------------------------------------------------------------------------
# Bigram LM scoring (the n-gram step up from unigram_logprob)
# ---------------------------------------------------------------------------

BIGRAM_ADD_K = 0.5

def bigram_lm_score(
    spark: SparkSession, sf_dir: str, add_k: float = BIGRAM_ADD_K
) -> DataFrame:
    """Mean bigram log-probability of every document under the corpus's
    own add-k-smoothed bigram LM — the CCNet/KenLM-style perplexity
    quality signal one order up from `unigram_logprob`: repetitive or
    word-salad documents diverge from fluent ones much harder under a
    conditional model (p(w2|w1)) than under raw unigram frequency.

    Plan shape (the n-gram LM scaling shape): ONE scan builds the
    per-doc token array; bigrams come from an in-row `transform` over
    the array (no positional window, no self-join on token position —
    the classic mistake that shuffles the whole token stream twice);
    the bigram and unigram count tables are hash aggregations with
    map-side combine; scoring streams the bigram stream past both
    count tables (each token matches exactly one row — no row blowup)
    and the vocab size V is a broadcast scalar. p(w2|w1) =
    (c(w1,w2)+k) / (c(w1)+k*V); integer-quantized mean so partition
    order can't wobble the hash. Emits (doc_id, n_bigrams,
    avg_logprob)."""
    d = tables.load_table(spark, sf_dir, "documents")

    def bigrams_of(w):
        return F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.struct(
                    F.element_at(w, i).alias("w1"), F.element_at(w, i + 1).alias("w2")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    toks = d.select(
        "doc_id",
        H.let_expr(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""), bigrams_of
        ).alias("bi"),
    )
    # persisted: the bigram stream is referenced FOUR times (c2, c1,
    # the vocab scalar, and the scoring join) and Catalyst instantiates
    # the tokenize+explode subtree once per reference
    bi = toks.select("doc_id", F.explode("bi").alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    ).persist()
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = bi.select(F.col("w1").alias("w")).union(
        bi.select(F.col("w2").alias("w"))
    ).agg(F.countDistinct("w").alias("v"))
    logp = F.log(
        (F.col("c2") + add_k) / (F.col("c1") + add_k * F.col("v"))
    )
    # persisted: mixture_reweight folds these per-doc scores by source;
    # one LM materialization serves both registry queries (the shared-
    # subtree pattern the recall family uses in operators/ann.py)
    return persist_if(
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab_n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            qmean6(logp).alias("avg_logprob"),
        ),
        add_k == BIGRAM_ADD_K,
    )

def bigram_lm_score_oracle(add_k: float = BIGRAM_ADD_K) -> str:
    return rf"""
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(w[1:len(w)-1]) AS w1,
         unnest(w[2:len(w)]) AS w2
  FROM docs WHERE len(w) >= 2
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
v AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT w1 AS w FROM bi UNION ALL SELECT w2 AS w FROM bi)
),
scored AS (
  SELECT bi.doc_id,
         ln((c2.c2 + {add_k}) / (c1.c1 + {add_k} * v.v)) AS logp
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(round(sum(CAST(round((logp) * 1e6) AS BIGINT)) / count(logp)) AS BIGINT) / 1e6 AS avg_logprob
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# DoReMi-style mixture reweighting (one multiplicative-weights step)
# ---------------------------------------------------------------------------

REWEIGHT_ETA = 1.0


def mixture_reweight(
    spark: SparkSession, sf_dir: str, eta: float = REWEIGHT_ETA
) -> DataFrame:
    """One multiplicative-weights mixture update from the corpus's own
    quality signal (the DoReMi shape with the bigram self-LM standing
    in for the proxy-model loss): per source, the token-weighted mean
    negative log-probability is the domain loss; domains whose loss
    EXCEEDS the corpus baseline get upweighted by exp(eta * excess)
    and the result renormalizes to a distribution — train more where
    the model is worst. Emits (source, n_docs, n_bigrams, loss,
    excess, weight), weights summing to 1.

    Scale shape: rides `bigram_lm_score` (its one-scan LM plan) plus a
    doc_id join back to the 2-column (doc_id, source) projection; the
    per-source fold and the 1-row baseline are metadata-sized, and the
    exp/normalize arithmetic happens over |sources| integers. All
    means are integer micro-unit ratios (functions/num.py discipline),
    so the hash is partition-order-proof."""
    scores = bigram_lm_score(spark, sf_dir)
    src = tables.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = scores.join(src, "doc_id").select(
        "source",
        "n_bigrams",
        (F.round(F.col("avg_logprob") * 1e6, 0).cast("bigint") * F.col("n_bigrams")).alias(
            "wsum_u"
        ),
    )
    per_src = joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.sum("wsum_u").alias("sum_u"),
    )
    # token-weighted mean loss in integer micro-units (loss = -logprob)
    loss_u = -F.round(F.col("sum_u") / F.col("n_bigrams"), 0).cast("bigint")
    base = per_src.agg(
        (-F.round(F.sum("sum_u") / F.sum("n_bigrams"), 0).cast("bigint")).alias(
            "base_u"
        )
    )
    staged = per_src.crossJoin(F.broadcast(base)).select(
        "source",
        "n_docs",
        "n_bigrams",
        loss_u.alias("loss_u"),
        F.greatest(F.lit(0).cast("bigint"), loss_u - F.col("base_u")).alias(
            "excess_u"
        ),
    )
    # exp term quantized to integer micros; the normalizer is then an
    # exact integer sum (order-proof), and each weight a ratio of ints
    term_u = F.round(F.exp(F.col("excess_u") / 1e6 * eta) * 1e6, 0).cast("bigint")
    staged = staged.withColumn("term_u", term_u)
    total = staged.agg(F.sum("term_u").alias("total_u"))
    return staged.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_bigrams",
        (F.col("loss_u") / 1e6).alias("loss"),
        (F.col("excess_u") / 1e6).alias("excess"),
        F.round(F.col("term_u") / F.col("total_u"), 6).alias("weight"),
    )


def mixture_reweight_oracle(eta: float = REWEIGHT_ETA) -> str:
    return f"""
WITH scores AS ({bigram_lm_score_oracle()}),
joined AS (
  SELECT d.source, s.n_bigrams,
         CAST(round(s.avg_logprob * 1e6) AS BIGINT) * s.n_bigrams AS wsum_u
  FROM scores s JOIN documents d USING (doc_id)
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
         sum(wsum_u) AS sum_u
  FROM joined GROUP BY source
),
base AS (
  SELECT -CAST(round(CAST(sum(sum_u) AS DOUBLE) / sum(n_bigrams)) AS BIGINT) AS base_u
  FROM per_src
),
staged AS (
  SELECT source, n_docs, n_bigrams,
         -CAST(round(CAST(sum_u AS DOUBLE) / n_bigrams) AS BIGINT) AS loss_u,
         greatest(CAST(0 AS BIGINT),
                  -CAST(round(CAST(sum_u AS DOUBLE) / n_bigrams) AS BIGINT) - base_u) AS excess_u
  FROM per_src CROSS JOIN base
),
terms AS (
  SELECT *, CAST(round(exp(excess_u / 1e6 * {eta}) * 1e6) AS BIGINT) AS term_u FROM staged
),
total AS (SELECT sum(term_u) AS total_u FROM terms)
SELECT source, n_docs, n_bigrams,
       loss_u / 1e6 AS loss,
       excess_u / 1e6 AS excess,
       round(CAST(term_u AS DOUBLE) / total_u, 6) AS weight
FROM terms CROSS JOIN total
"""
