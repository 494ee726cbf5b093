"""Streaming corpus ingestion with dedup-at-ingest: the arriving
document stream is anti-joined against the known corpus's content
digests, so only never-seen content reaches the sink — the streaming
front door of the dedup family in operators/dedup.py.

Fixture roles are deterministic: even doc_ids play the already-ingested
corpus, odd doc_ids play the arriving stream. The digest set is a
static DataFrame (broadcast per microbatch, so a growing corpus is
picked up between batches without restarting the query); a stream-
static LEFT ANTI join keeps no stream state, which is what makes this
shape safe on an unbounded stream. The batch twin is DuckDB-oracle
checked and the stream==batch test drains Trigger.AvailableNow over
the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..sources import tables

def _digest() -> F.Column:
    return H.digest_expr(F.col("text"))

def ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: arriving (odd doc_id) documents whose normalized
    content digest does not appear in the known (even doc_id) corpus.
    Emits (doc_id, digest). One scan feeds both sides; the known-digest
    side aggregates to distinct digests before the anti-join so the
    join's build side is content-unique."""
    d = tables.load_table(spark, sf_dir, "documents")
    arriving = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", _digest().alias("digest"))
    known = d.filter(F.col("doc_id") % 2 == 0).select(_digest().alias("digest")).distinct()
    return arriving.join(F.broadcast(known), "digest", "left_anti").select("doc_id", "digest")

def ingest_dedup_oracle() -> str:
    d = H.digest_sql("text")
    return f"""
SELECT doc_id, {d} AS digest
FROM documents
WHERE doc_id % 2 = 1
  AND {d} NOT IN (
    SELECT {d} FROM documents WHERE doc_id % 2 = 0
  )
"""

def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin: file-source stream of arriving documents,
    stream-static LEFT ANTI join against the known-corpus digest set.
    No watermark needed — anti join against a static side keeps no
    stream state."""
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    arriving = stream.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", _digest().alias("digest")
    )
    d = tables.load_table(spark, sf_dir, "documents")
    known = d.filter(F.col("doc_id") % 2 == 0).select(_digest().alias("digest")).distinct()
    return arriving.join(F.broadcast(known), "digest", "left_anti").select("doc_id", "digest")


def _rowwise_band_sigs() -> F.Column:
    """All LSH band signatures of `text` as an array<string>, computed
    per-row with array expressions — minhash WITHOUT the explode +
    groupBy aggregation (array_min over a transform of the shingle
    array). Stateless, so it runs unchanged on an unbounded stream;
    batch-side it also skips the signature shuffle entirely. Empty
    shingle arrays (docs shorter than the shingle width) coalesce each
    component to -1 so the signature is well-defined in both engines.

    The shingle array is hashed ONCE (one md5 pass) and let-bound
    before the K per-component transforms — codegen does no CSE across
    lambda boundaries, so inlining h32 into each component would md5
    the whole array K times (measured ~4x on the ingest ledger)."""

    # assembled as ONE SQL string (single parse; the K×bands lambda
    # Columns cost ~1 s of py4j per plan build — r12 profile). Same
    # let-binding shape: the hashed shingle array is bound once via the
    # 1-element transform, each component is a coalesced array_min.
    comps = [
        f"coalesce(array_min(transform(hv, h -> ({H.MINHASH_A[i]} * h + {H.MINHASH_B[i]}) % {H.P})), -1)"
        for i in range(H.MINHASH_K)
    ]
    bands = []
    for b in range(H.LSH_BANDS):
        cols = comps[b * H.ROWS_PER_BAND : (b + 1) * H.ROWS_PER_BAND]
        cast_cols = ", ".join(f"CAST({c} AS STRING)" for c in cols)
        bands.append(f"concat_ws(',', '{b}', {cast_cols})")
    hashed = (
        f"transform({H.word_shingles_expr_sql('text')}, x -> {H.h32_expr_sql('x')} % {H.P})"
    )
    return F.expr(
        f"element_at(transform(array({hashed}), hv -> array({', '.join(bands)})), 1)"
    )


def _band_sigs_sql() -> str:
    # operates on `hv` (pre-hashed shingle list, see the *_sql callers)
    comps = [
        f"coalesce(list_min(list_transform(hv, h -> (({H.MINHASH_A[i]} * h + {H.MINHASH_B[i]}) % {H.P}))), -1)"
        for i in range(H.MINHASH_K)
    ]
    bands = []
    for b in range(H.LSH_BANDS):
        cols = comps[b * H.ROWS_PER_BAND : (b + 1) * H.ROWS_PER_BAND]
        sig = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        bands.append(f"('{b}' || ',' || {sig})")
    return "[" + ", ".join(bands) + "]"


def ingest_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of NEAR-dup rejection at ingest: an arriving (odd
    doc_id) document is dropped when ANY of its LSH band signatures
    collides with the known (even doc_id) corpus — the streaming front
    door of the MinHash funnel, where `ingest_dedup` only stops exact
    content. Survivors are docs with zero band collisions; at 100 TB
    the known band-signature set is the persisted index the ingest job
    maintains (LSH_BANDS short strings per corpus doc), and the probe
    is a semi-join on that narrow key — the arriving side never
    shuffles. Emits (doc_id,) survivors."""
    d = tables.load_table(spark, sf_dir, "documents")
    # persisted: the known and arriving branches both reference this
    # signature stream and Catalyst instantiates the shingle+minhash
    # subtree once per branch
    sigs = d.select(
        "doc_id", F.explode(_rowwise_band_sigs()).alias("band_sig")
    ).persist()
    known = sigs.filter(F.col("doc_id") % 2 == 0).select("band_sig").distinct()
    arriving = sigs.filter(F.col("doc_id") % 2 == 1)
    collided = arriving.join(F.broadcast(known), "band_sig").select("doc_id").distinct()
    return (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
        .join(collided, "doc_id", "left_anti")
    )


def ingest_near_dedup_oracle() -> str:
    bands = _band_sigs_sql()
    sh = H.word_shingles_sql("text")
    h = H.h32_sql("x")
    return f"""
WITH withsh AS (
  SELECT doc_id, list_transform({sh}, x -> {h} % {H.P}) AS hv FROM documents
),
sigs AS (
  SELECT doc_id, unnest({bands}) AS band_sig FROM withsh
),
known AS (SELECT DISTINCT band_sig FROM sigs WHERE doc_id % 2 = 0),
collided AS (
  SELECT DISTINCT s.doc_id FROM sigs s JOIN known k USING (band_sig)
  WHERE s.doc_id % 2 = 1
)
SELECT doc_id FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM collided)
"""


def stream_ingest_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin: the arriving stream computes its band signatures
    per-row, then probes the static known-corpus signature set once PER
    BAND (LSH_BANDS stream-static left joins against the same broadcast
    set) and keeps docs where every probe missed. No aggregation and no
    watermark — an exploded anti-join would need a per-doc count to
    decide "ALL bands clean", which is stateful; the per-band join
    fan-out is a plan constant, so this stays append-mode-safe on an
    unbounded stream."""
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    d = tables.load_table(spark, sf_dir, "documents")
    known = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(_rowwise_band_sigs()).alias("band_sig"))
        .distinct()
    )
    out = stream.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", _rowwise_band_sigs().alias("bands")
    )
    for b in range(H.LSH_BANDS):
        kb = F.broadcast(
            known.select(F.col("band_sig").alias(f"ks{b}")).withColumn(
                f"hit{b}", F.lit(1)
            )
        )
        out = out.join(kb, F.element_at(F.col("bands"), b + 1) == F.col(f"ks{b}"), "left")
    clean = out
    for b in range(H.LSH_BANDS):
        clean = clean.filter(F.col(f"hit{b}").isNull())
    return clean.select("doc_id")


def stream_media_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `operators/multimodal.media_ingest_dedup` —
    the PERCEPTUAL image front door (r11): the arriving media stream
    is synthesized+decoded+average-hashed per microbatch (two chained
    STATELESS mapInPandas stages — `synthetic_dup_media(docs=stream)`
    then `media_phash(media_df=...)`, both legal on a streaming
    DataFrame), then stream-static LEFT-ANTI-joined against the known
    corpus's broadcast fingerprint set. A resized or re-encoded copy
    of a known picture never reaches the sink even though its BYTES
    are new. No watermark and no stream state — the same
    append-mode-safe shape as `stream_ingest_dedup`; the known set is
    a static DataFrame re-resolved per microbatch, so a growing
    corpus is picked up between batches without restarting the query.
    Within-stream duplicates are admitted and collapse downstream
    (`media_phash_dup_pairs`), mirroring the text front door's
    division of labor."""
    from ..operators import multimodal as mm

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    modulo = mm.CONTRACT_MODULO
    k = F.expr(f"doc_id div {modulo}")
    jdx = F.expr(f"(doc_id div {modulo}) div {mm.PHASH_DUP_GROUP}")
    arriving_media = mm.synthetic_dup_media(
        spark, sf_dir, modulo, docs=stream.select("doc_id")
    ).filter(k % 2 == 1)
    arrived = mm.media_phash(spark, sf_dir, modulo, media_df=arriving_media)
    known_media = mm.synthetic_dup_media(spark, sf_dir, modulo).filter(
        (k % 2 == 0) & (jdx % 2 == 0)
    )
    known = (
        mm.media_phash(spark, sf_dir, modulo, media_df=known_media)
        .select("phash")
        .distinct()
    )
    return arrived.join(F.broadcast(known), "phash", "left_anti").select(
        "doc_id", "codec", "phash"
    )


def stream_audio_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `operators/multimodal.audio_ingest_dedup` —
    the loudness-invariant AUDIO front door: arriving recordings are
    synthesized+decoded+sign-fingerprinted per microbatch (stateless
    mapInPandas + Catalyst hash — per-row, so no stream state), then
    stream-static LEFT-ANTI-joined against the known corpus's
    broadcast fingerprint set. The same waveform at a different gain
    never reaches the sink even though every PCM byte is new.
    Append-mode, no watermark; the known set is a static DataFrame
    re-resolved per microbatch."""
    from ..operators import multimodal as mm

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    modulo = mm.CONTRACT_MODULO
    k = F.expr(f"doc_id div {modulo}")
    arriving_media = mm.synthetic_audio_media(
        spark, sf_dir, modulo, docs=stream.select("doc_id")
    ).filter(k % 40 >= 20)
    arrived = mm.audio_sign_fingerprint(
        spark, sf_dir, modulo, media_df=arriving_media
    )
    known = (
        mm.audio_sign_fingerprint(spark, sf_dir, modulo)
        .filter((k % 40 < 20) & (k % 2 == 0))
        .select("fingerprint")
        .distinct()
    )
    return arrived.join(F.broadcast(known), "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


def stream_media_ingest_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `operators/multimodal.media_ingest_near_dedup`
    — the perceptual NEAR-dup image front door: the arriving stream
    synthesizes+decodes+average-hashes per microbatch (stateless), then
    probes the static known-corpus band set once PER BAND (4
    stream-static left joins against the same broadcast set) and keeps
    blobs where every probe missed — the `stream_ingest_near_dedup`
    shape (an exploded anti-join would need a per-doc count to decide
    'ALL bands clean', which is stateful; the per-band fan-out is a
    plan constant), append-mode-safe with no watermark."""
    from ..operators import multimodal as mm

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    modulo = mm.CONTRACT_MODULO
    t = F.expr(f"(doc_id div {modulo}) % {mm.PHASH_DUP_GROUP}")
    arriving_media = mm.synthetic_near_dup_media(
        spark, sf_dir, modulo, docs=stream.select("doc_id")
    ).filter(t != 0)
    arrived = mm.media_phash(spark, sf_dir, modulo, media_df=arriving_media).select(
        "doc_id", "phash"
    )
    known_media = mm.synthetic_near_dup_media(spark, sf_dir, modulo).filter(t == 0)
    # known (band, val) membership is PER BAND — a band-0 value must
    # not reject a band-2 match — so each probe joins its own distinct
    # val set; the decode pass is shared by the persisted hash table
    known_hashes = mm.media_phash(
        spark, sf_dir, modulo, media_df=known_media
    ).select("phash").persist()
    out = arrived
    for b in range(mm.PHASH_NEAR_BANDS):
        kb = F.broadcast(
            known_hashes.select(
                F.substring(
                    "phash", 1 + b * mm.PHASH_NEAR_BAND_BITS, mm.PHASH_NEAR_BAND_BITS
                ).alias(f"kv{b}")
            )
            .distinct()
            .withColumn(f"hit{b}", F.lit(1))
        )
        out = out.join(
            kb,
            F.substring(
                "phash", 1 + b * mm.PHASH_NEAR_BAND_BITS, mm.PHASH_NEAR_BAND_BITS
            )
            == F.col(f"kv{b}"),
            "left",
        )
    for b in range(mm.PHASH_NEAR_BANDS):
        out = out.filter(F.col(f"hit{b}").isNull())
    return out.select("doc_id", "phash")


def stream_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `operators/multimodal.audio_features` — the
    acoustic-profile plan on an unbounded blob stream: stateless
    synthesize -> vendored WAV decode -> Catalyst HOF features per
    microbatch; append-mode, no watermark, no stream state. The shape
    an audio-crawl triage job runs continuously."""
    from ..operators import multimodal as mm

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    corpus = mm.synthetic_audio_media(spark, sf_dir, docs=stream.select("doc_id"))
    return mm.audio_features(spark, sf_dir, media_df=corpus)


def stream_media_ingest_decision_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of the image admission ledger
    (`operators/multimodal.media_ingest_decision_report`, r12): the
    arriving side synthesizes, digests, and average-hashes per
    microbatch (stateless mapInPandas stages), then takes the same two
    broadcast left-join probes against the static known digest and
    fingerprint sets — one verdict row per arriving blob, emitted
    append-mode with no watermark and no stream state, the same
    foreachBatch-ledger shape as the text `ingest_decision_report`.
    The known sets are static DataFrames re-resolved per microbatch,
    so a growing corpus is picked up between batches."""
    from ..operators import multimodal as mm

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    return mm.media_ingest_decision_report(
        spark, sf_dir, docs=stream.select("doc_id")
    )


def ingest_decision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest decision ledger: one row per arriving document with
    its admission verdict — `exact_dup` (content digest already in the
    corpus), `near_dup` (an LSH band collides), `low_quality` (fails
    the Gopher-style rule conjunction) or `accepted` — the audit trail
    a corpus build publishes so every rejected document is explainable
    and rejection-rate drift is monitorable per batch.

    Entirely stateless against two broadcast structures (the corpus
    digest set and band-signature set) plus a per-row quality struct:
    the digest probe and the LSH_BANDS band probes are broadcast left
    joins (plan constants), the verdict a CASE over their markers with
    dedup taking precedence over quality (a duplicate's quality is
    irrelevant — it is already stored). The identical plan runs on an
    unbounded stream (foreachBatch writes the ledger). Emits (doc_id,
    is_exact_dup, is_near_dup, quality_keep, verdict)."""
    from ..operators.quality import quality_struct_expr

    d = tables.load_table(spark, sf_dir, "documents")
    known_digests = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(_digest().alias("kd"))
        .distinct()
        .withColumn("dhit", F.lit(1))
    )
    # persisted: the per-band probe loop below builds LSH_BANDS
    # differently-aliased broadcasts from this table, which defeats
    # ReusedExchange (verified: 0 in the plan) — without the cache the
    # half-corpus band-signature pass runs once per band
    known_bands = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(_rowwise_band_sigs()).alias("band_sig"))
        .distinct()
        .persist()
    )
    out = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        _digest().alias("digest"),
        _rowwise_band_sigs().alias("bands"),
        quality_struct_expr().getField("keep").alias("quality_keep"),
    )
    out = out.join(F.broadcast(known_digests), out["digest"] == F.col("kd"), "left")
    for b in range(H.LSH_BANDS):
        kb = F.broadcast(
            known_bands.select(F.col("band_sig").alias(f"ks{b}")).withColumn(
                f"hit{b}", F.lit(1)
            )
        )
        out = out.join(kb, F.element_at(F.col("bands"), b + 1) == F.col(f"ks{b}"), "left")
    near = F.lit(False)
    for b in range(H.LSH_BANDS):
        near = near | F.col(f"hit{b}").isNotNull()
    return out.select(
        "doc_id",
        F.col("dhit").isNotNull().alias("is_exact_dup"),
        (near & F.col("dhit").isNull()).alias("is_near_dup"),
        "quality_keep",
        F.when(F.col("dhit").isNotNull(), "exact_dup")
        .when(near, "near_dup")
        .when(~F.col("quality_keep"), "low_quality")
        .otherwise("accepted")
        .alias("verdict"),
    )


def ingest_decision_report_oracle() -> str:
    from ..operators.quality import quality_filter_oracle

    dg = H.digest_sql("text")
    bands = _band_sigs_sql()
    sh = H.word_shingles_sql("text")
    h = H.h32_sql("x")
    return f"""
WITH withsh AS (
  SELECT doc_id, list_transform({sh}, x -> {h} % {H.P}) AS hv FROM documents
),
sigs AS (
  SELECT doc_id, unnest({bands}) AS band_sig FROM withsh
),
known_bands AS (SELECT DISTINCT band_sig FROM sigs WHERE doc_id % 2 = 0),
known_digests AS (
  SELECT DISTINCT {dg} AS kd FROM documents WHERE doc_id % 2 = 0
),
q AS ({quality_filter_oracle()}),
arriving AS (
  SELECT d.doc_id, {dg} AS digest, q.keep AS quality_keep
  FROM documents d JOIN q ON q.doc_id = d.doc_id
  WHERE d.doc_id % 2 = 1
),
marked AS (
  SELECT a.doc_id, a.quality_keep,
         EXISTS (SELECT 1 FROM known_digests k WHERE k.kd = a.digest) AS is_exact_dup,
         EXISTS (SELECT 1 FROM sigs s JOIN known_bands kb USING (band_sig)
                 WHERE s.doc_id = a.doc_id) AS band_hit
  FROM arriving a
)
SELECT doc_id, is_exact_dup,
       (band_hit AND NOT is_exact_dup) AS is_near_dup,
       quality_keep,
       CASE WHEN is_exact_dup THEN 'exact_dup'
            WHEN band_hit THEN 'near_dup'
            WHEN NOT quality_keep THEN 'low_quality'
            ELSE 'accepted' END AS verdict
FROM marked
"""


# ---------------------------------------------------------------------------
# Streaming governance: per-microbatch constraint monitor
# ---------------------------------------------------------------------------


def order_audit_counts(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """The STATELESS slice of `operators/audit.constraint_audit` for an
    arriving orders batch: FK -> customer (null-counted broadcast left
    join), totalprice range, orderkey non-null. Per-row checks only —
    global uniqueness needs cross-batch state and stays a batch-audit
    concern (`constraint_audit` covers it over the full snapshot).
    Emits (table_name, constraint, n_checked, n_violations, passed)."""
    from ..operators.audit import _stack_constraints

    n = F.count(F.lit(1))
    cust_keys = F.broadcast(
        customer.select(F.col("c_custkey").alias("fk_custkey")).distinct()
    )
    agged = (
        orders.join(cust_keys, orders.o_custkey == F.col("fk_custkey"), "left")
        .agg(
            n.alias("custkey_fk_checked"),
            F.sum(F.when(F.col("fk_custkey").isNull(), 1).otherwise(0)).alias(
                "custkey_fk_viol"
            ),
            n.alias("totalprice_positive_checked"),
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
                "totalprice_positive_viol"
            ),
            n.alias("orderkey_not_null_checked"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "orderkey_not_null_viol"
            ),
        )
    )
    return _stack_constraints(
        agged, "orders", ["custkey_fk", "totalprice_positive", "orderkey_not_null"]
    )


def order_audit_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming monitor: the stateless order
    constraints over the full orders snapshot."""
    return order_audit_counts(
        tables.load_table(spark, sf_dir, "orders"),
        tables.load_table(spark, sf_dir, "customer"),
    )


def stream_order_audit(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
):
    """Per-microbatch governance monitor: arriving orders are audited
    against the static customer dimension inside foreachBatch and each
    batch's (batch_id, constraint, counts) report is appended to the
    audit log — the always-on data-quality feed a 100 TB ingest runs
    beside the pipeline (counts only cross the sink; violating rows
    never leave their batch). Batch-scoped overwrite keeps replays
    idempotent, same contract as sinks.stream_to_parquet_idempotent.
    Returns the query handle; sum over batches == the batch twin
    (additive counts, stateless checks)."""
    import os

    raw_schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "orders.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    customer = tables.load_table(spark, sf_dir, "customer")

    def audit_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            order_audit_counts(batch_df, customer)
            .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch={batch_id}"))
        )

    return (
        stream.writeStream.foreachBatch(audit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
