"""Streaming token-shard maintenance: the continuous-ingestion twin of
the incremental shard upsert (operators/textstats.py:token_shards_upsert)
— the tokenizer side of what streaming/vectors.py does for the IVF
index, closing the lifecycle symmetry between the two stored artifacts.

The reference re-walks its whole JSON store per enrichment pass
(generateEmbeddings.ts); a production corpus receives documents
continuously, and re-encoding the corpus to admit a batch is the cost
the stored shards exist to avoid. This stage routes ARRIVING documents
through the FROZEN tokenizer into shard-keyed per-document token
profiles — exactly the rows `token_shards_upsert`'s delta side audits
and a manifest merge appends.

Correctness story (same as streaming/vectors.py): the batch twin is
DuckDB-oracle-pinned in the registry; the test asserts the drained
AvailableNow stream equals the stored manifest's above-HWM rows
row-for-row, single-batch and multi-microbatch, with a below-HWM
replay dropping out.

Scale shape at 100 TB:

* The delta filter is a stream-static LEFT ANTI join against the
  stored MANIFEST's frozen doc_id set (narrow warehouse scan, never
  the token rows) — history replayed by an at-least-once upstream
  drops out before encoding, the same contract as the vector twin.
* The encode is a stream-static join into the stored SEGMENTS table
  (the tokenizer's frozen word->subwords map, Heaps-law vocab-sized,
  broadcast) — no merge re-fold, no distinct-word corpus pass, no
  position window: a document's token mass is the sum of its words'
  segmentation sizes (the `pack_token_sequences` observation).
  Out-of-vocab words of a genuinely novel document take the
  CHAR-FALLBACK arm: the stored merge list (m rows, a driver
  constant like the frozen centroids) is folded as plan literals over
  the char-split word, exactly what the frozen BPE tokenizer does to
  a word it has never segmented. The fold is interpreted
  (CodegenFallback) and therefore the expensive expression, but it
  sits behind a null-guarded conditional: in-vocab occurrences pay
  only the null check, so the fallback costs what OOV actually
  arrives — the batch encode's distinct-word economics, applied
  per-occurrence only where no stored row exists.
* The only stateful operator is the per-doc_id sum (update output
  mode). State is one counter per delta document per merge cycle;
  a production deployment bounds it by committing the manifest merge
  on a schedule and restarting the cycle's checkpoint, or by keying
  the group on (ingest-window, doc_id) with a watermark when the
  source carries an ingest timestamp. Duplicates WITHIN a cycle are
  the upstream dedup stage's contract (streaming/ingest.py:
  stream_ingest_dedup) — this encoder consumes the post-dedup stream,
  exactly as the batch twin consumes the idempotently-merged corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators.textstats import (
    BPE_MERGES,
    TOKEN_DOC_HWM,
    _bpe_seg_sql,
    stored_bpe_merges,
    stored_bpe_segments,
    stored_token_manifest,
)


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the fixture directory narrowed to the
    documents table (the same pattern as vectors.py:_embeddings_stream)."""
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_token_shard_upsert(
    spark: SparkSession,
    sf_dir: str,
    raw: DataFrame | None = None,
    manifest: DataFrame | None = None,
    m: int = BPE_MERGES,
    hwm: int = TOKEN_DOC_HWM,
    seed: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Streaming twin of token_shards_upsert's delta side: documents
    not yet in the stored manifest, each encoded through the frozen
    stored tokenizer into its shard-keyed token profile. Update output
    mode (the per-doc sum finalizes in the microbatch that delivers
    the document — each key is emitted once per cycle under the
    upstream-dedup contract). Emits (shard, doc_id, n_tokens).

    Words the stored segments table has never seen (a novel document's
    OOV vocabulary) are segmented on the fly by folding the STORED
    merge list over the char-split word — the frozen tokenizer's exact
    behavior on a new word — behind a null-guarded conditional, so
    in-vocab occurrences never pay the interpreted fold.

    `raw` overrides the source (tests feed multi-microbatch streams);
    `manifest` overrides the frozen side (a (doc_id) table). When
    None, the frozen side is the stored manifest below the high-water
    mark — the same fixture stand-in the batch twin documents."""
    from ..operators.layout import SHUFFLE_SEED, SHUFFLE_SHARDS

    seed_v = SHUFFLE_SEED if seed is None else seed
    shards_v = SHUFFLE_SHARDS if shards is None else shards
    stream = _documents_stream(spark, sf_dir) if raw is None else raw
    if manifest is None:
        manifest = stored_token_manifest(spark, sf_dir, m, seed, shards).filter(
            F.col("doc_id") < hwm
        )
    delta = stream.join(manifest.select("doc_id"), "doc_id", "left_anti")
    word_n = (
        stored_bpe_segments(spark, sf_dir, m)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("int").alias("n_sub"))
    )
    occurrences = delta.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    shard = F.pmod(
        F.expr(H.h32_expr_sql(f"concat_ws(':', '{seed_v}', CAST(doc_id AS STRING))")),
        F.lit(shards_v),
    ).cast("int")
    seg = _bpe_seg_sql(stored_bpe_merges(spark, sf_dir, m))
    fallback_n = F.expr(f"size(split({seg}, ' '))")
    return (
        occurrences.join(F.broadcast(word_n), "w", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_sub"), fallback_n).alias("n_sub"),
        )
        .groupBy("doc_id")
        .agg(F.sum("n_sub").cast("bigint").alias("n_tokens"))
        .select(shard.alias("shard"), "doc_id", "n_tokens")
    )
