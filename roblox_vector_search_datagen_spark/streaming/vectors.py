"""Streaming vector-index maintenance: the continuous-ingestion twin of
the incremental IVF upsert (operators/ann.py:ivf_upsert_assignments).

The reference rebuilds its embedding store in resumable batch passes
(generateEmbeddings.ts walks games.json and appends to embeddings.json);
a production corpus receives vectors continuously, and re-running the
bulk build per batch re-scans the corpus to place a few thousand new
vectors. This module is the Structured Streaming half of the
incremental regime the batch operators already implement: new vectors
arrive as a stream, the stored index contributes only its vec_id set,
and each new vector is routed to its nearest FROZEN centroid — the
same frozen-coarse-quantizer contract as the batch upsert, so the
stream's accumulated output IS the delta table `ivf_index_merge`
unions into the served index.

Correctness story (same as streaming/events.py): the batch twin is
DuckDB-oracle-pinned in the registry; tests assert the drained
AvailableNow stream equals the batch twin row-for-row, single-batch
and multi-microbatch.

Scale shape — this is the part worth copying at 100 TB:

* The scoring is a STATELESS projection. The K x dim frozen centroid
  table is collected once on the driver (K rows — the same
  constant-size driver table the query encoder uses, vector.py
  vector_lit_spark_sql) and rides into every task as plan literals,
  with each centroid's norm pre-computed driver-side so the per-row work is K
  dot products, not K full cosines. No state store, no shuffle, no
  per-microbatch recompute of anything corpus-sized: per-batch cost is
  |new vectors| x K multiply-adds, horizontally scalable to any
  ingest rate by adding executors.
* The delta filter is a stream-static LEFT ANTI join against the
  stored index's vec_id set — vectors re-delivered AFTER their merge
  cycle (an at-least-once upstream replaying history) drop out before
  scoring. Duplicates WITHIN one merge cycle are not state-tracked
  here (that would need a state store keyed by vec_id); they collapse
  at the write step, where the merge keys on vec_id
  (operators/ann.py:ivf_index_merge documents the union contract).
* Late or out-of-order arrival is a non-issue by construction:
  routing depends only on the vector payload and the frozen
  centroids, not on event time, so there is no watermark and nothing
  to drop — the one streaming operator family where "no watermark"
  is a design statement, not an omission.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators.ann import IVF_K, IVF_UPSERT_HWM, ivf_index_store
from ..operators.dedup import clear_session_memos
from ..sources import tables


def _frozen_centroids(spark: SparkSession, sf_dir: str, k: int) -> list[tuple[int, list[float]]]:
    """Driver-side (cent_id, vector) rows of the frozen coarse
    quantizer — the K seed centroids (embeddings of the k smallest
    vec_ids, the same seeding every IVF operator pins). K x dim is
    constant-size (16 x 64 here); collecting it is the documented
    driver-table pattern, not a corpus collect."""
    rows = (
        tables.load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect()
    )
    return sorted((r.vec_id, [float(x) for x in r.embedding]) for r in rows)


def _nearest_centroid_cols(emb: str, cents: list[tuple[int, list[float]]]):
    """(cent_id, cosine) columns routing column `emb` to its nearest frozen
    centroid, bit-identical to the batch twin's crossJoin + argmax
    window (ann.py:ivf_upsert_assignments): double accumulation in
    element order for the dot and the vector norm, denominator formed
    as norm_a * norm_b with the centroid norm pre-computed driver-side
    (same value as SQRT(aggregate(cent^2)) — same elements, same
    order), round to 6, ties broken to the smallest cent_id, and a
    zero-norm vector degrades to (smallest cent_id, NULL) exactly as
    the window's DESC NULLS LAST ordering does."""
    norm_a = V.norm_expr_sql(emb)
    scores = []
    for cent_id, vec in cents:
        norm_b = f"{math.sqrt(_seq_sumsq(vec))!r}D"
        cos = V.cosine_expr_sql(emb, V.vector_lit_spark_sql(vec), norm_a, norm_b)
        scores.append(
            F.struct(
                F.expr(f"round({cos}, 6)").alias("cosine"),
                F.lit(-cent_id).cast("long").alias("neg_cent"),
            )
        )
    pick = F.array_max(F.filter(F.array(*scores), lambda s: s["cosine"].isNotNull()))
    min_cent = min(c for c, _ in cents)
    cent_id = F.when(pick.isNull(), F.lit(min_cent).cast("long")).otherwise(
        -pick["neg_cent"]
    )
    return cent_id, pick["cosine"]


def _seq_sumsq(vec: list[float]) -> float:
    """Sum of squares in ELEMENT ORDER — matches Spark's
    aggregate(acc + x*x) left fold; math.fsum would round differently."""
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return acc


def _embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the fixture directory narrowed to the
    embeddings table (the same pattern as events.py:_events_stream)."""
    raw_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def stream_ivf_upsert(
    spark: SparkSession,
    sf_dir: str,
    raw: DataFrame | None = None,
    index: DataFrame | None = None,
    k: int = IVF_K,
    hwm: int = IVF_UPSERT_HWM,
) -> DataFrame:
    """Streaming twin of ivf_upsert_assignments: vectors not yet in the
    stored index, each routed to its nearest frozen centroid. Append
    output mode (stateless — every result row is final the moment its
    input row is scored). Emits (vec_id, cent_id, cosine).

    `raw` overrides the source (tests feed multi-microbatch streams
    through it); `index` is the stored index table (vec_id column).
    When None, the index is simulated as vec_ids below the high-water
    mark — the same fixture stand-in the batch twin documents."""
    stream = _embeddings_stream(spark, sf_dir) if raw is None else raw
    if index is None:
        index = (
            tables.load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < hwm)
            .select("vec_id")
        )
    delta = stream.join(index.select("vec_id"), "vec_id", "left_anti")
    cents = _frozen_centroids(spark, sf_dir, k)
    cent_id, cosine = _nearest_centroid_cols("embedding", cents)
    return delta.select(
        "vec_id", cent_id.alias("cent_id"), cosine.alias("cosine")
    )


def commit_ingest_batch(
    spark: SparkSession,
    sf_dir: str,
    k: int = IVF_K,
    hwm: int = IVF_UPSERT_HWM,
) -> str:
    """COMMIT step of the continuous-ingestion loop — call after a
    drained microbatch's vectors have landed in the corpus under
    `sf_dir` (the idempotent parquet sink + merge write). Three kinds
    of session-lifetime state are now stale, and this hook retires all
    of them in one place so no caller has to remember the list:

    1. eager driver memos (dedup clusters, BPE merges) — plan-opaque
       results keyed on sf_dir;
    2. every materialized `persist_if` InMemoryRelation — a persisted
       subtree never re-reads its parquet, so it would keep serving
       pre-ingestion data (both via `clear_session_memos(spark)`);
    3. the warehouse-stored IVF index — `ivf_index_store`'s
       write-if-absent guard would otherwise serve the pre-ingestion
       index silently (`rebuild=True` forces the re-derivation).

    The rebuild is a VERSIONED commit (r9): `ivf_index_store` builds
    the fresh index out of place into `<base>_v<N>` and atomically
    repoints the `<base>.CURRENT` marker, so a reader racing this
    commit serves either the old complete version or the new one —
    never a half-written table. The commit is SELF-CLEANING (r11):
    `ivf_index_store` retires superseded versions at repoint time
    (retain = pointed; the base table is collected only once the
    pointed version serves like it), so callers must NOT hold lazy
    DataFrames resolved against the prior version's path across a
    commit — they fail on evaluation once the old files are gone.
    `gcWarehouse` remains the janitor for entries a crash orphaned.

    Returns the committed version's path, so the caller can log/serve
    it. Cost model at 100 TB: the memo/cache clear is free; the index
    rebuild is one corpus pass per COMMIT (not per query), amortizable
    by committing on a schedule — the invalidation contract is the
    part that must never be skipped."""
    clear_session_memos(spark)
    return ivf_index_store(spark, sf_dir, k, hwm, rebuild=True)
