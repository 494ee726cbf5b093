"""Data-layout and shuffle-planning diagnostics: the operators an
engineer runs BEFORE picking partition keys at 100 TB.

* `skew_profile` measures key concentration for the join/groupBy keys
  the pipeline actually shuffles on — the number that decides whether a
  key needs salting or AQE skew splitting. One aggregation per profiled
  column, top-N per column via a tiny window over the already-aggregated
  key counts (|distinct keys| rows, not |input|).
* `events_zorder` computes a Morton (Z-order) interleave key over two
  query dimensions — the multi-dimensional clustering layout: range-
  partitioning/sorting files by zcode co-locates rows close in BOTH
  dimensions, so either-dimension range predicates prune files. The
  interleave is a pure bitwise Catalyst expression (16 shift/mask terms
  OR-ed) — scan-fused, zero shuffles, and identical integer semantics
  in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..schemas import local_df
from ..sources import tables

SKEW_TOP_N = 10

def skew_profile(spark: SparkSession, sf_dir: str, top_n: int = SKEW_TOP_N) -> DataFrame:
    """Top-N heaviest keys and their share of rows for the pipeline's
    hot shuffle keys (documents.source, events.user_id, events
    event_type). Emits (key_col, rank, key, n, share)."""
    d = tables.load_table(spark, sf_dir, "documents")
    e = tables.load_table(spark, sf_dir, "events")
    profiled = [
        d.select(F.lit("documents.source").alias("key_col"), F.col("source").cast("string").alias("key")),
        e.select(F.lit("events.user_id").alias("key_col"), F.col("user_id").cast("string").alias("key")),
        e.select(F.lit("events.event_type").alias("key_col"), F.col("event_type").cast("string").alias("key")),
    ]
    keyed = profiled[0]
    for p in profiled[1:]:
        keyed = keyed.unionByName(p)
    counts = keyed.groupBy("key_col", "key").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("key_col").agg(F.sum("n").alias("total"))
    # asc_nulls_last: Spark ascending defaults NULLS FIRST, DuckDB
    # NULLS LAST — pin the tie-break so a NULL key ranks identically
    w = Window.partitionBy("key_col").orderBy(F.desc("n"), F.asc_nulls_last("key"))
    return (
        counts.join(totals, "key_col")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "key_col",
            F.col("rank").cast("int").alias("rank"),
            "key",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
    )

def skew_profile_oracle(top_n: int = SKEW_TOP_N) -> str:
    return f"""
WITH keyed AS (
  SELECT 'documents.source' AS key_col, CAST(source AS VARCHAR) AS key FROM documents
  UNION ALL
  SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
  UNION ALL
  SELECT 'events.event_type', CAST(event_type AS VARCHAR) FROM events
),
counts AS (SELECT key_col, key, count(*) AS n FROM keyed GROUP BY 1, 2),
totals AS (SELECT key_col, sum(n) AS total FROM counts GROUP BY 1),
ranked AS (
  SELECT c.key_col, c.key, c.n, t.total,
         row_number() OVER (PARTITION BY c.key_col ORDER BY c.n DESC, c.key ASC) AS rank
  FROM counts c JOIN totals t USING (key_col)
)
SELECT key_col, CAST(rank AS INT) AS rank, key, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / total, 6) AS share
FROM ranked WHERE rank <= {top_n}
"""

ZORDER_BITS = 16

def _morton_expr(a: F.Column, b: F.Column, bits: int = ZORDER_BITS) -> F.Column:
    """Interleave the low `bits` of a (even positions) and b (odd
    positions) into one long: the Z-order curve index."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out

def events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over (user_id, value-bucket) for the events
    table. Writing files range-partitioned by zcode makes BOTH
    per-user scans and value-range scans prune files — the layout a
    single-dimension partitioning can't give. Emits
    (event_id, dim_a, dim_b, zcode)."""
    e = tables.load_table(spark, sf_dir, "events")
    a = (F.col("user_id") % 65536).cast("long")
    b = F.abs(F.floor(F.col("value"))).cast("long") % 65536
    return e.select("event_id", a.alias("dim_a"), b.alias("dim_b")).select(
        "*", _morton_expr(F.col("dim_a"), F.col("dim_b")).alias("zcode")
    )

def events_zorder_oracle(bits: int = ZORDER_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(((dim_a >> {i}) & 1) << {2 * i})")
        terms.append(f"(((dim_b >> {i}) & 1) << {2 * i + 1})")
    interleave = " | ".join(terms)
    return f"""
WITH dims AS (
  SELECT event_id,
         CAST(user_id % 65536 AS BIGINT) AS dim_a,
         CAST(abs(floor(value)) AS BIGINT) % 65536 AS dim_b
  FROM events
)
SELECT event_id, dim_a, dim_b, CAST({interleave} AS BIGINT) AS zcode
FROM dims
"""

# ---------------------------------------------------------------------------
# Time-partitioned layout (partition pruning for event-time predicates)
# ---------------------------------------------------------------------------

def partition_events_by_day(spark: SparkSession, sf_dir: str, out_dir: str) -> int:
    """Rewrite the events table hive-partitioned by event date — the
    layout that turns every event-time range predicate into a physical
    file skip (PartitionFilters in the scan, asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    scanning a day and scanning a year; pair with events_zorder inside
    each partition for second-dimension locality. Returns row count."""
    e = tables.load_table(spark, sf_dir, "events")
    (
        e.withColumn("event_date", F.to_date("ts"))
        .repartition("event_date")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir).count()

def events_for_day(spark: SparkSession, out_dir: str, day: str) -> DataFrame:
    """Read one day from the partitioned layout — the predicate lands
    in PartitionFilters (directory skip), not a row filter."""
    return spark.read.parquet(out_dir).filter(F.col("event_date") == day)

def _morton_inverse_expr(z: F.Column, bits: int = ZORDER_BITS) -> F.Column:
    """struct(a, b): de-interleave a Z-order code — the inverse of
    `_morton_expr`, used to recover the original dimensions from a
    layout key (and to property-test the interleave)."""
    a = F.lit(0).cast("long")
    b = F.lit(0).cast("long")
    for i in range(bits):
        a = a.bitwiseOR(F.shiftleft(F.shiftright(z, 2 * i).bitwiseAND(F.lit(1)), i))
        b = b.bitwiseOR(F.shiftleft(F.shiftright(z, 2 * i + 1).bitwiseAND(F.lit(1)), i))
    return F.struct(a.alias("a"), b.alias("b"))


# ---------------------------------------------------------------------------
# Deterministic seeded shuffle into training shards
# ---------------------------------------------------------------------------

SHUFFLE_SEED = 7
SHUFFLE_SHARDS = 8


def shard_assignments(
    spark: SparkSession, sf_dir: str, seed: int = SHUFFLE_SEED, shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """(doc_id, shuffle_key, shard): the pure-hash shard assignment
    shared by `seeded_shuffle` (which adds within-shard positions) and
    `shard_manifest` (which only aggregates per shard and so skips the
    position window entirely)."""
    d = tables.load_table(spark, sf_dir, "documents")
    key = F.expr(H.h32_expr_sql(f"concat_ws(':', '{seed}', CAST(doc_id AS STRING))"))
    return d.select("doc_id", key.alias("shuffle_key")).withColumn(
        "shard", F.pmod(F.col("shuffle_key"), F.lit(shards)).cast("int")
    )

def seeded_shuffle(
    spark: SparkSession, sf_dir: str, seed: int = SHUFFLE_SEED, shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """Deterministic global shuffle of the corpus into training shards —
    the data-loading layout step before writing shards a trainer
    consumes. Reproducibility rules out rand(): the permutation is a
    pure function of (seed, doc_id) via the portable hash, so any two
    runs (and any engine) agree on the exact order, resumable mid-epoch
    from (shard, pos).

    Scale shape: a single global row_number() would funnel 100 TB
    through one partition — instead the hash key assigns each doc to
    one of `shards` shards (uniform by construction, no skew) and the
    position window partitions BY SHARD, so the sort parallelism equals
    the shard count and each window holds corpus/shards rows (choose
    shards ~ executor count at scale; a real writer then does
    repartition(shard) + sortWithinPartitions(pos) and streams each
    file out). `epoch_order` interleaves shards round-robin into one
    global permutation without any global sort: order = pos * shards +
    shard. Emits (doc_id, shuffle_key, shard, pos, epoch_order)."""
    keyed = shard_assignments(spark, sf_dir, seed, shards)
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shuffle_key",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    ).withColumn(
        "epoch_order", (F.col("pos") * shards + F.col("shard")).cast("bigint")
    )


def shard_manifest(
    spark: SparkSession, sf_dir: str, seed: int = SHUFFLE_SEED, shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """The delivery manifest for the seeded-shuffle shards: per shard,
    document count, total characters, whitespace-token total (the
    token_counts convention), distinct-source count, and the shard's
    share of the corpus — the table a training job reads to size its
    data-loader splits and to verify a shard set is complete and
    balanced before burning GPU hours on it.

    Scale shape: shard assignment is a pure per-row hash (no position
    window — the manifest never needs within-shard order), so the whole
    operator is one corpus scan, a map-side-combined groupBy on the
    `shards`-ary key, and one broadcast of the 1-row corpus total for
    the share. distinct-source per shard is the only non-mergeable agg;
    its key space is (shards x sources), both small by construction.
    """
    d = tables.load_table(spark, sf_dir, "documents")
    key = F.expr(H.h32_expr_sql(f"concat_ws(':', '{seed}', CAST(doc_id AS STRING))"))
    # shard computed inline on the SAME projection — one corpus scan,
    # no self-join back to a second documents read (round-3 advice:
    # the shard_assignments join added a corpus-wide exchange here;
    # shard_assignments stays the shared builder only for
    # seeded_shuffle, which actually needs the key column downstream)
    assigned = d.select(
        "source",
        "n_chars",
        F.size(F.split(F.col("text"), r"\s+")).alias("ws_tokens"),
        F.pmod(key, F.lit(shards)).cast("int").alias("shard"),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    total = per_shard.agg(F.sum("n_docs").alias("total_docs"))
    return per_shard.crossJoin(F.broadcast(total)).select(
        "shard",
        "n_docs",
        "n_chars",
        "ws_tokens",
        "n_sources",
        F.round(F.col("n_docs") / F.col("total_docs"), 6).alias("share"),
    )

def shard_manifest_oracle(seed: int = SHUFFLE_SEED, shards: int = SHUFFLE_SHARDS) -> str:
    h = H.h32_sql(f"('{seed}' || ':' || CAST(doc_id AS VARCHAR))")
    return rf"""
WITH assigned AS (
  SELECT CAST({h} % {shards} AS INT) AS shard,
         n_chars,
         len(string_split_regex(text, '\s+')) AS ws_tokens,
         source
  FROM documents
),
per_shard AS (
  SELECT shard, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM assigned GROUP BY shard
)
SELECT shard, n_docs, n_chars, ws_tokens, n_sources,
       round(CAST(n_docs AS DOUBLE) / (SELECT sum(n_docs) FROM per_shard), 6) AS share
FROM per_shard
"""

def seeded_shuffle_oracle(seed: int = SHUFFLE_SEED, shards: int = SHUFFLE_SHARDS) -> str:
    h = H.h32_sql(f"('{seed}' || ':' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH keyed AS (
  SELECT doc_id, {h} AS shuffle_key,
         CAST({h} % {shards} AS INT) AS shard
  FROM documents
)
SELECT doc_id, shuffle_key, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) - 1
            AS BIGINT) AS pos,
       CAST((row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) - 1)
            * {shards} + shard AS BIGINT) AS epoch_order
FROM keyed
"""

# ---------------------------------------------------------------------------
# Small-file compaction planning
# ---------------------------------------------------------------------------

COMPACT_TARGET_CHARS = 60_000
COMPACT_FILE_SHARDS = 64

# Manifest tables (per-doc integer profiles the stores write beside
# their payload tables) are fixed-width rows; size their file count by
# estimated bytes against the same compaction target so the layout
# scales in BOTH directions — coalesce(1) is right at fixture scale
# but a single multi-GB file (and a single write task) at 100 TB.
MANIFEST_ROW_BYTES = 40


def manifest_file_count(n_rows: int) -> int:
    """ceil(estimated manifest bytes / compaction target), min 1."""
    import math

    return max(1, math.ceil(n_rows * MANIFEST_ROW_BYTES / COMPACT_TARGET_CHARS))

def compaction_plan(
    spark: SparkSession,
    sf_dir: str,
    target_chars: int = COMPACT_TARGET_CHARS,
    file_shards: int = COMPACT_FILE_SHARDS,
) -> DataFrame:
    """The small-files compaction plan: group undersized per-source
    'files' into output bins of ~target size — the maintenance job
    every long-lived lake table needs (streaming ingest and fine-grained
    partitioning both leave thousands of KB-scale files whose per-file
    open/footer cost dominates the scan at 100 TB).

    Input 'files' are simulated from the corpus itself: (source,
    file_id) cells of the documents table with their doc/char totals —
    one corpus scan, one map-side-combined aggregation (at scale this
    stage is a metadata-only listing, no data scan at all). Packing is
    first-fit in (source, file_id) order via a running-sum window: a
    file starts a new bin when the chars before it already fill
    floor(cum_before/target) bins. The window runs over FILE METADATA
    (per-source file counts — thousands of rows, not corpus rows), so
    partitioning the window by source both matches the compaction
    domain (bins never span a source/partition boundary — compaction
    must preserve partition pruning) and bounds each window at
    file_shards rows. Emits (source, file_id, n_docs, n_chars, bin) —
    the (file -> output bin) assignment a rewrite job executes."""
    d = tables.load_table(spark, sf_dir, "documents")
    files = (
        d.select(
            "source",
            F.pmod(F.expr(H.h32_expr_sql("CAST(doc_id AS STRING)")), F.lit(file_shards))
            .cast("int")
            .alias("file_id"),
            "n_chars",
        )
        .groupBy("source", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    return files.select(
        "source",
        "file_id",
        "n_docs",
        "n_chars",
        F.floor(cum_before / target_chars).cast("int").alias("bin"),
    )

def compaction_plan_oracle(
    target_chars: int = COMPACT_TARGET_CHARS, file_shards: int = COMPACT_FILE_SHARDS
) -> str:
    h = H.h32_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH files AS (
  SELECT source, CAST({h} % {file_shards} AS INT) AS file_id,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1, 2
)
SELECT source, file_id, n_docs, n_chars,
       CAST(floor(COALESCE(sum(n_chars) OVER (
              PARTITION BY source ORDER BY file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {target_chars}) AS INT) AS bin
FROM files
"""

# ---------------------------------------------------------------------------
# Column cardinality profile (catalog / optimizer statistics)
# ---------------------------------------------------------------------------

# 3x the HLL++ default rsd (0.05): a 1-sigma bound would breach on a
# regenerated fixture with the wrong cardinality roll; 3 sigma is the
# contract a catalog actually trusts
CARD_REL_ERR = 0.15

def column_cardinality_profile(
    spark: SparkSession, sf_dir: str, rel_err: float = CARD_REL_ERR
) -> DataFrame:
    """Per-column NDV (number-of-distinct-values) statistics for the
    pipeline's hot columns — the table stats a catalog publishes and a
    cost-based optimizer reads to pick join orders and broadcast
    thresholds. Exact NDV needs a full distinct per column; the scale
    path is HyperLogLog++ (`approx_count_distinct`), whose register-max
    merge is order-independent, so the estimate is deterministic for a
    given dataset regardless of partitioning. Like the other sketch
    queries, the HLL estimate itself can't be reproduced by the oracle,
    so the emitted contract is (exact NDV, estimate-within-rel_err
    boolean) — the boolean pins the sketch's accuracy guarantee while
    every emitted value hash-matches.

    One pass per profiled column (union of narrow projections →
    per-key exact distinct + HLL agg over the same rows — the exact leg
    exists because fixture scale allows the twin; at 100 TB only the
    HLL leg runs). Emits (col_name, n_rows, n_distinct, est_ok)."""
    d = tables.load_table(spark, sf_dir, "documents")
    e = tables.load_table(spark, sf_dir, "events")
    profiled = [
        d.select(F.lit("documents.source").alias("col_name"), F.col("source").cast("string").alias("v")),
        d.select(F.lit("documents.lang").alias("col_name"), F.col("lang").cast("string").alias("v")),
        e.select(F.lit("events.user_id").alias("col_name"), F.col("user_id").cast("string").alias("v")),
        e.select(F.lit("events.event_type").alias("col_name"), F.col("event_type").cast("string").alias("v")),
    ]
    keyed = profiled[0]
    for p in profiled[1:]:
        keyed = keyed.unionByName(p)
    stats = keyed.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("v").alias("n_distinct"),
        F.approx_count_distinct("v").alias("est"),
    )
    return stats.select(
        "col_name",
        "n_rows",
        "n_distinct",
        (
            F.abs(F.col("est") - F.col("n_distinct"))
            <= F.col("n_distinct") * rel_err
        ).alias("est_ok"),
    )

def column_cardinality_profile_oracle(rel_err: float = CARD_REL_ERR) -> str:
    return """
WITH keyed AS (
  SELECT 'documents.source' AS col_name, CAST(source AS VARCHAR) AS v FROM documents
  UNION ALL SELECT 'documents.lang', CAST(lang AS VARCHAR) FROM documents
  UNION ALL SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
  UNION ALL SELECT 'events.event_type', CAST(event_type AS VARCHAR) FROM events
)
SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
       TRUE AS est_ok
FROM keyed GROUP BY col_name
"""


# ---------------------------------------------------------------------------
# Zone-map pruning simulation (file skipping per layout)
# ---------------------------------------------------------------------------

# File-range widths for each simulated layout. Files are KEY-RANGE
# buckets — the shape repartitionByRange + per-file splits writes — so
# zone maps come from a plain groupBy, never a global row_number.
ZM_NATURAL_ROWS = 250   # event_id is dense 0..n-1: exact row-count chunks
ZM_USER_WIDTH = 4       # users per file in the user-sorted layout
ZM_ZSHIFT = 12          # zcode high bits -> file id in the Z-order layout

# (pred_id, user range, value range) — NULL bound = unconstrained.
ZM_PREDICATES = (
    ("user_10_40", 10, 40, None, None),
    ("value_100_200", None, None, 100.0, 200.0),
    ("user_and_value", 10, 40, 100.0, 200.0),
)


def zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping effectiveness report: for three physical layouts
    of the events table (natural event_id order, user-range files,
    Z-order(user, value) files) and a fixed predicate set, how many
    files a zone-map-aware scan opens and how many rows it reads per
    matching row. Emits (layout, pred_id, n_files, files_scanned,
    rows_scanned, n_match, scan_fraction, read_amplification) — the
    table that decides which sort order a 100 TB events warehouse
    writes.

    Physical shape: files are key-range buckets (what a
    repartitionByRange writer produces), so the per-file zone maps
    (min/max user_id, min/max value, row count) come from ONE scan —
    each row is stacked into its three (layout, file_id) cells and a
    single groupBy aggregates all three layouts at once. Predicate
    match counts ride a second scan as conditional sums. The
    file-level intersect join is zone-maps x 3 predicate literals —
    both sides are metadata-sized, the predicate side broadcasts, and
    nothing after the two scans touches row payloads (exactly how a
    real zone-map scan consults footer metadata, not data pages)."""
    e = tables.load_table(spark, sf_dir, "events")
    dims = e.select(
        "event_id",
        "user_id",
        "value",
        (F.col("user_id") % 65536).cast("long").alias("dim_a"),
        (F.abs(F.floor(F.col("value"))).cast("long") % 65536).alias("dim_b"),
    ).withColumn("zcode", _morton_expr(F.col("dim_a"), F.col("dim_b")))
    cells = dims.select(
        "user_id",
        "value",
        F.expr(
            f"stack(3, "
            f"'natural', CAST(floor(event_id / {ZM_NATURAL_ROWS}) AS BIGINT), "
            f"'by_user', CAST(floor(user_id / {ZM_USER_WIDTH}) AS BIGINT), "
            f"'zorder',  CAST(shiftright(zcode, {ZM_ZSHIFT}) AS BIGINT)"
            f") AS (layout, file_id)"
        ),
    )
    zone_maps = cells.groupBy("layout", "file_id").agg(
        F.min("user_id").alias("min_u"),
        F.max("user_id").alias("max_u"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.count(F.lit(1)).alias("n_rows"),
    )

    preds = F.broadcast(
        local_df(
            spark,
            ZM_PREDICATES,
            "pred_id string, u_lo bigint, u_hi bigint, v_lo double, v_hi double",
        )
    )
    match_aggs = e.agg(
        *[
            F.sum(
                F.when(
                    (F.lit(u_lo is None) | F.col("user_id").between(u_lo, u_hi))
                    & (F.lit(v_lo is None) | F.col("value").between(v_lo, v_hi)),
                    1,
                ).otherwise(0)
            ).alias(f"m_{i}")
            for i, (_, u_lo, u_hi, v_lo, v_hi) in enumerate(ZM_PREDICATES)
        ]
    )
    matches = match_aggs.select(
        F.expr(
            "stack({n}, {pairs}) AS (pred_id, n_match)".format(
                n=len(ZM_PREDICATES),
                pairs=", ".join(
                    f"'{p[0]}', m_{i}" for i, p in enumerate(ZM_PREDICATES)
                ),
            )
        )
    )

    scanned = (
        (F.col("u_lo").isNull() | ((F.col("min_u") <= F.col("u_hi")) & (F.col("max_u") >= F.col("u_lo"))))
        & (F.col("v_lo").isNull() | ((F.col("min_v") <= F.col("v_hi")) & (F.col("max_v") >= F.col("v_lo"))))
    )
    per = (
        zone_maps.crossJoin(preds)
        .withColumn("scanned", scanned)
        .groupBy("layout", "pred_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(F.col("scanned"), 1).otherwise(0)).alias("files_scanned"),
            F.sum(F.when(F.col("scanned"), F.col("n_rows")).otherwise(0)).alias(
                "rows_scanned"
            ),
        )
    )
    return per.join(F.broadcast(matches), "pred_id").select(
        "layout",
        "pred_id",
        F.col("n_files").cast("bigint").alias("n_files"),
        F.col("files_scanned").cast("bigint").alias("files_scanned"),
        F.col("rows_scanned").cast("bigint").alias("rows_scanned"),
        F.col("n_match").cast("bigint").alias("n_match"),
        F.round(F.col("files_scanned") / F.col("n_files"), 6).alias("scan_fraction"),
        F.round(
            F.col("rows_scanned") / F.nullif(F.col("n_match"), F.lit(0)), 6
        ).alias("read_amplification"),
    )


def zone_map_pruning_oracle() -> str:
    # no `bits` parameter: the Spark side is pinned to _morton_expr's
    # ZORDER_BITS default, so a parameterized oracle could silently
    # diverge from the operator it certifies
    bits = ZORDER_BITS
    terms = []
    for i in range(bits):
        terms.append(f"(((dim_a >> {i}) & 1) << {2 * i})")
        terms.append(f"(((dim_b >> {i}) & 1) << {2 * i + 1})")
    interleave = " | ".join(terms)
    pred_rows = ", ".join(
        "('{}', {}, {}, {}, {})".format(
            p[0],
            "NULL" if p[1] is None else p[1],
            "NULL" if p[2] is None else p[2],
            "NULL" if p[3] is None else p[3],
            "NULL" if p[4] is None else p[4],
        )
        for p in ZM_PREDICATES
    )
    return f"""
WITH dims AS (
  SELECT event_id, user_id, value,
         CAST(user_id % 65536 AS BIGINT) AS dim_a,
         CAST(abs(floor(value)) AS BIGINT) % 65536 AS dim_b
  FROM events
),
coded AS (
  SELECT event_id, user_id, value, CAST({interleave} AS BIGINT) AS zcode FROM dims
),
cells AS (
  SELECT 'natural' AS layout, CAST(floor(event_id / {ZM_NATURAL_ROWS}) AS BIGINT) AS file_id, user_id, value FROM coded
  UNION ALL
  SELECT 'by_user', CAST(floor(user_id / {ZM_USER_WIDTH}) AS BIGINT), user_id, value FROM coded
  UNION ALL
  SELECT 'zorder', zcode >> {ZM_ZSHIFT}, user_id, value FROM coded
),
zone_maps AS (
  SELECT layout, file_id, min(user_id) AS min_u, max(user_id) AS max_u,
         min(value) AS min_v, max(value) AS max_v, count(*) AS n_rows
  FROM cells GROUP BY 1, 2
),
preds(pred_id, u_lo, u_hi, v_lo, v_hi) AS (VALUES {pred_rows}),
matches AS (
  SELECT p.pred_id,
         sum(CASE WHEN (p.u_lo IS NULL OR e.user_id BETWEEN p.u_lo AND p.u_hi)
                   AND (p.v_lo IS NULL OR e.value BETWEEN p.v_lo AND p.v_hi)
                  THEN 1 ELSE 0 END) AS n_match
  FROM events e CROSS JOIN preds p GROUP BY 1
),
per AS (
  SELECT z.layout, p.pred_id,
         count(*) AS n_files,
         sum(CASE WHEN (p.u_lo IS NULL OR (z.min_u <= p.u_hi AND z.max_u >= p.u_lo))
                   AND (p.v_lo IS NULL OR (z.min_v <= p.v_hi AND z.max_v >= p.v_lo))
                  THEN 1 ELSE 0 END) AS files_scanned,
         sum(CASE WHEN (p.u_lo IS NULL OR (z.min_u <= p.u_hi AND z.max_u >= p.u_lo))
                   AND (p.v_lo IS NULL OR (z.min_v <= p.v_hi AND z.max_v >= p.v_lo))
                  THEN z.n_rows ELSE 0 END) AS rows_scanned
  FROM zone_maps z CROSS JOIN preds p GROUP BY 1, 2
)
SELECT per.layout, per.pred_id,
       CAST(n_files AS BIGINT) AS n_files,
       CAST(files_scanned AS BIGINT) AS files_scanned,
       CAST(rows_scanned AS BIGINT) AS rows_scanned,
       CAST(n_match AS BIGINT) AS n_match,
       round(CAST(files_scanned AS DOUBLE) / n_files, 6) AS scan_fraction,
       round(CAST(rows_scanned AS DOUBLE) / nullif(n_match, 0), 6) AS read_amplification
FROM per JOIN matches USING (pred_id)
"""


# ---------------------------------------------------------------------------
# Skew -> salt-factor advisor
# ---------------------------------------------------------------------------

# The per-task row budget a shuffled join partition should stay under.
# Fixture-scale constant; at 100 TB this is executor-memory / row-width
# derived (the same number spark.sql.adaptive.skewJoin thresholds
# approximate from partition bytes).
SKEW_TARGET_ROWS = 1000


def join_skew_advisor(
    spark: SparkSession, sf_dir: str, target_rows: int = SKEW_TARGET_ROWS
) -> DataFrame:
    """Turns `skew_profile`'s measurements into the decision the
    engineer actually needs: for each profiled hot key, the salt
    factor that brings its heaviest reducer under the per-task row
    budget, and the post-salt rows per task. salt_factor 1 == no
    action needed; anything above 1 is the explicit replicate-count
    for the dedup-style salted join (operators/dedup.py's
    SALT_BUCKETS pattern) or the AQE skew-split the key will force.
    Emits (key_col, rank, key, n, share, salt_factor, post_salt_rows).

    Same metadata-sized shape as the profile it rides: aggregation to
    |distinct keys| rows, top-N window per column, then pure per-row
    arithmetic — nothing here touches row payloads twice."""
    prof = skew_profile(spark, sf_dir)
    salt = F.greatest(
        F.lit(1).cast("bigint"), F.ceil(F.col("n") / target_rows).cast("bigint")
    )
    return prof.select(
        "key_col",
        "rank",
        "key",
        "n",
        "share",
        salt.alias("salt_factor"),
        F.ceil(F.col("n") / salt).cast("bigint").alias("post_salt_rows"),
    )


def join_skew_advisor_oracle(
    top_n: int = SKEW_TOP_N, target_rows: int = SKEW_TARGET_ROWS
) -> str:
    return f"""
WITH prof AS ({skew_profile_oracle(top_n)})
SELECT key_col, rank, key, n, share,
       greatest(CAST(1 AS BIGINT), CAST(ceil(CAST(n AS DOUBLE) / {target_rows}) AS BIGINT)) AS salt_factor,
       CAST(ceil(CAST(n AS DOUBLE) / greatest(CAST(1 AS BIGINT), CAST(ceil(CAST(n AS DOUBLE) / {target_rows}) AS BIGINT))) AS BIGINT) AS post_salt_rows
FROM prof
"""
