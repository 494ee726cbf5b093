"""Scale-adaptive partition sizing for CPU-heavy per-row stages.

The fixture tables are single-row-group parquet files, so every scan is
one task and every byte-light subtree AQE-coalesces to one partition —
which serializes the stages whose cost is CPU per row, not bytes
(vendored codec decode chains, the BPE merge fold, synthetic-corpus
generators). On a real cluster the scan side is parallel from file
splits, so the repartition count must NOT be a local[32] constant: it
is derived from the input size with the session's own split sizing
(`spark.sql.files.maxPartitionBytes`) and floored at the cluster's
`defaultParallelism` — the same arithmetic the scan planner applies,
so at 100 TB the pinned count matches what a parallel scan would have
produced anyway, and at fixture scale it spreads the per-row work over
the available cores.

The repartitions this feeds are KEY-ONLY or metadata-width exchanges
(doc_id streams, text already bound for a doc_id window) — never a
second pass over heavy payload bytes; see each call site's docstring.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def _size_bytes(path: str) -> int:
    """Local file/dir size, or -1 when the path is not statable from
    this process (remote storage URIs like s3://, hdfs://, or a path
    that only exists executor-side). Unknown MUST NOT read as "tiny":
    a 0 would make `scan_splits` report a degenerate layout and invert
    `spread_scan`'s returns-unchanged-on-healthy-layouts guarantee on
    every non-local table."""
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    try:
        return os.path.getsize(path)
    except OSError:
        return -1


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    units = {"k": 1024, "m": 1024**2, "g": 1024**3}
    s = raw.strip().lower().removesuffix("b")
    if s and s[-1] in units:
        return int(s[:-1]) * units[s[-1]]
    try:
        return int(s)
    except ValueError:
        return 128 * 1024 * 1024


def scan_splits(spark: SparkSession, sf_dir: str, table: str = "documents") -> int:
    """How many splits a scan of `table` gets from file layout alone
    (ceil(bytes / maxPartitionBytes), min 1). A single small parquet
    file (one row group) reads as ONE task no matter how many cores
    the cluster has — the degenerate layout `spread_scan` repairs.

    Returns 0 when the layout cannot be observed from this process
    (unstatable path — remote storage, or an empty placeholder):
    callers must treat 0 as "assume healthy", never as "one split"."""
    size = _size_bytes(os.path.join(sf_dir, f"{table}.parquet"))
    if size <= 0:
        return 0
    return max(1, math.ceil(size / _max_partition_bytes(spark)))


def spread_scan(spark: SparkSession, sf_dir: str, df, table: str = "documents", *keys: str):
    """Repair a degenerate scan layout for CPU-per-row-heavy pipelines
    (guide §2.5, input skew: "one huge unsplittable file ... otherwise
    repartition immediately after the read").

    ONLY fires when the table's split count is below the cluster's
    defaultParallelism — i.e. the scan cannot use the machine. On a
    healthy layout (any real 100 TB table) the condition is false and
    the plan is returned UNCHANGED: no extra exchange ever reaches
    production-scale plans, so this is a layout repair, not a local[32]
    tuning constant. When it fires, the repartition hash-partitions on
    `keys` (pass the pipeline's next exchange key — groupBy/window key —
    so the added exchange REPLACES the one downstream rather than
    stacking a second one; ensureRequirements recognizes the clustering)
    or round-robins when no key applies (pure per-row projections)."""
    splits = scan_splits(spark, sf_dir, table)
    # 0 = layout unobservable (remote storage): assume healthy — the
    # repair must only ever fire on a layout PROVEN degenerate.
    if splits == 0 or splits >= spark.sparkContext.defaultParallelism:
        return df
    n = corpus_partitions(spark, sf_dir, table)
    if keys:
        return df.repartition(n, *keys)
    return df.repartition(n)


def corpus_partitions(spark: SparkSession, sf_dir: str, table: str = "documents") -> int:
    """max(defaultParallelism, ceil(table bytes / maxPartitionBytes)) —
    the partition count a parallel scan of `table` would get, floored
    at one task per core so fixture-scale inputs still use the whole
    machine for CPU-bound per-row work."""
    size = _size_bytes(os.path.join(sf_dir, f"{table}.parquet"))
    return max(
        spark.sparkContext.defaultParallelism,
        math.ceil(max(size, 0) / _max_partition_bytes(spark)),
    )
