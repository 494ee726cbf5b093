"""Scale-evidence probes for the r12/r13 layout work (r12 VERDICT
item 7): demonstrate on a live session that

  A. `spread_scan` is the IDENTITY end-to-end once the scan layout is
     healthy — not just unit-pinned. A healthy layout is simulated the
     way the gate itself defines one: the session's own split sizing
     (spark.sql.files.maxPartitionBytes) is lowered until
     ceil(bytes / maxPartitionBytes) >= defaultParallelism, and then
     every spread_scan call site must return its input DataFrame object
     unchanged.

  B. the `token_shards` exchange-before-explode rewrite (r12) shuffles
     bytes that grow with the DOCUMENT corpus, not with the exploded
     token stream: the probe reports the run's total shuffle-write
     bytes at two SFs. Run it with --tree-root pointed at an r11
     checkout (git worktree of 7ea75ca) to get the pre-rewrite numbers
     for the same SFs; the committed comparison lives in
     OPTIMIZATION_r13.md.

Usage:
  python scripts/scale_probe_r13.py identity [--sf DIR]
  python scripts/scale_probe_r13.py shuffle --tree-root ROOT [--sf DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time


def _session(tree_root: str, app: str, max_partition_bytes: int | None = None):
    sys.path.insert(0, tree_root)
    from pyspark.sql import SparkSession

    from roblox_vector_search_datagen_spark.session import get_spark

    if max_partition_bytes is None:
        spark = get_spark(app)
    else:
        # same confs as session.get_spark but with the probe's split
        # sizing — the gate must read the session's OWN value
        builder = SparkSession.builder.appName(app).master(
            os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        )
        for k, v in {
            "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            "spark.sql.files.maxPartitionBytes": str(max_partition_bytes),
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
        }.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def identity(sf_dir: str) -> int:
    spark = _session("/root/repo", "rvsd-probe-identity", max_partition_bytes=64 * 1024)
    from roblox_vector_search_datagen_spark.functions import parallelism
    from roblox_vector_search_datagen_spark.sources import tables

    cores = spark.sparkContext.defaultParallelism
    for table in ("documents", "embeddings"):
        splits = parallelism.scan_splits(spark, sf_dir, table)
        d = tables.load_table(spark, sf_dir, table)
        out = parallelism.spread_scan(spark, sf_dir, d, table, "doc_id")
        print(json.dumps({
            "table": table, "splits": splits, "cores": cores,
            "healthy": splits >= cores, "identity": out is d,
        }))
        assert splits >= cores, "probe setup failed: layout still degenerate"
        assert out is d, "spread_scan returned a new plan on a healthy layout"
    print("IDENTITY PROBE PASS")
    return 0


def shuffle(tree_root: str, sf_dir: str) -> int:
    spark = _session(tree_root, "rvsd-probe-shuffle")
    from roblox_vector_search_datagen_spark.plans.registry import QUERIES

    df = QUERIES["token_shards"].builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # warm / first touch
    store = spark.sparkContext._jsc.sc().statusStore()

    def stages():
        from pyspark import SparkContext

        jvm = SparkContext._active_spark_context._jvm
        empty = jvm.java.util.ArrayList()
        q = SparkContext._active_spark_context._gateway.new_array(jvm.double, 0)
        it = store.stageList(empty, False, False, q, empty).iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    before = {s.stageId() for s in stages()}
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    sh_wr = sum(
        s.shuffleWriteBytes() for s in stages() if s.stageId() not in before
    )
    print(json.dumps({
        "tree": tree_root, "sf": sf_dir,
        "shuffle_write_mb": round(sh_wr / 1048576, 3),
        "warm_noop_wall_s": round(wall, 3),
    }))
    return 0


if __name__ == "__main__":
    mode = sys.argv[1]
    sf = "/root/testdata/sf0.1"
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]
    if mode == "identity":
        raise SystemExit(identity(sf))
    root = sys.argv[sys.argv.index("--tree-root") + 1]
    raise SystemExit(shuffle(root, sf))
