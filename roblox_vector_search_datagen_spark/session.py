"""SparkSession factory tuned for the engine.

Defaults target a single-JVM local run (local[N], where N is
$SPARK_GRAFT_CPUS or, when that is unset, the CPUs this process may run
on) but every knob is chosen so the same plans scale on a real cluster:
AQE handles runtime coalescing/skew, shuffle partitions sized for the
test SFs, Arrow enabled for the vectorized UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

def _driver_memory() -> str:
    """Size the driver heap to the host instead of a fixed 8g.

    Round 5's driver bench ran the last 34 registry queries 2.18x
    slower than an identical-code run: with ~20 persisted subtrees
    accumulating over a 149-query session, an 8g heap on a 128 GiB
    host left the storage pool evicting exactly the shared subtrees
    the persist discipline exists to protect. A single-JVM local-mode
    "driver" is really the whole cluster's executor memory, so claim
    a cluster-executor-sized share: a quarter of host RAM, clamped to
    [8g, 48g] (32g here). Env override wins for constrained runs
    (tests deliberately shrink it to prove eviction degrades to
    recompute, never to wrong answers)."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
        gib = kib // (1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gib = 32
    return f"{min(48, max(8, (gib + 2) // 4))}g"

def get_spark(app_name: str = "rvsd-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    shuffle_partitions defaults to the local core count — at cluster
    scale you would size this to ~2-3x total cores or rely on AQE
    coalescing, which is enabled here so small SFs don't pay for 32
    partitions per shuffle.
    """
    sp = str(shuffle_partitions or _cpus())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{_cpus()}]"))
        .config("spark.sql.shuffle.partitions", sp)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a .limit(k) below this threshold plans as TakeOrderedAndProject,
        # whose per-task top-k buffer is O(k) (2k slots) on EVERY
        # concurrent task; an effectively-unbounded k (callers pass 10**9
        # for "all rows") OOMed a 32-core run in r12. Above it the limit
        # plans as a spillable global sort + GlobalLimit — identical rows
        # at any k. 2^20 keeps every registry top-k (k <= 10^4) on the
        # fast bounded-priority-queue path.
        .config("spark.sql.execution.topKSortFallbackThreshold", str(1 << 20))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", _driver_memory())
        # bucketed tables (plans/bucketing.py) live outside the repo;
        # in-memory catalog, so the warehouse is session-scoped scratch
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/rvsd-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS); read as long + convert
        # in sources.tables.load_table (Spark has no ns timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
