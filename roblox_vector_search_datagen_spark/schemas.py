"""Explicit schemas for every dataset the engine touches.

The engine never infers schemas (reference enforces types via TS strict
mode + Zod at the API edge — src/types.d.ts:59-66, src/api.ts:32-41;
here the equivalent contract is an explicit StructType on every read).
"""

from __future__ import annotations

import functools
from collections.abc import Sequence
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# The central row type — reference `Game` (src/types.d.ts:59-66).
# Tri-state text encoding (SURVEY.md §7.4.2): NULL = never fetched,
# '' = fetched-but-blank ("known blank", reference `null`), text = present.
GAME_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType(), nullable=False),
        T.StructField("rootPlaceId", T.LongType(), nullable=False),
        T.StructField("name", T.StringType(), nullable=False),
        T.StructField("description", T.StringType(), nullable=True),
        T.StructField("gameplayDescription", T.StringType(), nullable=True),
        T.StructField("playerCount", T.IntegerType(), nullable=True),
    ]
)

# Reference embeddings.json is Record<universeId, number[]>
# (src/lib/commands/generateEmbeddings.ts:17-21); modeled relationally.
EMBEDDING_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType(), nullable=False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), nullable=False),
    ]
)

# Job table mirrors the SQLite DDL (src/lib/jobManager.ts:46-60).
JOB_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("command", T.StringType(), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),
        T.StructField("progress_current", T.IntegerType(), nullable=True),
        T.StructField("progress_total", T.IntegerType(), nullable=True),
        T.StructField("progress_message", T.StringType(), nullable=True),
        T.StructField("result", T.StringType(), nullable=True),
        T.StructField("error", T.StringType(), nullable=True),
        T.StructField("created_at", T.TimestampType(), nullable=False),
        T.StructField("started_at", T.TimestampType(), nullable=True),
        T.StructField("completed_at", T.TimestampType(), nullable=True),
    ]
)

JOB_STATUSES = ("pending", "running", "completed", "failed")

# Image inventory (reference: data/games/images/<id>/{icon,thumbnail}.png,
# src/lib/commands/downloadImages.ts:42-44) as a binary-column table.
IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType(), nullable=False),
        T.StructField("kind", T.StringType(), nullable=False),  # icon|thumbnail
        T.StructField("path", T.StringType(), nullable=False),
        T.StructField("content", T.BinaryType(), nullable=True),
    ]
)

@functools.lru_cache(maxsize=32)
def _ddl_schema(ddl: str) -> T.StructType:
    return T.StructType.fromDDL(ddl)


def _utc(v: datetime | None) -> datetime | None:
    # as on the list path, a naive datetime is local time; pyarrow would
    # store the wall clock of any datetime as UTC
    return None if v is None else v.astimezone(timezone.utc)


def local_df(spark: SparkSession, rows: Sequence, schema: T.StructType | str) -> DataFrame:
    """Driver-local rows as a DataFrame over a JVM-side Arrow relation.

    `spark.createDataFrame(list)` builds a Python RDD, so every scan of
    it starts one Python task per core, even for zero rows. A
    `pyarrow.Table` becomes a LocalRelation instead: its scans run in
    the JVM, and an empty one has no partitions. Rows are dicts keyed
    by field name (a missing key is null) or tuples in field order; a
    DDL string schema is parsed once per process. A None in a
    non-nullable field raises ValueError."""
    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    names = schema.names
    arrow = to_arrow_schema(schema)
    tuples = [tuple(r.get(n) for n in names) if isinstance(r, dict) else r for r in rows]
    columns = list(zip(*tuples)) or [()] * len(names)
    arrays = [
        pa.array(
            [_utc(v) for v in col] if isinstance(f.dataType, T.TimestampType) else list(col),
            af.type,
        )
        for f, af, col in zip(schema.fields, arrow, columns)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
