"""`schemas.local_df`, the one way the package turns driver-local rows
into a DataFrame: same rows as `spark.createDataFrame(list, schema)`
for every schema it is called with, but over a JVM-side Arrow relation
instead of a Python RDD."""

from __future__ import annotations

import ast
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import types as T

import roblox_vector_search_datagen_spark as pkg
from roblox_vector_search_datagen_spark.cli import NEW_BATCH_SCHEMA
from roblox_vector_search_datagen_spark.schemas import (
    EMBEDDING_SCHEMA,
    GAME_SCHEMA,
    IMAGE_SCHEMA,
    JOB_SCHEMA,
    local_df,
)

PKG_DIR = os.path.dirname(pkg.__file__)


def _package_sources():
    for d, _, files in os.walk(PKG_DIR):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    yield path, fh.read()


def _ddl_call_sites() -> list[str]:
    """Every DDL string literal passed to `local_df` in the package."""
    out = []
    for _, src in _package_sources():
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "local_df"
                and len(node.args) == 3
                and isinstance(node.args[2], ast.Constant)
            ):
                out.append(node.args[2].value)
    return out


DDLS = _ddl_call_sites()
SCHEMAS = [NEW_BATCH_SCHEMA, IMAGE_SCHEMA, GAME_SCHEMA, EMBEDDING_SCHEMA, JOB_SCHEMA, *DDLS]

SAMPLE = {
    T.LongType: 7,
    T.IntegerType: 3,
    T.StringType: "s'é",
    T.BinaryType: b"\x00\x01",
    T.DoubleType: 1.5,
    T.TimestampType: datetime(2024, 1, 2, 3, 4, 5, 123456),
}


def _value(dt: T.DataType):
    if isinstance(dt, T.ArrayType):
        return [0.1, -2.5]
    return SAMPLE[type(dt)]


def _rows(schema: T.StructType) -> list[tuple]:
    full = tuple(_value(f.dataType) for f in schema.fields)
    nulls = tuple(_value(f.dataType) if not f.nullable else None for f in schema.fields)
    return [full, nulls]


def _struct(spark, schema) -> T.StructType:
    return spark.createDataFrame([], schema).schema if isinstance(schema, str) else schema


def test_every_ddl_call_site_found():
    assert len(DDLS) == 3, DDLS


@pytest.mark.parametrize("schema", SCHEMAS, ids=lambda s: s if isinstance(s, str) else None)
def test_same_rows_as_list_path(spark, schema):
    struct = _struct(spark, schema)
    rows = _rows(struct)
    for data in (rows, []):
        got = local_df(spark, data, schema)
        want = spark.createDataFrame(data, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    dicts = [{n: v for n, v in zip(struct.names, r) if v is not None} for r in rows]
    assert local_df(spark, dicts, schema).collect() == spark.createDataFrame(rows, schema).collect()


@pytest.mark.parametrize("schema", [s for s in SCHEMAS if not isinstance(s, str)])
def test_none_in_non_nullable_field_raises(spark, schema):
    row = list(_rows(schema)[0])
    row[next(i for i, f in enumerate(schema.fields) if not f.nullable)] = None
    with pytest.raises(ValueError):
        spark.createDataFrame([tuple(row)], schema).collect()
    with pytest.raises(ValueError):
        local_df(spark, [tuple(row)], schema).collect()


def test_naive_timestamps_are_local_time(spark, monkeypatch):
    """The list path reads a naive datetime in the process's local time
    zone; so does the helper, whatever that zone is."""
    rows = _rows(JOB_SCHEMA)
    monkeypatch.setenv("TZ", "XXX+5")
    time.tzset()
    try:
        assert local_df(spark, rows, JOB_SCHEMA).collect() == (
            spark.createDataFrame(rows, JOB_SCHEMA).collect()
        )
    finally:
        monkeypatch.undo()
        time.tzset()


def test_empty_input_has_no_partitions(spark):
    assert local_df(spark, [], IMAGE_SCHEMA).rdd.getNumPartitions() == 0


def test_create_dataframe_only_inside_helper():
    """Every driver-local DataFrame in the package goes through the
    helper: no other `createDataFrame(` call builds a Python RDD."""
    schemas_py = os.path.join(PKG_DIR, "schemas.py")
    with open(schemas_py) as fh:
        helper = next(
            n
            for n in ast.parse(fh.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "local_df"
        )
    hits = [
        (path, i)
        for path, src in _package_sources()
        for i, line in enumerate(src.splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert hits and all(
        path == schemas_py and helper.lineno <= i <= helper.end_lineno for path, i in hits
    ), hits
