"""Expected answers from the DuckDB oracles the package ships, and an
order-insensitive comparison of result rows against them."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

from roblox_vector_search_datagen_spark.operators import search
from roblox_vector_search_datagen_spark.sources.tables import TPCH_TABLES

FLOAT_TOL = 1.5e-6  # one unit in the 6th decimal, where both sides round


class Oracle:
    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TPCH_TABLES:
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def api_answer(self, op: str, path: str, params: dict):
        """Canonical rows the HTTP endpoint must return for this request."""
        limit = params.get("limit")
        if op == "text":
            sql = search.text_search_oracle(params["q"], limit)
        elif op == "vector":
            sql = search.vector_search_oracle(params["q"], limit)
        elif op == "similar":
            sql = search.similar_search_oracle(int(path.rsplit("/", 1)[1]), limit)
        elif op == "games":
            sql = search.list_games_oracle(limit)
        else:
            sql = search.stats_oracle()
        return canonical(*self.rows(sql))

    def close(self) -> None:
        self.con.close()


def _cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(_cell(x) for x in v.values())
    if isinstance(v, (list, tuple)):  # arrays, and Spark Rows for structs
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def canonical(cols: list[str], rows: list) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by lower-cased name, cells normalised, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return tuple(cols[i].lower() for i in order), sorted(out, key=_sort_key)


def canonical_json(body) -> tuple[tuple[str, ...], list[tuple]]:
    """Canonical rows of an HTTP JSON body (a row list, or one row)."""
    rows = body if isinstance(body, list) else [body]
    cols = sorted(rows[0]) if rows else []
    return canonical(cols, [[r[c] for c in cols] for r in rows])


def _sort_key(row: tuple):
    return tuple(repr(round(x, 4)) if isinstance(x, float) else repr(x) for x in row)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=FLOAT_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same(got, want) -> bool:
    """Canonical results equal: same columns, same row multiset, floats
    within one rounding unit."""
    (gc, gr), (wc, wr) = got, want
    if not gr and not wr:  # an empty JSON list carries no column names
        return True
    return gc == wc and len(gr) == len(wr) and all(_close(a, b) for a, b in zip(gr, wr))
