"""Pins the games listing's name order against non-ASCII names:
`list_games_df` sorts by ICU root collation (collate(name, 'UNICODE')),
the reference's localeCompare order, equal to DuckDB's ICU "en_us". A
collation or Spark upgrade that shifts the order fails here before it
can silently change which rows a LIMIT keeps."""

from __future__ import annotations

import duckdb
import pytest

from roblox_vector_search_datagen_spark.operators import search
from roblox_vector_search_datagen_spark.schemas import GAME_SCHEMA

NAMES = ["zebra", "Ängstrom", "éclair", "Apple Pie", "apple pie", "ß-test", "ss-test", "日本語", "123 go"]

@pytest.fixture(scope="module")
def games_df(spark):
    rows = [(i + 1, 1000 + i, n, None, None, None) for i, n in enumerate(NAMES)]
    return spark.createDataFrame(rows, GAME_SCHEMA)

ICU_ORDER = ["123 go", "Ängstrom", "apple pie", "Apple Pie", "éclair", "ss-test", "ß-test", "zebra", "日本語"]

def test_default_listing_uses_icu_order(games_df):
    # the LIMIT cut keeps the first rows of the ICU order, not of the
    # bytewise one (which would keep "Apple Pie" and drop "Ängstrom")
    got = [r.name for r in search.list_games_df(games_df, limit=3).collect()]
    assert got == ICU_ORDER[:3]

def test_unicode_order_pinned(games_df):
    got = [r.name for r in search.list_games_df(games_df, limit=None).collect()]
    # ICU root: numerics first, case-insensitive primary with lowercase
    # before uppercase at tertiary, accents sort next to their base
    assert got == ICU_ORDER

def test_unicode_order_matches_duckdb_icu(games_df):
    got = [r.name for r in search.list_games_df(games_df).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE g(n VARCHAR)")
    con.executemany("INSERT INTO g VALUES (?)", [(n,) for n in NAMES])
    want = [r[0] for r in con.execute('SELECT n FROM g ORDER BY n COLLATE "en_us"').fetchall()]
    assert got == want
