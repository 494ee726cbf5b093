"""Query-surface operators: vector search, similar search, text search,
listing, stats and counts.

Reference endpoints: src/endpoints/vectorSearch.get.ts,
similarSearch.get.ts, search.get.ts, games.get.ts, stats.get.ts and CLI
countGames.ts. The reference loads both JSON datasets wholesale per
request and scores in a JS loop; here each search is one Spark-SQL
statement. Vector and similar search rank over a *scoring frame*
(`scoring_df`):

  embeddings LEFT JOIN games, once: the six returned game columns, a
  has_game flag, each vector's norm and the popularity factor
  -> cosine * popularity -> ORDER BY ... LIMIT :k -> WHERE has_game

The HTTP API passes the corpus snapshot's cached frame (corpus.py), so a
vector search is one Spark job and a similar search two; the registry
and the CLI pass an uncached frame over the parquet scans. Filtering on
has_game after the LIMIT keeps the reference's slice-then-drop order
(vectorSearch.get.ts:154-168), which can return fewer than k rows. User
text, k and ids travel as named parameter markers (`:q`, `:k`), never
formatted into the SQL text.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..sources import tables

GAME_COLS = ["universeId", "rootPlaceId", "name", "description", "gameplayDescription", "playerCount"]
_OUT = ", ".join(GAME_COLS)

# min(0.2, playerCount/500) + 0.8 — reference search.get.ts:120-121,
# vectorSearch.get.ts:141-142 (missing playerCount counts as 0)
POPULARITY_SQL = "(least(0.2, CAST(coalesce({pc}, 0) AS DOUBLE) / 500.0) + 0.8)"

_SCORING_SQL = f"""
SELECT e.universeId, g.rootPlaceId, g.name, g.description, g.gameplayDescription, g.playerCount,
       g.universeId IS NOT NULL AS has_game, e.embedding,
       {V.norm_expr_sql("e.embedding")} AS norm,
       {POPULARITY_SQL.format(pc="g.playerCount")} AS pop
FROM {{emb}} e LEFT JOIN {{games}} g ON g.universeId = e.universeId
"""

def _sql(text: str, args: dict, **frames: DataFrame) -> DataFrame:
    """`spark.sql(text, args)` with each `{name}` slot of the (constant)
    text bound to a DataFrame through a temp view for the analysis.
    The views are dropped through the session catalog: Catalog.
    dropTempView (what spark.sql's own DataFrame kwargs use) would also
    uncache the frame a view was made from, i.e. the corpus snapshot."""
    spark = next(iter(frames.values())).sparkSession
    names = {slot: f"_rvs_{slot}_{uuid.uuid4().hex}" for slot in frames}
    for slot, df in frames.items():
        df.createOrReplaceTempView(names[slot])
    try:
        return spark.sql(text.format(**names), args=args)
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)

def scoring_df(games_df: DataFrame, emb_df: DataFrame) -> DataFrame:
    """Every embedding row with what ranking and the response need."""
    return _sql(_SCORING_SQL, {}, emb=emb_df, games=games_df)

def _top_k(
    scoring: DataFrame, cosine: str, source: str, args: dict, limit: int, hint: str = ""
) -> DataFrame:
    """Rank `source` (rows `s` of the scoring frame) by rounded cosine x
    popularity, cut k, then drop ids with no game row."""
    text = f"""
SELECT {_OUT}, similarity FROM (
  SELECT {hint} s.*, round(({cosine}) * s.pop, 6) AS similarity FROM {source}
  ORDER BY similarity DESC NULLS LAST, universeId LIMIT :k
) WHERE has_game
"""
    k = max(1, min(100, limit))  # clamp, vectorSearch.get.ts:84-90
    return _sql(text, {**args, "k": k}, scoring=scoring)

def vector_search_df(scoring: DataFrame, query_vec: list[float], limit: int = 10) -> DataFrame:
    """Semantic search over a scoring frame — shared by the fixture
    registry query, the CLI and the HTTP API.

    The query vector enters the plan as a literal array (numbers only,
    so it is safe in the SQL text); its norm constant-folds.

    Deliberate deviation: similarity is rounded to 6dp BEFORE top-k
    ranking (the reference sorts unrounded and rounds after slicing,
    vectorSearch.get.ts:189-198). Rounding first quantizes float noise
    so Spark and the DuckDB oracle — whose summation orders differ in
    the last bits — agree on near-tie ordering, with universeId as the
    deterministic tie-break. At 6dp the rank inversion window is ~1e-6,
    far below embedding noise."""
    cosine = V.cosine_expr_sql("s.embedding", V.vector_lit_spark_sql(query_vec), norm_a="s.norm")
    source = "{scoring} s WHERE size(s.embedding) = :dim"  # P11 guard, search.ts:74-76
    return _top_k(scoring, cosine, source, {"dim": len(query_vec)}, limit)

def vector_search(
    spark: SparkSession, sf_dir: str, query_text: str = "deep space mining adventure", limit: int = 10
) -> DataFrame:
    """Semantic search (vectorSearch.get.ts:72-168). The query embedding
    is computed once, before planning."""
    return vector_search_df(
        scoring_df(tables.games(spark, sf_dir), tables.game_embeddings(spark, sf_dir)),
        V.embed_query(query_text),
        limit,
    )

def vector_search_oracle(query_text: str = "deep space mining adventure", limit: int = 10) -> str:
    limit = max(1, min(100, limit))
    qv = V.vector_sql_literal(V.embed_query(query_text))
    cos = V.cosine_sql("e.embedding", "q.qv")
    pop = POPULARITY_SQL.format(pc="g.playerCount")
    return tables.with_domain_views(f"""
, q AS (SELECT {qv} AS qv)
, scored AS (
    SELECT e.universeId, round({cos} * {pop}, 6) AS similarity
    FROM game_embeddings e CROSS JOIN q
    LEFT JOIN games g ON g.universeId = e.universeId
    WHERE len(e.embedding) = 64
)
, topk AS (
    SELECT * FROM scored ORDER BY similarity DESC NULLS LAST, universeId LIMIT {limit}
)
SELECT g.universeId, g.rootPlaceId, g.name, g.description, g.gameplayDescription,
       g.playerCount, t.similarity
FROM topk t JOIN games g ON g.universeId = t.universeId
""")

def similar_search_df(scoring: DataFrame, target: int, limit: int = 10) -> DataFrame:
    """Item-to-item similarity (similarSearch.get.ts:104-159): seed
    vector from the stored embedding of `target`, score everything else
    (J8 self-exclusion), boost, top-k, drop ids with no game row.

    The target side is one row, broadcast against the frame — a
    degenerate broadcast-nested-loop join, the right physical plan for
    one-vs-all at any scale. A missing target yields no rows."""
    cosine = V.cosine_expr_sql("s.embedding", "q.qv", norm_a="s.norm", norm_b="q.qnorm")
    source = (
        "{scoring} s CROSS JOIN (SELECT embedding AS qv, norm AS qnorm FROM {scoring}"
        " WHERE universeId = :target) q WHERE s.universeId <> :target"
    )
    return _top_k(scoring, cosine, source, {"target": int(target)}, limit, "/*+ BROADCAST(q) */")

def similar_search(spark: SparkSession, sf_dir: str, target: int = 7, limit: int = 10) -> DataFrame:
    return similar_search_df(
        scoring_df(tables.games(spark, sf_dir), tables.game_embeddings(spark, sf_dir)), target, limit
    )

def similar_search_oracle(target: int = 7, limit: int = 10) -> str:
    limit = max(1, min(100, limit))
    cos = V.cosine_sql("e.embedding", "q.qv")
    pop = POPULARITY_SQL.format(pc="g.playerCount")
    return tables.with_domain_views(f"""
, q AS (SELECT embedding AS qv FROM game_embeddings WHERE universeId = {target})
, scored AS (
    SELECT e.universeId, round({cos} * {pop}, 6) AS similarity
    FROM game_embeddings e CROSS JOIN q
    LEFT JOIN games g ON g.universeId = e.universeId
    WHERE e.universeId <> {target}
)
, topk AS (
    SELECT * FROM scored ORDER BY similarity DESC NULLS LAST, universeId LIMIT {limit}
)
SELECT g.universeId, g.rootPlaceId, g.name, g.description, g.gameplayDescription,
       g.playerCount, t.similarity
FROM topk t JOIN games g ON g.universeId = t.universeId
""")

# ---------------------------------------------------------------------------
# Text search (search.get.ts:104-202) — pure Catalyst, zero UDFs.
# ---------------------------------------------------------------------------

_WS = r"'\\s+'"  # Spark-SQL literal of the regex \s+

def _overlap_sql(col: str) -> str:
    """F6: fraction of query words contained in at least one word of the
    text (search.get.ts:143-152)."""
    return (
        f"CAST(size(filter(split(:q, {_WS}), w -> exists(split(lower({col}), {_WS}),"
        f" t -> contains(t, w)))) AS DOUBLE) / :nq"
    )

def _present(col: str) -> str:
    return f"{col} IS NOT NULL AND trim({col}) <> ''"

_TEXT_SQL = f"""
SELECT {_OUT}, matchType, round(base_score * {POPULARITY_SQL.format(pc="playerCount")}, 2) AS score
FROM (
  SELECT *,
    CASE
      WHEN contains(lower(name), :q) THEN
        100.0D + CASE WHEN lower(name) = :q THEN 50.0D
                      WHEN startswith(lower(name), :q) THEN 25.0D ELSE 0.0D END
      WHEN {_present("description")} AND contains(lower(description), :q) THEN
        50.0D + {_overlap_sql("description")} * 20.0D
      WHEN {_present("gameplayDescription")} AND contains(lower(gameplayDescription), :q) THEN
        25.0D + {_overlap_sql("gameplayDescription")} * 15.0D
    END AS base_score,
    CASE
      WHEN contains(lower(name), :q) THEN 'title'
      WHEN {_present("description")} AND contains(lower(description), :q) THEN 'description'
      WHEN {_present("gameplayDescription")} AND contains(lower(gameplayDescription), :q)
        THEN 'gameplayDescription'
    END AS matchType
  FROM {{games}}
)
WHERE base_score IS NOT NULL
ORDER BY score DESC NULLS LAST, universeId LIMIT :k
"""

def text_search_df(games_df: DataFrame, q: str = "blue rod", limit: int = 10) -> DataFrame:
    """F7 scoring cascade, first-match-wins priority title > description
    > gameplayDescription (search.get.ts:123-187), popularity boost,
    2-decimal rounding (F10), top-k."""
    ql = q.lower()
    args = {"q": ql, "nq": float(max(1, len(ql.split()))), "k": max(1, min(100, limit))}
    return _sql(_TEXT_SQL, args, games=games_df)

def text_search(spark: SparkSession, sf_dir: str, q: str = "blue rod", limit: int = 10) -> DataFrame:
    return text_search_df(tables.games(spark, sf_dir), q, limit)

def text_search_oracle(q: str = "blue rod", limit: int = 10) -> str:
    limit = max(1, min(100, limit))
    ql = q.lower().replace("'", "''")
    n_qwords = max(1, len(q.lower().split()))
    pop = POPULARITY_SQL.format(pc="playerCount")

    def overlap(col: str) -> str:
        return (
            f"(CAST(len(list_filter(string_split_regex('{ql}', '\\s+'), "
            f"w -> len(list_filter(string_split_regex(lower({col}), '\\s+'), "
            f"t -> contains(t, w))) > 0)) AS DOUBLE) / {float(n_qwords)})"
        )

    return tables.with_domain_views(f"""
, scored AS (
  SELECT *,
    CASE
      WHEN contains(lower(name), '{ql}') THEN
        100.0 + CASE WHEN lower(name) = '{ql}' THEN 50.0
                     WHEN starts_with(lower(name), '{ql}') THEN 25.0 ELSE 0.0 END
      WHEN description IS NOT NULL AND trim(description) <> ''
           AND contains(lower(description), '{ql}') THEN
        50.0 + {overlap('description')} * 20.0
      WHEN gameplayDescription IS NOT NULL AND trim(gameplayDescription) <> ''
           AND contains(lower(gameplayDescription), '{ql}') THEN
        25.0 + {overlap('gameplayDescription')} * 15.0
    END AS base_score,
    CASE
      WHEN contains(lower(name), '{ql}') THEN 'title'
      WHEN description IS NOT NULL AND trim(description) <> ''
           AND contains(lower(description), '{ql}') THEN 'description'
      WHEN gameplayDescription IS NOT NULL AND trim(gameplayDescription) <> ''
           AND contains(lower(gameplayDescription), '{ql}') THEN 'gameplayDescription'
    END AS matchType
  FROM games
)
SELECT universeId, rootPlaceId, name, description, gameplayDescription, playerCount,
       matchType, round(base_score * {pop}, 2) AS score
FROM scored WHERE base_score IS NOT NULL
ORDER BY score DESC NULLS LAST, universeId LIMIT {limit}
""")

# ---------------------------------------------------------------------------
# Listing / stats / counts
# ---------------------------------------------------------------------------

def list_games_df(games_df: DataFrame, limit: int | None = 50) -> DataFrame:
    g = games_df.select("universeId", "name", "rootPlaceId")
    out = g.orderBy(F.expr("collate(name, 'UNICODE')"), "universeId")
    return out.limit(limit) if limit else out

def list_games(spark: SparkSession, sf_dir: str, limit: int | None = 50) -> DataFrame:
    """GET /games (games.get.ts:63-66): name-sorted listing in the
    reference's ICU localeCompare order. Spark's `collate(name,
    'UNICODE')` (ICU root collation, Spark >= 4.0) gives the same total
    order as DuckDB's ICU `en_us` collation — checked on a mixed
    case/accent/ß/CJK sample (tests/test_collation.py) and by the
    oracle. universeId breaks exact ties so the LIMIT cut is
    deterministic in both engines."""
    return list_games_df(tables.games(spark, sf_dir), limit)

def list_games_oracle(limit: int | None = 50) -> str:
    lim = f" LIMIT {limit}" if limit else ""
    return tables.with_domain_views(
        f'SELECT universeId, name, rootPlaceId FROM games ORDER BY name COLLATE "en_us", universeId{lim}'
    )

def count_games_df(games_df: DataFrame) -> DataFrame:
    """CLI countGames (countGames.ts:10-17): total + conditional counts.
    Single pass, three count_ifs — map-side partial aggregation."""
    g = games_df
    has = lambda c: F.col(c).isNotNull() & (F.trim(c) != "")
    return g.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(has("description")).alias("with_description"),
        F.count_if(has("gameplayDescription")).alias("with_gameplay_description"),
    )

def count_games(spark: SparkSession, sf_dir: str) -> DataFrame:
    return count_games_df(tables.games(spark, sf_dir))

def count_games_oracle() -> str:
    return tables.with_domain_views("""
SELECT CAST(count(*) AS BIGINT) AS total,
       CAST(count(*) FILTER (description IS NOT NULL AND trim(description) <> '') AS BIGINT) AS with_description,
       CAST(count(*) FILTER (gameplayDescription IS NOT NULL AND trim(gameplayDescription) <> '') AS BIGINT) AS with_gameplay_description
FROM games
""")

def stats_df(games_df: DataFrame, emb_df: DataFrame) -> DataFrame:
    """GET /stats (stats.get.ts:45-113): corpus completeness. The
    missing-embeddings metric is a left-anti probe; expressed as a
    broadcast-able existence join then count_if so the whole thing is
    one aggregation pass over games."""
    g = games_df
    emb_ids = emb_df.select("universeId").distinct()
    lacking = lambda c: F.col(c).isNull() | (F.trim(c) == "")
    joined = g.join(
        emb_ids.withColumn("has_embedding", F.lit(1)), "universeId", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("total_games"),
        F.count_if(lacking("description")).alias("lacking_description"),
        F.count_if(lacking("gameplayDescription")).alias("lacking_gameplay_description"),
        F.count_if(F.col("playerCount").isNull()).alias("lacking_player_count"),
        F.count_if(F.col("has_embedding").isNull()).alias("lacking_embeddings"),
    )

def stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats_df(tables.games(spark, sf_dir), tables.game_embeddings(spark, sf_dir))

def stats_oracle() -> str:
    return tables.with_domain_views("""
SELECT CAST(count(*) AS BIGINT) AS total_games,
       CAST(count(*) FILTER (description IS NULL OR trim(description) = '') AS BIGINT) AS lacking_description,
       CAST(count(*) FILTER (gameplayDescription IS NULL OR trim(gameplayDescription) = '') AS BIGINT) AS lacking_gameplay_description,
       CAST(count(*) FILTER (playerCount IS NULL) AS BIGINT) AS lacking_player_count,
       CAST(count(*) FILTER (e.universeId IS NULL) AS BIGINT) AS lacking_embeddings
FROM games g LEFT JOIN (SELECT DISTINCT universeId FROM game_embeddings) e
  ON g.universeId = e.universeId
""")
