"""Corpus-maintenance operators: merge/upsert (three reference
variants), prune, incremental worklists, keep-last dedup, and the jobs
metadata queries.

The reference merges by building id->row Maps and looping
(gatherGames.ts:55-91); here the same semantics are a full-outer-shaped
pair of joins that Catalyst executes as hash joins, with window
functions for the batch-order dedup:

* matched ids update from the FIRST new-batch occurrence
  (`games.find`, gatherGames.ts:66)
* unmatched new ids insert the LAST occurrence (`new Map(...)` keep-
  last, gatherGames.ts:89)

At scale both joins shuffle-partition on universeId; the insert
anti-join reuses the same partitioning, so the whole merge is one
exchange of each side.

Each pipeline rule (the three merges, the details and embeddings
worklists, the prune tally, the gameplay reset) is written once, as a
frame-taking `*_df` function. The registry builders call it over the
fixture tables, where its oracle checks it, and the CLI commands call
it over the live corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import tables

GAME_COLS = ["universeId", "rootPlaceId", "name", "description", "gameplayDescription", "playerCount"]

# ---------------------------------------------------------------------------
# J1 merge/upsert — three field-preservation variants
# ---------------------------------------------------------------------------

_NEW_COLS = ("rootPlaceId", "name", "description", "playerCount")

def _merge(existing: DataFrame, new: DataFrame, matched_updates: dict[str, object]) -> DataFrame:
    """Shared J1 skeleton. matched_updates maps column -> expression
    (built from n_* columns) applied when the id exists in both.

    Intra-batch duplicate ids collapse in ONE aggregation: min_by(ord)
    gives the first occurrence (the `games.find` probe that feeds
    matched updates, gatherGames.ts:66), max_by(ord) the last (the
    `new Map(...)` keep-last that wins inserts, gatherGames.ts:89).
    The matched left join and the insert anti-join both hash on
    universeId off the same aggregated exchange, and no global sort is
    taken — canonical universeId order is the JSON exporter's concern
    (jsonio.write_games_json), not the merge's."""
    pack = F.struct(*[F.col(c) for c in _NEW_COLS])
    new_agg = new.groupBy("universeId").agg(
        F.min_by(pack, F.col("ord")).alias("_f"),
        F.max_by(pack, F.col("ord")).alias("_l"),
    )
    new_first = new_agg.select(
        F.col("universeId").alias("n_universeId"),
        *[F.col(f"_f.{c}").alias(f"n_{c}") for c in _NEW_COLS],
    )
    matched = existing.join(
        new_first, existing["universeId"] == new_first["n_universeId"], "left"
    )
    hit = F.col("n_universeId").isNotNull()
    updated = matched.select(
        F.col("universeId"),
        *[
            F.when(hit, matched_updates[c]).otherwise(F.col(c)).alias(c)
            if c in matched_updates
            else F.col(c)
            for c in GAME_COLS[1:]
        ],
    )
    inserts = (
        new_agg.join(existing.select("universeId"), "universeId", "left_anti")
        .select(
            "universeId",
            F.col("_l.rootPlaceId").alias("rootPlaceId"),
            F.col("_l.name").alias("name"),
            F.col("_l.description").alias("description"),
            F.lit(None).cast("string").alias("gameplayDescription"),
            F.col("_l.playerCount").alias("playerCount"),
        )
    )
    return updated.unionByName(inserts)

def merge_gather_df(existing: DataFrame, new: DataFrame) -> DataFrame:
    """gatherGames variant (gatherGames.ts:63-91): matched rows take
    name + rootPlaceId from new, keep everything else."""
    return _merge(existing, new, {"name": F.col("n_name"), "rootPlaceId": F.col("n_rootPlaceId")})

def merge_search_df(existing: DataFrame, new: DataFrame) -> DataFrame:
    """gatherGamesFromSearch variant (gatherGamesFromSearch.ts:68-77):
    additionally overwrites playerCount unconditionally (JS sets
    `playerCount: newGame.playerCount` even when undefined)."""
    return _merge(
        existing,
        new,
        {
            "name": F.col("n_name"),
            "rootPlaceId": F.col("n_rootPlaceId"),
            "playerCount": F.col("n_playerCount"),
        },
    )

def merge_rolimons_df(existing: DataFrame, new: DataFrame) -> DataFrame:
    """gatherGamesRolimons variant (gatherGamesRolimons.ts:234-239):
    description = new ?? existing (nullish coalesce)."""
    return _merge(
        existing,
        new,
        {
            "name": F.col("n_name"),
            "rootPlaceId": F.col("n_rootPlaceId"),
            "description": F.coalesce(F.col("n_description"), F.col("description")),
        },
    )

def merge_games_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_gather_df(tables.games(spark, sf_dir), tables.new_games(spark, sf_dir))

def merge_games_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_search_df(tables.games(spark, sf_dir), tables.new_games(spark, sf_dir))

def merge_games_rolimons(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_rolimons_df(tables.games(spark, sf_dir), tables.new_games(spark, sf_dir))

# The merge oracle is kept as (CTE fragment, SELECT fragment) pieces so
# downstream oracles (snapshot_diff) can embed a whole merge run as one
# nested-WITH CTE instead of duplicating the SQL.
_MERGE_CTES = """new_first AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY universeId ORDER BY ord ASC) AS rn
        FROM new_games
    ) WHERE rn = 1
),
new_last AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY universeId ORDER BY ord DESC) AS rn
        FROM new_games
    ) WHERE rn = 1
)"""

def _merge_select(update_cols: str) -> str:
    return f"""SELECT g.universeId,
       {update_cols}
FROM games g LEFT JOIN new_first n ON g.universeId = n.universeId
UNION ALL
SELECT n.universeId, n.rootPlaceId, n.name, n.description,
       CAST(NULL AS VARCHAR) AS gameplayDescription, n.playerCount
FROM new_last n WHERE n.universeId NOT IN (SELECT universeId FROM games)"""

def _merge_oracle(update_cols: str) -> str:
    return tables.with_domain_views(f"""
, {_MERGE_CTES}
{_merge_select(update_cols)}
""")

_GATHER_UPDATE_COLS = """
       CASE WHEN n.universeId IS NOT NULL THEN n.rootPlaceId ELSE g.rootPlaceId END AS rootPlaceId,
       CASE WHEN n.universeId IS NOT NULL THEN n.name ELSE g.name END AS name,
       g.description, g.gameplayDescription, g.playerCount"""

def merge_games_gather_oracle() -> str:
    return _merge_oracle(_GATHER_UPDATE_COLS)

def merge_games_search_oracle() -> str:
    return _merge_oracle("""
       CASE WHEN n.universeId IS NOT NULL THEN n.rootPlaceId ELSE g.rootPlaceId END AS rootPlaceId,
       CASE WHEN n.universeId IS NOT NULL THEN n.name ELSE g.name END AS name,
       g.description, g.gameplayDescription,
       CASE WHEN n.universeId IS NOT NULL THEN n.playerCount ELSE g.playerCount END AS playerCount""")

def merge_games_rolimons_oracle() -> str:
    return _merge_oracle("""
       CASE WHEN n.universeId IS NOT NULL THEN n.rootPlaceId ELSE g.rootPlaceId END AS rootPlaceId,
       CASE WHEN n.universeId IS NOT NULL THEN n.name ELSE g.name END AS name,
       CASE WHEN n.universeId IS NOT NULL THEN coalesce(n.description, g.description) ELSE g.description END AS description,
       g.gameplayDescription, g.playerCount""")

# ---------------------------------------------------------------------------
# P10 prune + A5 counters
# ---------------------------------------------------------------------------

PRUNE_REASONS = (
    "missing embedding",
    "zero players",
    "missing playerCount",
    "empty description",
    "empty gameplayDescription",
)

def prune_reason_df(
    games_df: DataFrame, emb_df: DataFrame, flags: tuple[str, ...] = PRUNE_REASONS
) -> DataFrame:
    """games + first-match prune reason (short-circuit cascade order,
    pruneGames.ts:152-186), restricted to the enabled `flags` (the CLI's
    per-reason switches, pruneGames.ts:33-102). Reason NULL = retained."""
    empty = lambda c: F.col(c).isNull() | (F.trim(c) == "")  # hasEmptyText, pruneGames.ts:104-106
    preds = {
        PRUNE_REASONS[0]: F.col("_has_emb").isNull(),
        PRUNE_REASONS[1]: F.col("playerCount") == 0,
        PRUNE_REASONS[2]: F.col("playerCount").isNull(),
        PRUNE_REASONS[3]: empty("description"),
        PRUNE_REASONS[4]: empty("gameplayDescription"),
    }
    g = games_df
    if PRUNE_REASONS[0] in flags:
        emb_ids = emb_df.select("universeId").distinct()
        g = g.join(emb_ids.withColumn("_has_emb", F.lit(1)), "universeId", "left")
    else:
        g = g.withColumn("_has_emb", F.lit(1))
    reason = F.lit(None).cast("string")
    for name in reversed([f for f in PRUNE_REASONS if f in flags]):
        reason = F.when(preds[name], name).otherwise(reason)
    return g.withColumn("prune_reason", reason).drop("_has_emb")

def _prune_reason(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prune_reason_df(
        tables.games(spark, sf_dir), tables.game_embeddings(spark, sf_dir)
    )

def _prune_reason_sql(src: str) -> str:
    """The five-reason short-circuit CASE over any games-shaped relation
    `src` — parameterized so snapshot_diff can prune a merged snapshot
    with the identical cascade."""
    return f"""
SELECT g.*,
  CASE
    WHEN e.universeId IS NULL THEN 'missing embedding'
    WHEN g.playerCount = 0 THEN 'zero players'
    WHEN g.playerCount IS NULL THEN 'missing playerCount'
    WHEN g.description IS NULL OR trim(g.description) = '' THEN 'empty description'
    WHEN g.gameplayDescription IS NULL OR trim(g.gameplayDescription) = '' THEN 'empty gameplayDescription'
  END AS prune_reason
FROM {src} g
LEFT JOIN (SELECT DISTINCT universeId FROM game_embeddings) e ON g.universeId = e.universeId
"""

_PRUNE_REASON_SQL = _prune_reason_sql("games")

def retained_df(reasons: DataFrame) -> DataFrame:
    """The games of a `prune_reason_df` frame that no enabled reason
    prunes, without the reason column."""
    return reasons.filter(F.col("prune_reason").isNull()).drop("prune_reason")

def prune_games(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained games with all five local prune flags enabled."""
    return retained_df(_prune_reason(spark, sf_dir))

def prune_games_oracle() -> str:
    return tables.with_domain_views(
        f", reasons AS ({_PRUNE_REASON_SQL}) "
        "SELECT universeId, rootPlaceId, name, description, gameplayDescription, playerCount "
        "FROM reasons WHERE prune_reason IS NULL"
    )

def prune_counts_df(reasons: DataFrame) -> DataFrame:
    """Per-reason tallies of a `prune_reason_df` frame (`--dry-run`
    report, pruneGames.ts:142-150,238-241)."""
    return (
        reasons.filter(F.col("prune_reason").isNotNull())
        .groupBy("prune_reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )

def prune_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prune_counts_df(_prune_reason(spark, sf_dir))

def prune_counts_oracle() -> str:
    return tables.with_domain_views(
        f", reasons AS ({_PRUNE_REASON_SQL}) "
        "SELECT prune_reason, CAST(count(*) AS BIGINT) AS n "
        "FROM reasons WHERE prune_reason IS NOT NULL GROUP BY prune_reason"
    )

def orphan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: embeddings whose game row was pruned away
    (pruneGames.ts:188-198 — checked against the POST-prune game set).
    Returns surviving embedding ids."""
    retained = prune_games(spark, sf_dir).select("universeId")
    return tables.game_embeddings(spark, sf_dir).join(retained, "universeId", "left_semi").select(
        "universeId"
    )

def orphan_embeddings_oracle() -> str:
    return tables.with_domain_views(
        f", reasons AS ({_PRUNE_REASON_SQL}) "
        "SELECT e.universeId FROM game_embeddings e "
        "WHERE e.universeId IN (SELECT universeId FROM reasons WHERE prune_reason IS NULL)"
    )

# ---------------------------------------------------------------------------
# Snapshot diff (CDC audit of one full maintenance cycle)
# ---------------------------------------------------------------------------

def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style audit of one full maintenance cycle — the games table
    BEFORE vs AFTER gather-merge (gatherGames.ts:55-91) followed by
    prune (pruneGames.ts:142-198). The reference only ever overwrites
    games.json in place; this is the change ledger an operator reads to
    see what a maintenance run actually did before trusting the new
    snapshot.

    One row per universeId present in either snapshot, minus the
    unchanged majority:

    * ``added``   — inserted by the merge and retained by prune
    * ``removed`` — existed before, pruned away after
    * ``changed`` — retained with at least one column different

    plus per-column ``*_changed`` flags (SQL ``IS DISTINCT FROM``
    semantics — a NULL->value transition counts). Merge-inserted rows
    that prune immediately drops never existed in either visible
    snapshot and produce no row.

    Scale shape: old and new snapshots both hash-partition on
    universeId for the single full-outer join; the merge + prune
    subtree reuses that same key end-to-end, so the whole audit is the
    merge's exchanges plus exactly one more join — no global sort, no
    driver loop. The `unchanged` majority is filtered before any
    collection, so output size tracks the churn rate, not the corpus.
    """
    old = tables.games(spark, sf_dir)
    merged = merge_games_gather(spark, sf_dir)
    new = retained_df(prune_reason_df(merged, tables.game_embeddings(spark, sf_dir)))
    o = old.select([F.col(c).alias(f"o_{c}") for c in GAME_COLS])
    n = new.select([F.col(c).alias(f"n_{c}") for c in GAME_COLS])
    j = o.join(n, o["o_universeId"] == n["n_universeId"], "full_outer")
    diff_cols = GAME_COLS[1:]
    changed = {c: ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}")) for c in diff_cols}
    any_changed = F.lit(False)
    for c in diff_cols:
        any_changed = any_changed | changed[c]
    status = (
        F.when(F.col("o_universeId").isNull(), F.lit("added"))
        .when(F.col("n_universeId").isNull(), F.lit("removed"))
        .when(any_changed, F.lit("changed"))
    )
    return (
        j.select(
            F.coalesce("o_universeId", "n_universeId").alias("universeId"),
            status.alias("status"),
            *[changed[c].alias(f"{c}_changed") for c in diff_cols],
        )
        .filter(F.col("status").isNotNull())
    )

def snapshot_diff_oracle() -> str:
    flags = ",\n       ".join(
        f"o.{c} IS DISTINCT FROM n.{c} AS {c}_changed" for c in GAME_COLS[1:]
    )
    any_changed = " OR ".join(f"o.{c} IS DISTINCT FROM n.{c}" for c in GAME_COLS[1:])
    return tables.with_domain_views(f"""
, merged AS (
  WITH {_MERGE_CTES}
  {_merge_select(_GATHER_UPDATE_COLS)}
),
merged_reasons AS ({_prune_reason_sql("merged")}),
new_snap AS (
  SELECT universeId, rootPlaceId, name, description, gameplayDescription, playerCount
  FROM merged_reasons WHERE prune_reason IS NULL
),
diff AS (
  SELECT COALESCE(o.universeId, n.universeId) AS universeId,
       CASE WHEN o.universeId IS NULL THEN 'added'
            WHEN n.universeId IS NULL THEN 'removed'
            WHEN {any_changed} THEN 'changed'
       END AS status,
       {flags}
  FROM games o FULL OUTER JOIN new_snap n ON o.universeId = n.universeId
)
SELECT * FROM diff WHERE status IS NOT NULL
""")

# ---------------------------------------------------------------------------
# Incremental worklists (P4/P5/P6/P8)
# ---------------------------------------------------------------------------

def needs_details_df(games: DataFrame) -> DataFrame:
    """downloadDescriptions worklist (downloadDescriptions.ts:15-29):
    the games rows with needsDescription (never-fetched NULL; known-blank
    '' is excluded — tri-state encoding) OR needsPlayerCount."""
    return games.filter(F.col("description").isNull() | F.col("playerCount").isNull())

def needs_details_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return needs_details_df(tables.games(spark, sf_dir)).select("universeId", "name")

def needs_details_worklist_oracle() -> str:
    return tables.with_domain_views(
        "SELECT universeId, name FROM games WHERE description IS NULL OR playerCount IS NULL"
    )

def missing_images_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 skip-existing (downloadImages.ts:48-58): games with no icon
    file — a left-anti join against the image listing instead of a
    per-row filesystem probe."""
    g = tables.games(spark, sf_dir).select("universeId")
    icons = tables.images(spark, sf_dir).filter(F.col("kind") == "icon").select("universeId")
    return g.join(icons, "universeId", "left_anti")

def missing_images_worklist_oracle() -> str:
    return tables.with_domain_views(
        "SELECT universeId FROM games WHERE universeId NOT IN "
        "(SELECT universeId FROM images WHERE kind = 'icon')"
    )

def needs_embeddings_df(games: DataFrame, emb: DataFrame) -> DataFrame:
    """P7/P8 (generateEmbeddings.ts:24-40): the games rows with a usable
    gameplayDescription but no embedding row — the LLM/embedding
    enrich stages are driven by this anti-join, which is what makes
    re-runs idempotent."""
    return games.filter(
        F.col("gameplayDescription").isNotNull() & (F.trim("gameplayDescription") != "")
    ).join(emb.select("universeId"), "universeId", "left_anti")

def needs_embeddings_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return needs_embeddings_df(
        tables.games(spark, sf_dir), tables.game_embeddings(spark, sf_dir)
    ).select("universeId", "name")

def needs_embeddings_worklist_oracle() -> str:
    return tables.with_domain_views(
        "SELECT universeId, name FROM games "
        "WHERE gameplayDescription IS NOT NULL AND trim(gameplayDescription) <> '' "
        "AND universeId NOT IN (SELECT universeId FROM game_embeddings)"
    )

# ---------------------------------------------------------------------------
# T2 keep-last dedup (standalone) + jobs queries (A4/T6/F20)
# ---------------------------------------------------------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 keep-last semantics over a real change stream: latest event
    per user_id with deterministic (ts, event_id) ordering."""
    e = tables.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )

def latest_event_per_user_oracle() -> str:
    return """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

def jobs_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (jobManager.ts:218-243): SELECT status, COUNT(*) GROUP BY."""
    return tables.jobs(spark, sf_dir).groupBy("status").agg(F.count(F.lit(1)).alias("n"))

def jobs_by_status_oracle() -> str:
    return tables.with_domain_views(
        "SELECT status, CAST(count(*) AS BIGINT) AS n FROM jobs GROUP BY status"
    )

def jobs_page(spark: SparkSession, sf_dir: str, limit: int = 100, offset: int = 100) -> DataFrame:
    """T6 limit/offset paging, newest first (jobManager.ts:93-102).
    Spark has no OFFSET pushdown on DataFrames — a row_number window
    over the (created_at, id) sort expresses it; at scale the sort is
    a single TakeOrderedAndProject of offset+limit rows."""
    limit = max(1, min(1000, limit))
    w = Window.orderBy(F.col("created_at").desc(), F.col("id").desc())
    return (
        tables.jobs(spark, sf_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > offset) & (F.col("_rn") <= offset + limit))
        .drop("_rn")
    )

def jobs_page_oracle(limit: int = 100, offset: int = 100) -> str:
    limit = max(1, min(1000, limit))
    return tables.with_domain_views(
        f"SELECT * FROM jobs ORDER BY created_at DESC, id DESC LIMIT {limit} OFFSET {offset}"
    )

def old_jobs(spark: SparkSession, sf_dir: str, days: int = 30) -> DataFrame:
    """deleteOldJobs (jobManager.ts:209-216): completed/failed jobs
    older than a cutoff. The reference uses now(); for determinism the
    cutoff is max(created_at) - N days, computed as a broadcast scalar
    subquery, not a driver collect."""
    j = tables.jobs(spark, sf_dir)
    cutoff = j.agg(F.date_sub(F.max("created_at"), days).alias("cutoff"))
    return (
        j.crossJoin(F.broadcast(cutoff))
        .filter(F.col("status").isin("completed", "failed") & (F.col("created_at") < F.col("cutoff")))
        .select("id", "command", "status", "created_at")
    )

def old_jobs_oracle(days: int = 30) -> str:
    return tables.with_domain_views(f"""
SELECT id, command, status, created_at FROM jobs
WHERE status IN ('completed', 'failed')
  AND created_at < (SELECT CAST(max(created_at) AS DATE) - INTERVAL {days} DAY FROM jobs)
""")

# ---------------------------------------------------------------------------
# clearGameplayDescriptions — column reset
# ---------------------------------------------------------------------------

def clear_gameplay_df(games: DataFrame) -> DataFrame:
    """clearGameplayDescriptions (clearGameplayDescriptions.ts:14-16):
    reset every game's gameplayDescription to never-fetched (the
    reference deletes the key -> undefined; engine encoding NULL).
    A pure projection — no shuffle, the column rewrite is map-side."""
    return games.withColumn("gameplayDescription", F.lit(None).cast("string"))

def clear_gameplay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clear_gameplay_df(tables.games(spark, sf_dir))

def clear_gameplay_oracle() -> str:
    return tables.with_domain_views("""
SELECT universeId, rootPlaceId, name, description,
       CAST(NULL AS VARCHAR) AS gameplayDescription, playerCount
FROM games
""")
