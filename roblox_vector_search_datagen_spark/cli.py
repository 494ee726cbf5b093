"""CLI command surface: the reference's 13-command registry
(src/lib/commands.ts:15-29) dispatched over the Corpus storage layer.

Every command is a plain function (corpus, transport, args) so tests
inject canned transports; `main()` wires the default stdlib transport
and prints results as JSON lines. The composite processGamesFromSearch
pipeline (processGamesFromSearch.ts:14-27) chains the same functions.

Command -> engine mapping:

    gatherGames                  S5 cursor scan -> J1 merge (gather)
    gatherGamesFromSearch <q>    S6 scan -> J1 merge (search variant)
    gatherGamesRolimons          S7/S8/S9 -> J1 merge (rolimons variant)
    downloadDescriptions         P5 worklist -> S10 mapInPandas -> J2/J3
    downloadImages               P6 anti-join -> S11/S12/S13 mapInPandas
    pruneGames [flags]           P10 cascade + J4 orphan cleanup, --dry-run
    countGames                   A1/A2
    findSimilarGames <id>        J6/J7/J8 similarity top-k
    search <text> [--limit n]    S16 query embed -> vector top-k
    clearGameplayDescriptions    column reset
    generateGameplayDescriptions P7 worklist -> S14 LLM mapInPandas
    generateEmbeddings           P8 worklist -> S15 mapInPandas -> append
    processGamesFromSearch <q>   composite of the above
"""

from __future__ import annotations

import json
import os
import sys
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .corpus import Corpus
from .functions import vector as V
from .operators import maintenance, search
from .operators.maintenance import PRUNE_REASONS
from .schemas import local_df
from .sources import http

NEW_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType(), False),
        T.StructField("rootPlaceId", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("playerCount", T.IntegerType(), True),
        T.StructField("ord", T.LongType(), False),
    ]
)

def _new_batch_df(corpus: Corpus, rows: list[dict]) -> DataFrame:
    """Lift driver-gathered rows into the merge-input shape; `ord` is the
    batch position (keep-last dedup key, gatherGames.ts:89)."""
    return local_df(corpus.spark, [{**r, "ord": i} for i, r in enumerate(rows)], NEW_BATCH_SCHEMA)

# ---------------------------------------------------------------------------
# gather family
# ---------------------------------------------------------------------------

def gather_games(corpus: Corpus, transport: http.Transport) -> int:
    rows = http.gather_games_pages(transport, str(uuid.uuid4()))
    corpus.write_games(maintenance.merge_gather_df(corpus.games(), _new_batch_df(corpus, rows)))
    return len(rows)

def gather_games_from_search(corpus: Corpus, transport: http.Transport, query: str) -> int:
    rows = http.gather_games_from_search(transport, query, str(uuid.uuid4()))
    corpus.write_games(maintenance.merge_search_df(corpus.games(), _new_batch_df(corpus, rows)))
    return len(rows)

def gather_games_rolimons(corpus: Corpus, transport: http.Transport) -> int:
    html = http.request(transport, "GET", "https://rolimons.com/games")
    rows = http.rolimons_rows(transport, html.decode())
    corpus.write_games(maintenance.merge_rolimons_df(corpus.games(), _new_batch_df(corpus, rows)))
    return len(rows)

# ---------------------------------------------------------------------------
# enrichment commands
# ---------------------------------------------------------------------------

def download_descriptions(corpus: Corpus, transport_factory: Callable[[], http.Transport]) -> int:
    """downloadDescriptions.ts:12-79. Returned games take the fetched
    description ('' when the API sent blank/null — known-blank encoding)
    and playerCount; worklist ids the API did NOT return are marked ''
    ONLY when their description was null to begin with (the reference
    nulls only when needsDescription holds, downloadDescriptions.ts:
    66-76) — a game in the worklist purely for a missing playerCount
    keeps its real description (J3). Returns the non-null descriptions
    in the rewritten table."""
    g = corpus.games()
    wl = maintenance.needs_details_df(g).select("universeId")
    if wl.isEmpty():
        return 0
    details = (
        http.enrich_with_game_details(wl, transport_factory)
        .select(
            "universeId",
            F.coalesce(F.col("description"), F.lit("")).alias("n_desc"),
            F.col("playing").alias("n_pc"),
            F.lit(1).alias("_returned"),
        )
    )
    wl_flag = wl.withColumn("_wl", F.lit(1))
    out = (
        g.join(wl_flag, "universeId", "left")
        .join(details, "universeId", "left")
        .select(
            "universeId",
            "rootPlaceId",
            "name",
            F.when(F.col("_returned").isNotNull(), F.col("n_desc"))
            .when(F.col("_wl").isNotNull() & F.col("description").isNull(), F.lit(""))
            .otherwise(F.col("description"))
            .alias("description"),
            "gameplayDescription",
            F.when(F.col("_returned").isNotNull(), F.col("n_pc"))
            .otherwise(F.col("playerCount"))
            .alias("playerCount"),
        )
    )
    obs = Observation()
    corpus.write_games(out.observe(obs, F.count("description").alias("n")))
    return obs.get["n"]

def download_images(corpus: Corpus, transport_factory: Callable[[], http.Transport]) -> int:
    """downloadImages.ts:48-219: worklist of games missing an icon or a
    thumbnail, with one `need_<kind>` flag per kind, fetch only the
    missing binaries, append new rows to the images table. The
    pre-write anti-join keeps Spark task retries idempotent."""
    kinds = ("icon", "thumbnail")
    have = corpus.images().groupBy("universeId").agg(
        *[F.max(F.col("kind") == k).alias(k) for k in kinds]
    )
    wl = (
        corpus.games()
        .select("universeId")
        .join(have, "universeId", "left")
        .select("universeId", *[(~F.coalesce(F.col(k), F.lit(False))).alias(f"need_{k}") for k in kinds])
        .filter(F.col("need_icon") | F.col("need_thumbnail"))
    )
    if wl.isEmpty():
        return 0
    fetched = http.download_images(wl, transport_factory)
    fresh = fetched.join(
        corpus.images().select("universeId", "kind"), ["universeId", "kind"], "left_anti"
    )
    obs = Observation()
    corpus.write_images(fresh.observe(obs, F.count(F.lit(1)).alias("n")), mode="append")
    return obs.get["n"]

def generate_gameplay_descriptions(
    corpus: Corpus,
    transport_factory: Callable[[], http.Transport],
    *,
    base_url: str,
    model: str,
) -> int:
    """generateGameplayDescriptions.ts:27-188: P7 worklist (description
    present, gameplay missing), icon/thumbnail data-URLs attached from
    the images table (F17), LLM struct -> markdown, J2 update."""
    g = corpus.games()
    ok = lambda c: F.col(c).isNotNull() & (F.trim(c) != "")
    wl = g.filter(ok("description") & ~ok("gameplayDescription")).select(
        "universeId", "name", "description"
    )
    if wl.isEmpty():
        return 0
    imgs = corpus.images().select("universeId", "kind", http.base64_image_expr().alias("b64"))
    icon = imgs.filter(F.col("kind") == "icon").select("universeId", F.col("b64").alias("icon_b64"))
    thumb = imgs.filter(F.col("kind") == "thumbnail").select(
        "universeId", F.col("b64").alias("thumb_b64")
    )
    wl = wl.join(icon, "universeId", "left").join(thumb, "universeId", "left")
    obs = Observation()
    descs = (
        http.generate_descriptions(wl, transport_factory, base_url=base_url, model=model)
        .select("universeId", F.col("gameplayDescription").alias("n_gp"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    out = (
        g.join(descs, "universeId", "left")
        .select(
            "universeId",
            "rootPlaceId",
            "name",
            "description",
            F.coalesce(F.col("n_gp"), F.col("gameplayDescription")).alias("gameplayDescription"),
            "playerCount",
        )
    )
    corpus.write_games(out)
    return obs.get["n"]

def generate_embeddings(
    corpus: Corpus,
    transport_factory: Callable[[], http.Transport],
    *,
    base_url: str,
    model: str,
) -> int:
    """generateEmbeddings.ts:24-108: P8 anti-join worklist, batch-10
    embedding calls, append-only sink (idempotent via the worklist)."""
    wl = maintenance.needs_embeddings_df(corpus.games(), corpus.embeddings())
    if wl.isEmpty():
        return 0
    vecs = http.embed_texts(wl, transport_factory, base_url=base_url, model=model)
    obs = Observation()
    corpus.write_embeddings(vecs.observe(obs, F.count(F.lit(1)).alias("n")), mode="append")
    return obs.get["n"]

# ---------------------------------------------------------------------------
# local commands
# ---------------------------------------------------------------------------

PRUNE_FLAG_MAP = {
    "--missing-embeddings": PRUNE_REASONS[0],
    "--zero-players": PRUNE_REASONS[1],
    "--missing-player-count": PRUNE_REASONS[2],
    "--empty-descriptions": PRUNE_REASONS[3],
    "--empty-gameplay-descriptions": PRUNE_REASONS[4],
}

def prune_games(corpus: Corpus, flags: list[str], dry_run: bool = False) -> dict[str, int]:
    """pruneGames.ts:33-241: enabled-flag cascade; --dry-run reports the
    per-reason counts without writing; a real run also drops orphaned
    embedding rows (J4, pruneGames.ts:188-198)."""
    enabled = tuple(PRUNE_FLAG_MAP[f] for f in flags if f in PRUNE_FLAG_MAP) or PRUNE_REASONS
    reasons = maintenance.prune_reason_df(corpus.games(), corpus.embeddings(), enabled)
    counts = {r["prune_reason"]: r["n"] for r in maintenance.prune_counts_df(reasons).collect()}
    if not dry_run:
        retained = maintenance.retained_df(reasons)
        kept_emb = corpus.embeddings().join(
            retained.select("universeId"), "universeId", "left_semi"
        )
        from .schemas import EMBEDDING_SCHEMA, GAME_SCHEMA

        corpus.rewrite_many(
            {
                "games.parquet": retained.select(*[f.name for f in GAME_SCHEMA.fields]),
                "embeddings.parquet": kept_emb.select(*[f.name for f in EMBEDDING_SCHEMA.fields]),
            }
        )
    return counts

def count_games(corpus: Corpus) -> dict:
    return search.count_games_df(corpus.games()).collect()[0].asDict()

def find_similar_games(corpus: Corpus, target: int, limit: int = 10) -> DataFrame:
    return search.similar_search_df(
        search.scoring_df(corpus.games(), corpus.embeddings()), target, limit
    )

def search_games(corpus: Corpus, query: str, limit: int = 10) -> DataFrame:
    """CLI `search` (search.ts:7-108): embed the query (S16 — the
    deterministic local encoder; swap embed_query for a live transport
    call in production) then vector top-k."""
    return search.vector_search_df(
        search.scoring_df(corpus.games(), corpus.embeddings()), V.embed_query(query), limit
    )

def clear_gameplay_descriptions(corpus: Corpus) -> int:
    obs = Observation()
    g = corpus.games().observe(obs, F.count(F.lit(1)).alias("n"))
    corpus.write_games(maintenance.clear_gameplay_df(g))
    return obs.get["n"]

def process_games_from_search(
    corpus: Corpus,
    transport_factory: Callable[[], http.Transport],
    query: str,
    *,
    llm_base_url: str,
    llm_model: str,
    embed_base_url: str,
    embed_model: str,
) -> dict[str, int]:
    """Composite pipeline (processGamesFromSearch.ts:14-27): gather ->
    (descriptions, images) -> LLM gameplay -> embeddings. The reference
    runs descriptions and images concurrently with Promise.all; here
    each stage is its own Spark job and the cluster parallelizes within
    stages — per-stage counts are returned for the timing log parity."""
    out: dict[str, int] = {}
    out["gathered"] = gather_games_from_search(corpus, transport_factory(), query)
    out["descriptions"] = download_descriptions(corpus, transport_factory)
    out["images"] = download_images(corpus, transport_factory)
    out["gameplay"] = generate_gameplay_descriptions(
        corpus, transport_factory, base_url=llm_base_url, model=llm_model
    )
    out["embeddings"] = generate_embeddings(
        corpus, transport_factory, base_url=embed_base_url, model=embed_model
    )
    return out

# ---------------------------------------------------------------------------
# argv dispatch (src/interactive.ts:5-20)
# ---------------------------------------------------------------------------

COMMANDS = (
    "gatherGames",
    "gatherGamesFromSearch",
    "gatherGamesRolimons",
    "downloadImages",
    "downloadDescriptions",
    "pruneGames",
    "countGames",
    "findSimilarGames",
    "search",
    "clearGameplayDescriptions",
    "generateGameplayDescriptions",
    "generateEmbeddings",
    "processGamesFromSearch",
    # extended (beyond the reference's 13): engine introspection + layout
    "explainQuery",
    "optimizeStorage",
    "buildVectorIndex",
    "queryVectorIndex",
    "selectCorpus",
    "auditCorpus",
    "auditEmbeddings",
    "exportJobsDb",
    "importJobsDb",
    "storeIndex",
    "storeTokenShards",
    "storeTokenizer",
    "storeScrub",
    "commitIngest",
    "gcWarehouse",
    "auditTables",
    "deletionImpact",
    "findDuplicateImages",
    "findNearDuplicateImages",
    "audioStats",
    "findDuplicateAudio",
)

def _sf_dir(args: list[str], at: int = 0) -> str:
    """The positional sf_dir at `at`, or $SPARK_GRAFT_SF_DIR when that
    position is missing or holds a `--flag`."""
    if len(args) > at and not args[at].startswith("--"):
        return args[at]
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

def _flag(args: list[str], flag: str, default):
    """The value after `flag` in args, `default` when the flag is
    absent; IndexError when the flag is the last argument."""
    return args[args.index(flag) + 1] if flag in args else default

def _int_flag(args: list[str], flag: str, default: int) -> int | None:
    """Parse `<flag> <int>` from args: `default` when the flag is
    absent, None when its value is missing or not an integer (the
    caller prints its usage line and exits 2). One definition for
    every pair-search command's cap/threshold flags."""
    try:
        return int(_flag(args, flag, default))
    except (IndexError, ValueError):
        return None


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv or argv[0] not in COMMANDS:
        print(f"usage: cli <command> [args]; commands: {', '.join(COMMANDS)}", file=sys.stderr)
        return 2
    from .session import get_spark

    cmd, args = argv[0], argv[1:]
    spark = get_spark(f"rvsd-cli-{cmd}")
    corpus = Corpus(spark, os.environ.get("RVSD_DATA_DIR", "data"))
    corpus.init_empty()
    tf = lambda: http.urllib_transport
    llm = os.environ.get("RVSD_LLM_BASE_URL", "http://localhost:11434/v1")
    emb = os.environ.get("RVSD_EMBED_BASE_URL", llm)

    def show(df: DataFrame, ranked: bool = False) -> None:
        for i, row in enumerate(df.collect(), 1):
            d = row.asDict()
            if ranked:  # T7 1-based rank column (findSimilarGames.ts:63)
                d = {"rank": i, **d}
            print(json.dumps(d, default=str))

    if cmd == "gatherGames":
        print(gather_games(corpus, tf()))
    elif cmd == "gatherGamesFromSearch":
        print(gather_games_from_search(corpus, tf(), args[0]))
    elif cmd == "gatherGamesRolimons":
        print(gather_games_rolimons(corpus, tf()))
    elif cmd == "downloadDescriptions":
        print(download_descriptions(corpus, tf))
    elif cmd == "downloadImages":
        print(download_images(corpus, tf))
    elif cmd == "pruneGames":
        print(json.dumps(prune_games(corpus, args, dry_run="--dry-run" in args)))
    elif cmd == "countGames":
        print(json.dumps(count_games(corpus)))
    elif cmd == "findSimilarGames":
        show(find_similar_games(corpus, int(args[0])), ranked=True)
    elif cmd == "search":
        limit = int(_flag(args, "--limit", 10))
        show(search_games(corpus, args[0], limit), ranked=True)
    elif cmd == "clearGameplayDescriptions":
        print(clear_gameplay_descriptions(corpus))
    elif cmd == "generateGameplayDescriptions":
        print(generate_gameplay_descriptions(corpus, tf, base_url=llm, model="local"))
    elif cmd == "generateEmbeddings":
        print(generate_embeddings(corpus, tf, base_url=emb, model="local"))
    elif cmd == "exportJobsDb":
        # copy the job store under --log to a reference-format
        # data/jobs.db (byte-level DDL parity, second-precision
        # timestamps — the reference can open the file directly;
        # usage: exportJobsDb [--log dir] [--db path])
        from .jobs.manager import JobManager
        from .sources import sqlite_jobs

        log = _flag(args, "--log", os.path.join(corpus.data_dir, "joblog"))
        db = _flag(args, "--db", os.path.join(corpus.data_dir, "jobs.db"))
        n = sqlite_jobs.write_jobs_db(JobManager(spark, log).current(), db)
        print(json.dumps({"db": db, "jobs": n}))
    elif cmd == "importJobsDb":
        # load a reference data/jobs.db snapshot into the job store
        # under --log (usage: importJobsDb [--db path] [--log dir])
        from .jobs.manager import JobManager
        from .sources import sqlite_jobs

        db = _flag(args, "--db", os.path.join(corpus.data_dir, "jobs.db"))
        log = _flag(args, "--log", os.path.join(corpus.data_dir, "joblog"))
        n = JobManager(spark, log).seed_from(sqlite_jobs.read_jobs_db(spark, db))
        print(json.dumps({"log": log, "jobs": n}))
    elif cmd == "explainQuery":
        # physical-plan introspection for any registry query: the tool a
        # cluster operator uses to confirm pushdown/broadcast before a
        # 100 TB run (usage: explainQuery <name> [sf_dir])
        from .plans.registry import QUERIES

        name = args[0]
        if name not in QUERIES:
            print(f"unknown query {name!r}; known: {', '.join(sorted(QUERIES))}", file=sys.stderr)
            return 2
        sf_dir = _sf_dir(args, at=1)
        QUERIES[name].builder(spark, sf_dir).explain("formatted")
    elif cmd == "optimizeStorage":
        # co-bucket the corpus tables on the join key so every later
        # games<->embeddings equi-join is exchange-free (plans/bucketing)
        from .plans import bucketing

        sf_dir = _sf_dir(args)
        buckets = int(_flag(args, "--buckets", 32))
        g, e = bucketing.cobucket_corpus(spark, sf_dir, buckets=buckets)
        print(json.dumps({"games_bucketed": g.count(), "game_embeddings_bucketed": e.count(), "buckets": buckets}))
    elif cmd == "buildVectorIndex":
        # bulk index build: materialize the offline ANN artifacts (IVF
        # assignments + one Lloyd-updated centroid set + PQ codes) as
        # parquet — the batch job a 100 TB deployment schedules after
        # each embedding refresh (usage: buildVectorIndex [sf_dir]
        # [--out dir])
        from .operators import ann

        sf_dir = _sf_dir(args)
        out = _flag(args, "--out", os.path.join(corpus.data_dir, "vector_index"))
        counts = {}
        for name, df in (
            ("ivf_assignments", ann.ivf_assignments(spark, sf_dir)),
            ("ivf_centroids", ann.ivf_centroid_update(spark, sf_dir)),
            ("pq_codes", ann.pq_codes(spark, sf_dir)),
        ):
            df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
            counts[name] = spark.read.parquet(os.path.join(out, f"{name}.parquet")).count()
        print(json.dumps({"out": out, **counts}))
    elif cmd == "queryVectorIndex":
        # online half of buildVectorIndex: serve a top-k query from the
        # persisted IVF artifacts without recomputing assignments
        # (usage: queryVectorIndex <query> [sf_dir] [--index dir]
        # [--k n] [--nprobe n])
        from .operators import ann

        usage = (
            "usage: queryVectorIndex <query> [sf_dir] [--index dir]"
            " [--k n] [--nprobe n]"
        )
        if not args or args[0].startswith("--"):
            print(usage, file=sys.stderr)
            return 2
        for flag in ("--index", "--k", "--nprobe"):
            if flag in args and args.index(flag) + 1 >= len(args):
                print(f"{flag} requires a value\n{usage}", file=sys.stderr)
                return 2
        qtext = args[0]
        sf_dir = _sf_dir(args, at=1)
        idx = _flag(args, "--index", os.path.join(corpus.data_dir, "vector_index"))
        topk = int(_flag(args, "--k", 20))
        nprobe = int(_flag(args, "--nprobe", 2))
        show(ann.ann_query_index(spark, idx, sf_dir, qtext, topk, nprobe), ranked=True)
    elif cmd == "selectCorpus":
        # run the composed training-corpus selection pipeline, write the
        # per-document audit table, and print the per-stage funnel — the
        # batch job that publishes a training corpus cut (usage:
        # selectCorpus [sf_dir] [--out dir])
        from .operators import textprep

        sf_dir = _sf_dir(args)
        out = _flag(args, "--out", os.path.join(corpus.data_dir, "training_corpus"))
        tc = textprep.training_corpus(spark, sf_dir)
        tc.write.mode("overwrite").parquet(out)
        tc = spark.read.parquet(out)  # count stages off the written artifact
        funnel = tc.agg(
            F.count(F.lit(1)).alias("documents"),
            F.sum(F.col("pass_lang").cast("int")).alias("pass_lang"),
            F.sum(F.col("pass_quality").cast("int")).alias("pass_quality"),
            F.sum(F.col("is_canonical").cast("int")).alias("is_canonical"),
            F.sum(F.col("contaminated").cast("int")).alias("contaminated"),
            F.sum(F.col("selected").cast("int")).alias("selected"),
        ).collect()[0]
        print(json.dumps({"out": out, **{k: int(v) for k, v in funnel.asDict().items()}}))
    elif cmd == "auditCorpus":
        # one-shot corpus health report: split-boundary near-dup
        # leakage, binary media dedup accounting, and the per-source
        # mixture plan — the audit a pipeline runs before (and after)
        # publishing a corpus cut (usage: auditCorpus [sf_dir])
        from .operators import dedup as dedup_ops
        from .operators import multimodal as mm
        from .operators import textprep as tp

        sf_dir = _sf_dir(args)
        leak = dedup_ops.split_leakage(spark, sf_dir)
        n_leak = leak.count()
        n_leak_dups = leak.filter("is_dup").count()
        media = {
            r["media_type"]: {
                "n_items": int(r["n_items"]),
                "n_dup_copies": int(r["n_dup_copies"]),
                "bytes_reclaimed": int(r["bytes_reclaimed"]),
            }
            for r in mm.media_dedup(spark, sf_dir).collect()
        }
        plan = {
            r["source"]: round(float(r["sample_rate"]), 6)
            for r in tp.mixture_plan(spark, sf_dir).collect()
        }
        funnel = {
            r["stage"]: int(r["n"])
            for r in dedup_ops.dedup_funnel_report(spark, sf_dir).collect()
        }
        print(
            json.dumps(
                {
                    "cross_split_candidates": int(n_leak),
                    "cross_split_dups": int(n_leak_dups),
                    "dedup_funnel": funnel,
                    "media_dedup": media,
                    "mixture_sample_rates": plan,
                },
                sort_keys=True,
            )
        )
    elif cmd == "auditEmbeddings":
        # one-shot embedding-table health report: per-label norm
        # contracts, split-centroid drift, and IVF cell balance — the
        # checks an index build asserts before burning a rebuild
        # (usage: auditEmbeddings [sf_dir])
        from .operators import ann as ann_ops

        sf_dir = _sf_dir(args)
        norms = {
            int(r["label"]): {
                "n": int(r["n"]),
                "all_unit": bool(r["all_unit"]),
                "none_zero": bool(r["none_zero"]),
            }
            for r in ann_ops.embedding_norm_audit(spark, sf_dir).collect()
        }
        drift = {
            f'{r["split_a"]}->{r["split_b"]}': round(float(r["l2_sq"]), 6)
            for r in ann_ops.split_centroid_drift(spark, sf_dir).collect()
        }
        cells = ann_ops.ivf_cluster_quality(spark, sf_dir).collect()
        sizes = [int(r["n_members"]) for r in cells]
        print(
            json.dumps(
                {
                    "labels": norms,
                    "all_unit": all(v["all_unit"] for v in norms.values()),
                    "none_zero": all(v["none_zero"] for v in norms.values()),
                    "split_centroid_l2sq": drift,
                    "ivf_cells": len(sizes),
                    "ivf_cell_min": min(sizes) if sizes else 0,
                    "ivf_cell_max": max(sizes) if sizes else 0,
                },
                sort_keys=True,
            )
        )
    elif cmd == "storeIndex":
        # warehouse half of the index lifecycle: materialize/refresh
        # the content-addressed stored IVF index the serve queries
        # (index_lifecycle_report, ivf_staleness_stored) read
        # (usage: storeIndex [sf_dir] [--rebuild])
        from .operators import ann as ann_ops

        sf_dir = _sf_dir(args)
        path = ann_ops.ivf_index_store(spark, sf_dir, rebuild="--rebuild" in args)
        print(
            json.dumps(
                {
                    "path": path,
                    "assignments": spark.read.parquet(
                        os.path.join(path, "assignments")
                    ).count(),
                    "centroids": spark.read.parquet(
                        os.path.join(path, "centroids")
                    ).count(),
                }
            )
        )
    elif cmd == "storeTokenShards":
        # warehouse half of the tokenizer lifecycle: materialize/refresh
        # the shard-partitioned stored encode and print the per-shard
        # loader manifest served FROM the stored rows
        # (usage: storeTokenShards [sf_dir] [--rebuild])
        from .operators import textstats as ts_ops

        sf_dir = _sf_dir(args)
        path = ts_ops.token_shards_store(spark, sf_dir, rebuild="--rebuild" in args)
        manifest = [
            {k: int(v) for k, v in r.asDict().items()}
            for r in ts_ops.stored_shard_report(spark, sf_dir).orderBy("shard").collect()
        ]
        print(json.dumps({"path": path, "shards": manifest}))
    elif cmd == "storeTokenizer":
        # warehouse half of the tokenizer build: train (if absent) and
        # store the merge list + vocabulary — the artifact every later
        # session's encode/upsert serves from without retraining
        # (usage: storeTokenizer [sf_dir] [--rebuild])
        from .operators import textstats as ts_ops

        sf_dir = _sf_dir(args)
        path = ts_ops.bpe_tokenizer_store(spark, sf_dir, rebuild="--rebuild" in args)
        print(
            json.dumps(
                {
                    "path": path,
                    "n_merges": len(ts_ops.stored_bpe_merges(spark, sf_dir)),
                    "vocab_size": spark.read.parquet(
                        os.path.join(path, "vocab")
                    ).count(),
                }
            )
        )
    elif cmd == "storeScrub":
        # warehouse half of the substring-dedup funnel: materialize/
        # refresh the scrubbed corpus and print the removal economics
        # served FROM the stored rows
        # (usage: storeScrub [sf_dir] [--rebuild])
        from .operators import textprep as tp_ops

        sf_dir = _sf_dir(args)
        path = tp_ops.scrub_store(spark, sf_dir, rebuild="--rebuild" in args)
        rep = tp_ops.scrub_stored_report(spark, sf_dir)
        agg = rep.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_removed").alias("n_removed"),
            F.sum("ws_tokens").alias("ws_tokens"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "path": path,
                    "n_docs": int(agg.n_docs),
                    "n_removed": int(agg.n_removed),
                    "ws_tokens": int(agg.ws_tokens),
                }
            )
        )
    elif cmd == "auditTables":
        # snapshot validation gate: run the declarative constraint
        # pass and exit non-zero if any constraint fails — the check a
        # training job runs before trusting a snapshot
        # (usage: auditTables [sf_dir] [--strict])
        from .operators import audit as audit_ops

        sf_dir = _sf_dir(args)
        rows = audit_ops.constraint_audit(spark, sf_dir).collect()
        failed = [r.asDict() for r in rows if not r.passed]
        print(
            json.dumps(
                {
                    "n_constraints": len(rows),
                    "n_failed": len(failed),
                    "failed": failed,
                },
                default=str,
            )
        )
        if failed and "--strict" in args:
            return 1
    elif cmd == "deletionImpact":
        # right-to-be-forgotten planner: size the cascade before the
        # tombstone write (usage: deletionImpact [sf_dir])
        from .operators import audit as audit_ops

        sf_dir = _sf_dir(args)
        show(audit_ops.deletion_impact(spark, sf_dir))
    elif cmd == "findDuplicateImages":
        # perceptual image dedup: list the resized/re-encoded duplicate
        # pairs of the media corpus by average-hash collision — the
        # image twin of the text near-dup commands (usage:
        # findDuplicateImages [sf_dir] [--cap n])
        from .operators import multimodal as mm_ops

        sf_dir = _sf_dir(args)
        cap = _int_flag(args, "--cap", mm_ops.PHASH_BUCKET_CAP)
        if cap is None:
            print("usage: findDuplicateImages [sf_dir] [--cap n]", file=sys.stderr)
            return 2
        show(mm_ops.media_phash_dup_pairs(spark, sf_dir, bucket_cap=cap))
    elif cmd == "findNearDuplicateImages":
        # Hamming<=t perceptual near-dups — the crops/brightness
        # edits identical-hash dedup misses (usage:
        # findNearDuplicateImages [sf_dir] [--max-hamming t] [--cap n])
        from .operators import multimodal as mm_ops

        sf_dir = _sf_dir(args)
        usage = "usage: findNearDuplicateImages [sf_dir] [--max-hamming t] [--cap n]"
        t = _int_flag(args, "--max-hamming", mm_ops.PHASH_NEAR_MAX_HAMMING)
        cap = _int_flag(args, "--cap", mm_ops.PHASH_BUCKET_CAP)
        if t is None or cap is None:
            print(usage, file=sys.stderr)
            return 2
        if not 0 <= t <= mm_ops.PHASH_NEAR_MAX_HAMMING:
            # past the pigeonhole bound the banded join is no longer
            # complete — refuse, don't under-report
            print(
                f"--max-hamming must be 0..{mm_ops.PHASH_NEAR_MAX_HAMMING} "
                f"(4x16 banding is only complete to {mm_ops.PHASH_NEAR_MAX_HAMMING})",
                file=sys.stderr,
            )
            return 2
        show(
            mm_ops.media_phash_near_dup_pairs(
                spark, sf_dir, max_hamming=t, band_cap=cap
            )
        )
    elif cmd == "audioStats":
        # per-blob acoustic profile over REAL decoded PCM (usage:
        # audioStats [sf_dir] [--frames])
        from .operators import multimodal as mm_ops

        sf_dir = _sf_dir(args)
        if "--frames" in args:
            show(mm_ops.audio_frame_energy(spark, sf_dir))
        else:
            show(mm_ops.audio_features(spark, sf_dir))
    elif cmd == "findDuplicateAudio":
        # loudness-invariant audio duplicate pairs by sign-fingerprint
        # collision (usage: findDuplicateAudio [sf_dir] [--cap n])
        from .operators import multimodal as mm_ops

        sf_dir = _sf_dir(args)
        cap = _int_flag(args, "--cap", mm_ops.PHASH_BUCKET_CAP)
        if cap is None:
            print("usage: findDuplicateAudio [sf_dir] [--cap n]", file=sys.stderr)
            return 2
        show(mm_ops.audio_dup_pairs(spark, sf_dir, bucket_cap=cap))
    elif cmd == "commitIngest":
        # the continuous-ingestion commit step as an operational
        # command: clear every sf_dir-keyed memo and persisted cache,
        # rebuild the stored index (usage: commitIngest [sf_dir])
        from .streaming.vectors import commit_ingest_batch

        sf_dir = _sf_dir(args)
        print(json.dumps({"rebuilt_index": commit_ingest_batch(spark, sf_dir)}))
    elif cmd == "gcWarehouse":
        # warehouse janitor: list every stored entry (family, tag,
        # params, version, size, mtime) and collect the ones no live
        # fixture root can be served from — regenerated fixtures mint a
        # new content tag per round, so superseded entries and
        # non-CURRENT index versions accumulate until this runs
        # (usage: gcWarehouse [--collect] [live_root ...]; default is a
        # dry-run listing over SPARK_GRAFT_SF_DIR's parent's sf* dirs)
        import glob as _glob

        from .functions import warehouse as wh

        collect = "--collect" in args
        roots = [a for a in args if not a.startswith("--")]
        if not roots:
            roots = sorted(_glob.glob(os.path.join(os.path.dirname(_sf_dir(args)), "sf*")))
        report = wh.gc_warehouse(roots, dry_run=not collect)
        print(
            json.dumps(
                {
                    "live_roots": roots,
                    "dry_run": not collect,
                    **report,
                    "entries": [
                        {k: v for k, v in e.items() if k != "path"}
                        for e in wh.list_entries()
                    ],
                }
            )
        )
    elif cmd == "processGamesFromSearch":
        print(
            json.dumps(
                process_games_from_search(
                    corpus,
                    tf,
                    args[0],
                    llm_base_url=llm,
                    llm_model="local",
                    embed_base_url=emb,
                    embed_model="local",
                )
            )
        )
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
