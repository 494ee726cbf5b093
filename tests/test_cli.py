"""CLI command surface over a Corpus in tmpdir, all HTTP through a
canned in-process transport (no network). Covers the gather family,
enrichment stages, prune/count/clear, search commands, and the
composite processGamesFromSearch pipeline."""

from __future__ import annotations

import functools
import json
import os
import uuid
from collections import Counter
from urllib.parse import parse_qs, urlparse

import pytest

from roblox_vector_search_datagen_spark import cli
from roblox_vector_search_datagen_spark.corpus import Corpus
from roblox_vector_search_datagen_spark.schemas import EMBEDDING_SCHEMA, GAME_SCHEMA

class FakeRoblox:
    """Picklable transport: routes the reference's public API shapes.
    State (call log) lives driver-side only; executor copies are fresh
    — fine, responses are pure functions of the URL."""

    def __call__(self, method: str, url: str, headers: dict, body: bytes | None):
        u = urlparse(url)
        q = parse_qs(u.query)
        if "get-sorts" in u.path:
            if "sortsPageToken" not in u.query:
                return 200, json.dumps(
                    {
                        "sorts": [
                            {
                                "contentType": "Games",
                                "games": [
                                    {"universeId": 1, "rootPlaceId": 11, "name": "renamed alpha"},
                                    {"universeId": 100, "rootPlaceId": 110, "name": "fresh game"},
                                ],
                            },
                            {"contentType": "Ads", "games": [{"universeId": 999}]},
                        ],
                        "nextSortsPageToken": "p2",
                    }
                ).encode()
            return 200, json.dumps(
                {
                    "sorts": [
                        {
                            "contentType": "Games",
                            "games": [
                                {"universeId": 101, "rootPlaceId": 111, "name": "page two game"},
                                {"universeId": 101, "rootPlaceId": 112, "name": "page two dup"},
                            ],
                        }
                    ]
                }
            ).encode()
        if "omni-search" in u.path:
            return 200, json.dumps(
                {
                    "searchResults": [
                        {
                            "contentGroupType": "Game",
                            "contents": [
                                {
                                    "universeId": 2,
                                    "rootPlaceId": 22,
                                    "name": "renamed beta",
                                    "playerCount": 450,
                                },
                                {
                                    "universeId": 200,
                                    "rootPlaceId": 220,
                                    "name": "searched game",
                                    "playerCount": 7,
                                },
                            ],
                        },
                        {"contentGroupType": "Other", "contents": [{"universeId": 999}]},
                    ]
                }
            ).encode()
        if u.path == "/games" and u.netloc == "rolimons.com":
            html = (
                "<script>var games = {\"31\": {\"name\": \"roli one\"}, "
                "\"32\": {\"name\": \"roli two\"}};document.addEventListener('x');</script>"
            )
            return 200, html.encode()
        if "multiget-place-details" in u.path:
            ids = [int(x) for x in q["placeIds"][0].split(",")]
            if 32 in ids and len(ids) > 1:
                return 400, b'{"errors": [{"message": "bad id"}]}'
            if ids == [32]:
                return 400, b'{"errors": [{"message": "bad id"}]}'
            return 200, json.dumps(
                [
                    {"placeId": pid, "universeId": 300 + pid, "name": f"place {pid}", "description": "from rolimons"}
                    for pid in ids
                ]
            ).encode()
        if "/universe" in u.path:
            pid = int(u.path.split("/")[-2])
            return 200, json.dumps({"universeId": 300 + pid}).encode()
        if u.path == "/v1/games" and u.netloc == "games.roblox.com":
            ids = [int(x) for x in q["universeIds"][0].split(",")]
            data = [
                {"id": i, "description": f"desc for {i}" if i % 2 == 0 else None, "playing": i * 3}
                for i in ids
                if i != 5  # id 5 is never returned -> J3 known-blank marking
            ]
            return 200, json.dumps({"data": data}).encode()
        if "games/icons" in u.path:
            ids = [int(x) for x in q["universeIds"][0].split(",")]
            return 200, json.dumps(
                {
                    "data": [
                        {"targetId": i, "state": "Completed", "imageUrl": f"https://cdn/icon/{i}"}
                        for i in ids
                        if i % 3 != 0  # some icons pending
                    ]
                }
            ).encode()
        if "multiget/thumbnails" in u.path:
            ids = [int(x) for x in q["universeIds"][0].split(",")]
            return 200, json.dumps(
                {
                    "data": [
                        {
                            "universeId": i,
                            "thumbnails": [
                                {"state": "Completed", "imageUrl": f"https://cdn/thumb/{i}"}
                            ],
                        }
                        for i in ids
                    ]
                }
            ).encode()
        if u.netloc == "cdn":
            return 200, f"PNG:{u.path}".encode()
        if u.path.endswith("/chat/completions"):
            payload = json.loads(body)
            title = payload["messages"][1]["content"]
            if isinstance(title, list):
                title = title[0]["text"]
            name = title.split("Title: ")[1].split("\n")[0]
            content = json.dumps(
                {
                    "gameplaySummary": f"You play {name}",
                    "genreTags": ["sim"],
                    "gameFeatures": ["multiplayer"],
                }
            )
            return 200, json.dumps({"choices": [{"message": {"content": content}}]}).encode()
        if u.path.endswith("/embeddings"):
            payload = json.loads(body)
            data = [
                {"embedding": [float(len(t) % 7), 1.0, 0.5]} for t in payload["input"]
            ]
            return 200, json.dumps({"data": data}).encode()
        raise AssertionError(f"unrouted url: {url}")

class CountingRoblox(FakeRoblox):
    """FakeRoblox that appends one JSON line per remote call to `log`.
    The calls run in Python worker processes, so the record is a file."""

    def __init__(self, log: str):
        self.log = log

    def __call__(self, method: str, url: str, headers: dict, body: bytes | None):
        with open(self.log, "a") as f:
            f.write(json.dumps({"url": url, "body": body.decode() if body else None}) + "\n")
        return super().__call__(method, url, headers, body)

def _fetched(log: str) -> Counter:
    """(endpoint, game) -> how many logged calls asked about that game:
    batch lookups count each of their ids, a CDN GET its image path, a
    chat call its game title, an embeddings call each input text."""
    keys: Counter = Counter()
    with open(log) as f:
        for line in f:
            call = json.loads(line)
            u = urlparse(call["url"])
            q = parse_qs(u.query)
            if "universeIds" in q:
                keys.update((u.path, int(i)) for i in q["universeIds"][0].split(","))
            elif u.netloc == "cdn":
                keys[("cdn", u.path)] += 1
            elif u.path.endswith("/chat/completions"):
                user = json.loads(call["body"])["messages"][1]["content"]
                text = user[0]["text"] if isinstance(user, list) else user
                keys[("chat", text.split("Title: ")[1].split("\n")[0])] += 1
            else:
                assert u.path.endswith("/embeddings"), call["url"]
                keys.update(("embeddings", t) for t in json.loads(call["body"])["input"])
    return keys

SEED_GAMES = [
    # (universeId, rootPlaceId, name, description, gameplayDescription, playerCount)
    (1, 10, "alpha", "old desc", "**Gameplay Summary**: a", 100),
    (2, 20, "beta", None, None, None),  # needs description
    (3, 30, "gamma", "has desc", None, 0),  # needs gameplay; zero players
    (4, 40, "delta", "", "", 50),  # known blank
    (5, 50, "epsilon", None, None, 60),  # worklist id the API won't return
    (331, 60, "zeta", "z desc", "**Gameplay Summary**: z", 10),  # rolimons overlap
]

@pytest.fixture()
def corpus(spark, tmp_path):
    c = Corpus(spark, str(tmp_path / "data"))
    c.write_games(spark.createDataFrame(SEED_GAMES, GAME_SCHEMA))
    c.write_embeddings(
        spark.createDataFrame([(1, [1.0, 0.0, 0.5]), (999, [0.1, 0.2, 0.3])], EMBEDDING_SCHEMA)
    )
    return c

def test_gather_games_merge(corpus):
    n = cli.gather_games(corpus, FakeRoblox())
    assert n == 4  # ads row filtered, dup kept in batch
    games = {r["universeId"]: r for r in corpus.games().collect()}
    # matched id 1: name/rootPlaceId updated, rest preserved
    assert games[1]["name"] == "renamed alpha" and games[1]["rootPlaceId"] == 11
    assert games[1]["description"] == "old desc" and games[1]["playerCount"] == 100
    # inserts; intra-batch dup keeps LAST occurrence
    assert games[100]["name"] == "fresh game"
    assert games[101]["name"] == "page two dup" and games[101]["rootPlaceId"] == 112

def test_gather_from_search_updates_player_count(corpus):
    cli.gather_games_from_search(corpus, FakeRoblox(), "tycoon")
    games = {r["universeId"]: r for r in corpus.games().collect()}
    assert games[2]["playerCount"] == 450 and games[2]["name"] == "renamed beta"
    assert games[200]["playerCount"] == 7

def test_gather_rolimons_bisect_and_fallback(corpus):
    n = cli.gather_games_rolimons(corpus, FakeRoblox())
    assert n == 2
    games = {r["universeId"]: r for r in corpus.games().collect()}
    # place 31 via batch API (universe 331 exists -> matched update with description coalesce)
    assert games[331]["name"] == "place 31" and games[331]["description"] == "from rolimons"
    # place 32 rejected by batch API -> per-id universe fallback, scrape name, no description
    assert games[332]["name"] == "roli two" and games[332]["description"] is None

def test_gather_rolimons_retries_429_on_the_page(corpus, monkeypatch):
    """The scraped rolimons.com page goes through the same 429 retry
    loop as the API calls: a 429 is waited out, not parsed."""
    from roblox_vector_search_datagen_spark.sources import http

    monkeypatch.setattr(http, "BACKOFF_SECONDS", 0)
    pages = []

    def transport(method, url, headers, body):
        if url == "https://rolimons.com/games":
            pages.append(url)
            if len(pages) == 1:
                return 429, b"Too Many Requests"
        return FakeRoblox()(method, url, headers, body)

    assert cli.gather_games_rolimons(corpus, transport) == 2
    assert len(pages) == 2

def test_download_descriptions_tristate(corpus):
    n = cli.download_descriptions(corpus, FakeRoblox)
    assert n > 0
    games = {r["universeId"]: r for r in corpus.games().collect()}
    assert games[2]["description"] == "desc for 2" and games[2]["playerCount"] == 6
    # odd ids get JSON null -> known blank ''
    assert games[3]["description"] == "has desc"  # not in worklist (desc+pc present? pc=0 ok)
    # id 5 was requested but not returned -> marked known-blank
    assert games[5]["description"] == ""
    # untouched row
    assert games[1]["description"] == "old desc"
    # rerun is a no-op for returned ids (worklist only keeps still-missing)
    again = cli.download_descriptions(corpus, FakeRoblox)
    games2 = {r["universeId"]: r for r in corpus.games().collect()}
    assert games2[5]["description"] == ""

def test_download_images_skip_existing(corpus):
    n = cli.download_images(corpus, FakeRoblox)
    imgs = {(r["universeId"], r["kind"]): bytes(r["content"]) for r in corpus.images().collect()}
    assert imgs[(1, "icon")] == b"PNG:/icon/1"
    assert imgs[(2, "thumbnail")] == b"PNG:/thumb/2"
    assert (3, "icon") not in imgs  # state pending -> skipped
    assert n == len(imgs)
    # second run only fetches what's still missing, never duplicates
    cli.download_images(corpus, FakeRoblox)
    pairs = corpus.images().groupBy("universeId", "kind").count().filter("count > 1").count()
    assert pairs == 0

def test_download_images_fetches_only_missing_kinds(corpus, tmp_path):
    """A game missing one kind is asked about that kind only: after the
    first run only gamma's icon (pending) is missing, so the second run
    makes one icon lookup and no thumbnail or CDN call."""
    cli.download_images(corpus, FakeRoblox)
    log = str(tmp_path / "again.jsonl")
    assert cli.download_images(corpus, functools.partial(CountingRoblox, log)) == 0
    assert _fetched(log) == Counter({("/v1/games/icons", 3): 1})

def _python_rdd_stages(spark, fn) -> list[int]:
    """Run `fn` under its own job group; the ids of the stages it ran
    whose RDD graph has a PythonRDD node (a list-backed DataFrame)."""
    sc = spark.sparkContext
    group = f"python-rdd-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()

    def scala(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def names(cluster):
        yield cluster.name()
        yield from (n.name() for n in scala(cluster.childNodes()))
        for kid in scala(cluster.childClusters()):
            yield from names(kid)

    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    assert job_ids
    stages = {s for j in job_ids for s in sc.statusTracker().getJobInfo(j).stageIds}
    return [
        s
        for s in sorted(stages)
        if store.lastStageAttempt(s).status().toString() != "SKIPPED"
        and any("PythonRDD" in n for n in names(store.operationGraphForStage(s).rootCluster()))
    ]

def test_gather_and_gameplay_run_no_python_rdd(spark, corpus):
    """Driver-gathered rows and the missing images table are JVM-side
    relations: no stage scans a Python RDD (the MapInPandas fetch is
    the only Python the gameplay command runs)."""
    assert _python_rdd_stages(spark, lambda: cli.gather_games(corpus, FakeRoblox())) == []
    assert not os.path.exists(os.path.join(corpus.data_dir, "images.parquet"))
    gameplay = lambda: cli.generate_gameplay_descriptions(
        corpus, FakeRoblox, base_url="http://llm/v1", model="m"
    )
    assert _python_rdd_stages(spark, gameplay) == []

def test_generate_gameplay_and_embeddings(corpus):
    cli.download_images(corpus, FakeRoblox)
    n = cli.generate_gameplay_descriptions(
        corpus, FakeRoblox, base_url="http://llm/v1", model="m"
    )
    assert n == 1  # only gamma: real description present, gameplay missing
    games = {r["universeId"]: r for r in corpus.games().collect()}
    assert games[3]["gameplayDescription"].startswith("**Gameplay Summary**: You play gamma")
    # delta has known-blank description -> NOT eligible (needs real description)
    assert games[4]["gameplayDescription"] == ""
    before = corpus.embeddings().count()
    added = cli.generate_embeddings(corpus, FakeRoblox, base_url="http://emb/v1", model="m")
    assert added > 0 and corpus.embeddings().count() == before + added
    # idempotent: everything embedded now
    assert cli.generate_embeddings(corpus, FakeRoblox, base_url="http://emb/v1", model="m") == 0

ENRICH = (
    (cli.download_descriptions, {}),
    (cli.download_images, {}),
    (cli.generate_gameplay_descriptions, {"base_url": "http://llm/v1", "model": "m"}),
    (cli.generate_embeddings, {"base_url": "http://emb/v1", "model": "m"}),
)

def test_enrichment_fetches_each_game_once(corpus, tmp_path):
    """At-most-once fetch (the reference's checkpoint saves): each
    enrichment command asks the remote APIs about every worklist game
    exactly once, and returns the exact count of what it wrote."""
    calls = []
    for i, (command, kw) in enumerate(ENRICH):
        log = str(tmp_path / f"calls{i}.jsonl")
        calls.append((command(corpus, functools.partial(CountingRoblox, log), **kw), _fetched(log)))
    gp = {r["universeId"]: r["gameplayDescription"] for r in corpus.games().collect()}
    ids = [1, 2, 3, 4, 5, 331]
    assert calls[0] == (6, Counter({("/v1/games", 2): 1, ("/v1/games", 5): 1}))
    # every thumbnail completes, icon 3 stays pending: 5 icons + 6 thumbnails
    assert calls[1] == (
        11,
        Counter(
            [("/v1/games/icons", i) for i in ids]
            + [("/v1/games/multiget/thumbnails", i) for i in ids]
            + [("cdn", f"/icon/{i}") for i in ids if i % 3]
            + [("cdn", f"/thumb/{i}") for i in ids]
        ),
    )
    # beta got its description above; gamma had one
    assert calls[2] == (2, Counter({("chat", "beta"): 1, ("chat", "gamma"): 1}))
    assert calls[3] == (3, Counter(("embeddings", gp[i]) for i in (2, 3, 331)))

def _listing(root: str) -> list[tuple[str, int, int]]:
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.append((os.path.relpath(os.path.join(d, f), root), st.st_size, st.st_mtime_ns))
    return sorted(out)

def test_empty_worklist_writes_nothing(spark, tmp_path):
    """A command whose worklist is empty returns 0 without a write: no
    file under data_dir changes and the API's cached snapshot survives
    (a 0-row append still writes a part file, a 0-row rewrite still
    swaps the table, and either drops the snapshot)."""
    c = Corpus(spark, str(tmp_path / "data"))
    # no id divisible by 3, so every icon completes and no image is left to fetch
    c.write_games(spark.createDataFrame([g for g in SEED_GAMES if g[0] % 3], GAME_SCHEMA))
    c.write_embeddings(spark.createDataFrame([(1, [1.0, 0.0, 0.5])], EMBEDDING_SCHEMA))
    for command, kw in ENRICH:
        assert command(c, FakeRoblox, **kw) > 0
    snap = c.snapshot()
    snap.games.count()
    before = _listing(c.data_dir)
    for i, (command, kw) in enumerate(ENRICH):
        log = str(tmp_path / f"again{i}.jsonl")
        assert command(c, functools.partial(CountingRoblox, log), **kw) == 0
        assert not os.path.exists(log), command.__name__
        assert _listing(c.data_dir) == before, command.__name__
        assert c._snapshot is snap, command.__name__
    assert cli.clear_gameplay_descriptions(c) == 5

def test_prune_and_counts_and_clear(corpus):
    counts = cli.prune_games(corpus, ["--dry-run"], dry_run=True)
    assert counts["missing embedding"] > 0
    total_before = corpus.games().count()
    cli.prune_games(corpus, [])
    retained = corpus.games().collect()
    assert 0 < len(retained) < total_before
    # orphan embeddings removed (999 had no game)
    emb_ids = {r["universeId"] for r in corpus.embeddings().collect()}
    assert 999 not in emb_ids
    c = cli.count_games(corpus)
    assert c["total"] == len(retained)
    cli.clear_gameplay_descriptions(corpus)
    assert corpus.games().filter("gameplayDescription IS NOT NULL").count() == 0

def test_search_commands(corpus):
    rows = cli.find_similar_games(corpus, 999, limit=5).collect()
    assert [r["universeId"] for r in rows] == [1]  # only id 1 has a game row + embedding
    out = cli.search_games(corpus, "alpha", limit=3)
    assert out.count() == 0  # 3-dim seed vectors vs 64-dim query -> P11 guard filters all

def test_explain_query_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    assert cli.main(["explainQuery", "count_games", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert cli.main(["explainQuery", "no_such_query"]) == 2

def test_optimize_storage_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    assert cli.main(["optimizeStorage", sf_dir, "--buckets", "4"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["buckets"] == 4 and res["games_bucketed"] > 0

def test_optimize_storage_flag_without_sf_dir(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """A leading --flag is not read as the sf_dir: the fixture comes from
    SPARK_GRAFT_SF_DIR."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    assert cli.main(["optimizeStorage", "--buckets", "4"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["buckets"] == 4 and res["games_bucketed"] > 0

@pytest.mark.slow
def test_build_vector_index_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    out = str(tmp_path / "idx")
    assert cli.main(["buildVectorIndex", sf_dir, "--out", out]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert res["ivf_assignments"] == n_vec
    assert res["pq_codes"] == n_vec * 8  # one row per (vector, subspace)
    assert res["ivf_centroids"] > 0
    assert spark.read.parquet(f"{out}/pq_codes.parquet").columns == ["vec_id", "m", "code", "dist"]

@pytest.mark.slow
def test_process_games_from_search_composite(corpus):
    res = cli.process_games_from_search(
        corpus,
        FakeRoblox,
        "obby",
        llm_base_url="http://llm/v1",
        llm_model="m",
        embed_base_url="http://emb/v1",
        embed_model="m",
    )
    assert res["gathered"] == 2
    assert res["descriptions"] > 0
    assert res["gameplay"] > 0 and res["embeddings"] > 0
    games = {r["universeId"]: r for r in corpus.games().collect()}
    assert games[200]["gameplayDescription"].startswith("**Gameplay Summary**")
    emb_ids = {r["universeId"] for r in corpus.embeddings().collect()}
    assert 200 in emb_ids

def test_select_corpus_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    out = str(tmp_path / "tc")
    assert cli.main(["selectCorpus", sf_dir, "--out", out]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert res["documents"] == n_docs
    assert 0 < res["selected"] <= n_docs
    assert res["selected"] <= res["pass_quality"]
    tc = spark.read.parquet(out)
    assert tc.filter("selected AND NOT pass_quality").count() == 0

def test_query_vector_index_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    idx = str(tmp_path / "idx")
    assert cli.main(["buildVectorIndex", sf_dir, "--out", idx]) == 0
    capsys.readouterr()
    assert cli.main([
        "queryVectorIndex", "vector similarity search", sf_dir,
        "--index", idx, "--k", "5", "--nprobe", "16",
    ]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 5
    assert rows[0]["rank"] == 1 and "cosine" in rows[0]

def test_jobs_db_export_import_roundtrip(spark, tmp_path, monkeypatch, capsys):
    """exportJobsDb writes a reference-DDL jobs.db from the job store;
    importJobsDb seeds a fresh store from it; states survive the trip."""
    from roblox_vector_search_datagen_spark.jobs.manager import JobManager

    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    log = str(tmp_path / "data" / "joblog")
    jm = JobManager(spark, log)
    j1 = jm.create_job("gatherGames")
    jm.start_job(j1)
    j2 = jm.create_job("pruneGames")

    assert cli.main(["exportJobsDb"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["jobs"] == 2

    log2 = str(tmp_path / "data" / "joblog2")
    assert cli.main(["importJobsDb", "--log", log2]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["jobs"] == 2
    back = {r["id"]: r.asDict() for r in JobManager(spark, log2).current().collect()}
    orig = {r["id"]: r.asDict() for r in jm.current().collect()}
    # reference DATETIME is second-precision (datetime('now')), so the
    # bridge truncates sub-second parts by design
    for rec in orig.values():
        for c in ("created_at", "started_at", "completed_at"):
            if rec[c] is not None:
                rec[c] = rec[c].replace(microsecond=0)
    assert back == orig

def test_query_vector_index_usage_errors(spark, capsys):
    assert cli.main(["queryVectorIndex"]) == 2
    assert "usage" in capsys.readouterr().err
    assert cli.main(["queryVectorIndex", "q", "--k"]) == 2
    assert "--k requires a value" in capsys.readouterr().err

@pytest.mark.slow
def test_audit_corpus_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    assert cli.main(["auditCorpus", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["cross_split_dups"] <= res["cross_split_candidates"]
    assert set(res["media_dedup"]) == {"image", "audio", "video"}
    for m in res["media_dedup"].values():
        assert m["n_dup_copies"] <= m["n_items"]
        assert (m["bytes_reclaimed"] == 0) == (m["n_dup_copies"] == 0)
    assert res["mixture_sample_rates"]
    assert all(0 < r <= 1.0 for r in res["mixture_sample_rates"].values())
    funnel = res["dedup_funnel"]
    assert funnel["verified_dup_pairs"] <= funnel["lsh_candidate_pairs"]
    assert funnel["near_dup_docs"] <= funnel["corpus_docs"]

def test_audit_embeddings_command(spark, sf_dir, capsys):
    """auditEmbeddings emits the norm contracts, split drift, and IVF
    cell balance as one JSON health report."""
    assert cli.main(["auditEmbeddings", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["all_unit"] is True and res["none_zero"] is True
    assert res["ivf_cells"] > 0
    assert res["ivf_cell_min"] <= res["ivf_cell_max"]
    assert len(res["split_centroid_l2sq"]) == 3
    assert all(v >= 0 for v in res["split_centroid_l2sq"].values())


def test_store_index_and_token_shards_commands(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """The warehouse lifecycle is operable from the CLI: storeIndex
    and storeTokenShards materialize (idempotently) and report the
    stored artifacts; commitIngest retires session caches and rebuilds
    the index."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))
    from roblox_vector_search_datagen_spark.operators import ann as ann_ops

    assert cli.main(["storeIndex", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["assignments"] == ann_ops.IVF_UPSERT_HWM
    assert res["centroids"] == ann_ops.IVF_K
    assert os.path.exists(os.path.join(res["path"], "assignments", "_SUCCESS"))

    assert cli.main(["storeTokenShards", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["shards"] and all(s["n_docs"] >= s["n_seqs"] >= 1 for s in res["shards"])
    assert os.path.exists(os.path.join(res["path"], "_SUCCESS"))

    assert cli.main(["storeTokenizer", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    from roblox_vector_search_datagen_spark.operators import textstats as ts_ops

    assert res["n_merges"] == ts_ops.BPE_MERGES
    assert res["vocab_size"] > 0
    assert os.path.exists(os.path.join(res["path"], "merges", "_SUCCESS"))

    assert cli.main(["commitIngest", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert os.path.exists(os.path.join(res["rebuilt_index"], "assignments", "_SUCCESS"))
    # r9: commitIngest is a VERSIONED commit — the path carries _vN and
    # the CURRENT marker points at it
    import re as _re

    from roblox_vector_search_datagen_spark.functions import warehouse as W

    assert _re.search(r"_v\d+$", res["rebuilt_index"])
    base = _re.sub(r"_v\d+$", "", res["rebuilt_index"])
    assert W.read_current(base) == res["rebuilt_index"]


def test_store_scrub_and_gc_warehouse_commands(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """The r9 warehouse additions are operable from the CLI: storeScrub
    materializes the scrubbed corpus and reports its removal economics;
    gcWarehouse dry-runs by default (nothing deleted), lists every
    entry, and keeps live-tag entries."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))

    assert cli.main(["storeScrub", sf_dir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert os.path.exists(os.path.join(res["path"], "_SUCCESS"))
    assert res["n_docs"] > 0 and res["n_removed"] >= 0
    scrub_name = os.path.basename(res["path"])

    assert cli.main(["gcWarehouse", sf_dir]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["dry_run"] is True
    assert scrub_name in rep["kept"]
    assert any(e["name"] == scrub_name and e["family"] == "scrubbed_corpus"
               for e in rep["entries"])
    # dry run deleted nothing
    assert os.path.exists(res["path"])


def test_audit_tables_and_deletion_impact_commands(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """The governance pair is operable from the CLI: auditTables prints
    the constraint report (and --strict gates on failures — the
    fixtures genuinely violate lineitem's PK, so strict exits 1);
    deletionImpact prints one cascade row per table."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))

    assert cli.main(["auditTables", sf_dir]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_constraints"] == 14
    failed = {(f["table_name"], f["constraint"]) for f in rep["failed"]}
    assert failed == {("lineitem", "pk_unique")}

    assert cli.main(["auditTables", sf_dir, "--strict"]) == 1
    capsys.readouterr()

    assert cli.main(["deletionImpact", sf_dir]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {r["table_name"] for r in rows} == {"customer", "orders", "lineitem", "events"}
    for r in rows:
        assert 0 <= r["n_delete"] <= r["n_rows"]


def test_find_duplicate_images_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """Perceptual image dedup is operable from the CLI: one JSON line
    per duplicate pair, cross-codec pairs present, and --cap 1 drops
    every bucket (the saturation guard observable from the shell)."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))

    assert cli.main(["findDuplicateImages", sf_dir]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows
    assert {"doc_a", "doc_b", "phash", "cross_codec"} <= set(rows[0])
    assert any(r["cross_codec"] for r in rows)

    assert cli.main(["findDuplicateImages", sf_dir, "--cap", "1"]) == 0
    assert capsys.readouterr().out.strip() == ""

    # malformed --cap is a usage error (exit 2 + usage line), not a
    # traceback (r11 advisory): missing value and non-integer value
    assert cli.main(["findDuplicateImages", sf_dir, "--cap"]) == 2
    assert "usage" in capsys.readouterr().err
    assert cli.main(["findDuplicateImages", sf_dir, "--cap", "lots"]) == 2
    assert "usage" in capsys.readouterr().err


def test_find_near_duplicate_images_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """Hamming<=t perceptual near-dups from the shell: pair rows with
    hamming in 1..3 by default, --max-hamming 0 restricts to identical
    hashes, values past the pigeonhole bound are refused (the banded
    join would silently under-report), malformed values exit 2."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))

    assert cli.main(["findNearDuplicateImages", sf_dir]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows and {"doc_a", "doc_b", "hamming"} <= set(rows[0])
    assert {r["hamming"] for r in rows} == {1, 2, 3}

    assert cli.main(["findNearDuplicateImages", sf_dir, "--max-hamming", "0"]) == 0
    assert capsys.readouterr().out.strip() == ""  # near-twin corpus has no identical pair

    assert cli.main(["findNearDuplicateImages", sf_dir, "--max-hamming", "9"]) == 2
    assert "banding" in capsys.readouterr().err
    assert cli.main(["findNearDuplicateImages", sf_dir, "--cap", "x"]) == 2
    assert "usage" in capsys.readouterr().err


def test_audio_stats_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """The audio family from the shell: per-blob profile rows on the
    real arm; --frames switches to the windowed-energy table."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))

    assert cli.main(["audioStats", sf_dir]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows and all(r["arm"] == "real" for r in rows)
    assert all(r["peak"] % 4000 == 0 for r in rows)

    assert cli.main(["audioStats", sf_dir, "--frames"]) == 0
    frames = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert frames and {"doc_id", "frame", "frame_sum_sq"} <= set(frames[0])


def test_find_duplicate_audio_command(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """Loudness-invariant audio dedup from the shell: pair rows with a
    shared fingerprint; --cap 1 drops every bucket; malformed --cap is
    a usage error."""
    monkeypatch.setenv("RVSD_DATA_DIR", str(tmp_path / "data"))

    assert cli.main(["findDuplicateAudio", sf_dir]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows and {"doc_a", "doc_b", "fingerprint"} <= set(rows[0])

    assert cli.main(["findDuplicateAudio", sf_dir, "--cap", "1"]) == 0
    assert capsys.readouterr().out.strip() == ""
    assert cli.main(["findDuplicateAudio", sf_dir, "--cap"]) == 2
    assert "usage" in capsys.readouterr().err
