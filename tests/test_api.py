"""API parity layer: all 12 endpoints, param clamping, schema
validation, async-job lifecycle, and the per-version read snapshot:
invalidation on every write, bounded cached state, one-job plans."""

from __future__ import annotations

import os
import time
import uuid

import pytest

from roblox_vector_search_datagen_spark.api import ApiError, ApiService
from roblox_vector_search_datagen_spark.corpus import Corpus
from roblox_vector_search_datagen_spark.jobs.manager import JobManager
from roblox_vector_search_datagen_spark.operators import search
from roblox_vector_search_datagen_spark.schemas import EMBEDDING_SCHEMA, GAME_SCHEMA
from roblox_vector_search_datagen_spark.sources import tables

from .oracle_utils import compare_spark_duckdb, duckdb_run, normalize
from .test_cli import SEED_GAMES, FakeRoblox

@pytest.fixture()
def svc(spark, tmp_path):
    corpus = Corpus(spark, str(tmp_path / "data"))
    corpus.write_games(spark.createDataFrame(SEED_GAMES, GAME_SCHEMA))
    corpus.write_embeddings(
        spark.createDataFrame([(1, [1.0, 0.0, 0.5]), (999, [0.1, 0.2, 0.3])], EMBEDDING_SCHEMA)
    )
    s = ApiService(
        corpus,
        JobManager(spark, str(tmp_path / "joblog")),
        transport_factory=lambda: FakeRoblox(),
    )
    yield s
    s.shutdown()

def test_endpoint_registry_complete(svc):
    assert len(svc.endpoints) == 12
    assert sum(1 for m, _ in svc.endpoints if m == "POST") == 5

def test_get_games_sorted(svc):
    rows = svc.get_games()
    assert [r["name"] for r in rows] == sorted(r["name"] for r in rows)
    assert set(rows[0]) == {"universeId", "name", "rootPlaceId"}
    assert len(svc.get_games(limit=2)) == 2

def test_search_endpoints_validate(svc):
    with pytest.raises(ApiError) as e:
        svc.get_search("")
    assert e.value.status == 400
    rows = svc.get_search("alpha")
    assert rows and rows[0]["matchType"] == "title"
    with pytest.raises(ApiError):
        svc.get_search("x", limit="NaN")
    # limit clamped to 1..100, not errored
    assert isinstance(svc.get_search("a", limit=10_000), list)

def test_vector_and_similar_search(svc):
    assert svc.get_vector_search("castle") == []  # dim guard: 3-dim corpus vs 64-dim query
    rows = svc.get_similar_search(999)
    assert [r["universeId"] for r in rows] == [1]
    assert rows[0]["similarity"] is not None
    with pytest.raises(ApiError) as e:
        svc.get_similar_search(12345)
    assert e.value.status == 404

def test_stats(svc):
    s = svc.get_stats()
    assert s["total_games"] == 6
    assert s["lacking_embeddings"] == 5  # only universe 1 has an embedding

@pytest.mark.slow
def test_async_job_roundtrip(svc):
    resp = svc.post_gather_games()
    jid = resp["jobId"]
    assert resp["status"] == "pending"
    for _ in range(120):
        job = svc.get_job(jid)
        if job["status"] in ("completed", "failed"):
            break
        time.sleep(1)
    assert job["status"] == "completed", job.get("error")
    assert job["result"] == "4"  # four gathered rows (same fixture as test_cli)
    listed = svc.get_jobs()
    assert any(j["id"] == jid for j in listed)
    with pytest.raises(ApiError) as e:
        svc.get_job("missing")
    assert e.value.status == 404

def test_openapi_spec(svc):
    spec = svc.openapi_spec()
    ops = [(m, p) for p, methods in spec["paths"].items() for m in methods]
    assert len(ops) == 12
    assert "/similar-search/{universeId}" in spec["paths"]
    assert spec["paths"]["/stats"]["get"]["summary"].startswith("GET /stats")

def _fill_snapshot(svc):
    svc.get_stats()
    svc.get_search("alpha")
    svc.get_vector_search("castle")
    svc.get_similar_search(999)

def test_writes_invalidate_snapshot(spark, svc):
    """Spark's CacheManager substitutes a cached scan into any later plan
    over the same path, so a snapshot that outlives a write serves the
    old rows even to a fresh spark.read.parquet. Every write path drops
    it before the live directory changes; plain reads are checked first,
    before any API call could rebuild the snapshot."""
    corpus = svc.corpus
    _fill_snapshot(svc)
    fresh = (7001, 70010, "omega quest", "brand new", None, 300)
    corpus.write_games(spark.createDataFrame(SEED_GAMES + [fresh], GAME_SCHEMA))
    corpus.write_embeddings(
        spark.createDataFrame([(7001, [0.9, 0.1, 0.4])], EMBEDDING_SCHEMA), mode="append"
    )
    assert corpus.games().count() == 7
    assert spark.read.parquet(os.path.join(corpus.data_dir, "games.parquet")).count() == 7
    assert spark.read.parquet(os.path.join(corpus.data_dir, "embeddings.parquet")).count() == 3
    stats = svc.get_stats()
    assert stats["total_games"] == 7
    assert stats["lacking_embeddings"] == 5  # universes 1 and 7001 have one
    assert [r["universeId"] for r in svc.get_search("omega")] == [7001]
    rows = svc.get_similar_search(7001)
    assert [r["universeId"] for r in rows] == [1]

def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

def test_snapshot_state_is_bounded(spark, svc):
    """ROADMAP 4.3: a long-lived API keeps one snapshot (the games table
    and the scoring frame), however many versions it has served."""
    base = _cached_rdds(spark)
    counts = []
    for k in range(3):
        games = SEED_GAMES + [(8000 + k, 80000 + k, f"cycle {k}", None, None, k)]
        svc.corpus.write_games(spark.createDataFrame(games, GAME_SCHEMA))
        _fill_snapshot(svc)
        counts.append(_cached_rdds(spark))
    assert counts == [base + 2] * 3
    svc.corpus.drop_snapshot()
    assert _cached_rdds(spark) == base

def test_concurrent_reads_share_one_snapshot(spark, svc):
    """Handler threads race to build the snapshot of a new version; the
    corpus lock lets exactly one build happen."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    base = _cached_rdds(spark)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            frames = list(pool.map(lambda _: svc.corpus.snapshot().scoring, range(16), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert len({id(f) for f in frames}) == 1
    _fill_snapshot(svc)
    assert _cached_rdds(spark) == base + 2

def _jobs(spark, fn):
    """(Spark jobs `fn` started, its result), counted by job group."""
    sc = spark.sparkContext
    group = f"plan-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out

def test_read_endpoints_run_one_job(spark, svc):
    _fill_snapshot(svc)
    assert _jobs(spark, lambda: svc.get_search("alpha"))[0] == 1
    assert _jobs(spark, lambda: svc.get_vector_search("castle"))[0] == 1
    n, rows = _jobs(spark, lambda: svc.get_similar_search(999))
    assert n <= 2 and [r["universeId"] for r in rows] == [1]
    assert _jobs(spark, lambda: svc.get_games(limit=3))[0] == 1
    assert _jobs(spark, svc.get_stats)[0] == 0
    with pytest.raises(ApiError) as e:
        svc.get_similar_search(12345)
    assert e.value.status == 404
    svc.corpus.write_embeddings(spark.createDataFrame([(1, [1.0, 0.0, 0.5])], EMBEDDING_SCHEMA))
    assert svc.get_similar_search(1) == []  # the only embedding: found, nothing to rank

TRICKY = "it's \\s :k {games}"

def test_text_search_escapes_user_text(spark, svc, sf_dir, tmp_path):
    """Quote, backslash, a parameter marker, a format slot and a regex
    class in the query: user text only travels as a parameter, so the
    registry builder and the API match the DuckDB oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in tables.TPCH_TABLES:
        if t != "part":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), sf / f"{t}.parquet")
    part = pq.read_table(os.path.join(sf_dir, "part.parquet"))
    # the phrase in some names (title matches) and in every p_type, which
    # reaches the description and gameplay text of the other rows
    rows = part.select(["p_partkey", "p_name", "p_type"]).to_pylist()
    names = [r["p_name"] + (" " + TRICKY if r["p_partkey"] % 10 <= 2 else "") for r in rows]
    types = [r["p_type"] + " " + TRICKY.upper() for r in rows]
    for col, values in (("p_name", names), ("p_type", types)):
        i = part.schema.get_field_index(col)
        part = part.set_column(i, part.schema.field(i), pa.array(values, part.schema.field(i).type))
    pq.write_table(part, sf / "part.parquet")

    q = TRICKY.upper()
    oracle = search.text_search_oracle(q, 100)
    got = search.text_search(spark, str(sf), q, 100)
    compare_spark_duckdb(got, oracle, str(sf))
    assert {"title", "description"} <= {r.matchType for r in got.collect()}

    svc.corpus.write_games(tables.games(spark, str(sf)))
    rows = svc.get_search(q, limit=100)
    cols = list(rows[0])
    assert normalize(cols, [tuple(r.values()) for r in rows]) == normalize(*duckdb_run(oracle, str(sf)))
