"""Job state machine (S17 / §3.3): lifecycle transitions, paging,
cleanup, serialized concurrent transitions, and the SQLite store's cost
(no Spark job, one file) — deterministic via an injected clock."""

from __future__ import annotations

import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import pytest

from roblox_vector_search_datagen_spark.jobs.manager import JobManager

from .test_api import _jobs

class FakeClock:
    def __init__(self):
        self.t = datetime(2026, 1, 1)

    def __call__(self):
        self.t += timedelta(minutes=1)
        return self.t

@pytest.fixture()
def jm(spark, tmp_path):
    return JobManager(spark, str(tmp_path / "joblog"), clock=FakeClock())

def test_lifecycle_completed(jm):
    jid = jm.create_job("generateEmbeddings")
    assert jm.get_job(jid)["status"] == "pending"
    jm.start_job(jid)
    job = jm.get_job(jid)
    assert job["status"] == "running" and job["started_at"] is not None
    jm.update_progress(jid, 5, 10, "halfway")
    job = jm.get_job(jid)
    assert (job["progress_current"], job["progress_total"]) == (5, 10)
    jm.complete_job(jid, result="ok")
    job = jm.get_job(jid)
    assert job["status"] == "completed" and job["result"] == "ok"
    assert job["completed_at"] > job["started_at"] > job["created_at"]

def test_run_job_failure_path(jm):
    jid = jm.create_job("gatherGames")

    def boom():
        raise RuntimeError("upstream 500")

    job = jm.run_job(jid, boom)
    assert job["status"] == "failed" and "upstream 500" in job["error"]
    # terminal states reject further transitions
    with pytest.raises(ValueError):
        jm.start_job(jid)

def test_illegal_transitions(jm):
    jid = jm.create_job("x")
    with pytest.raises(ValueError):
        jm.complete_job(jid)  # pending -> completed skips running
    with pytest.raises(KeyError):
        jm.start_job("nope")

def test_listing_counts_and_cleanup(jm):
    ids = [jm.create_job(f"cmd{i}") for i in range(5)]
    jm.run_job(ids[0], lambda: "r0")
    jm.run_job(ids[1], lambda: (_ for _ in ()).throw(RuntimeError("e")))
    # newest-first page over CURRENT state only (one row per job)
    page = jm.list_jobs(limit=3)
    assert len(page) == 3
    created = [r["created_at"] for r in page]
    assert created == sorted(created, reverse=True)
    counts = {r["status"]: r["count"] for r in jm.counts_by_status()}
    assert counts == {"pending": 3, "completed": 1, "failed": 1}
    # cleanup drops only terminal jobs older than cutoff
    removed = jm.delete_old_jobs(cutoff=datetime(2040, 1, 1))
    assert removed == 2
    assert jm.current().count() == 3

# ---------------------------------------------------------------------------
# SQLite interchange (byte-level parity with the reference's data/jobs.db)
# ---------------------------------------------------------------------------

def test_sqlite_roundtrip_preserves_current_state(jm, spark, tmp_path):
    import sqlite3

    from roblox_vector_search_datagen_spark.sources import sqlite_jobs

    j1 = jm.create_job("gatherGames")
    jm.start_job(j1)
    jm.update_progress(j1, 3, 10, "gathering")
    j2 = jm.create_job("generateEmbeddings")
    jm.start_job(j2)
    jm.complete_job(j2, result="done")
    j3 = jm.create_job("downloadImages")

    db = str(tmp_path / "jobs.db")
    n = sqlite_jobs.write_jobs_db(jm.current(), db)
    assert n == 3

    # the written file matches the reference DDL: column names/order and
    # the status CHECK constraint both enforced
    con = sqlite3.connect(db)
    cols = [r[1] for r in con.execute("PRAGMA table_info(jobs)")]
    assert cols == [f.name for f in sqlite_jobs.JOB_SCHEMA.fields]
    with pytest.raises(sqlite3.IntegrityError):
        con.execute(
            "INSERT INTO jobs (id, command, status, created_at)"
            " VALUES ('x', 'c', 'bogus', '2026-01-01 00:00:00')"
        )
    idx = {r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='index'")}
    assert {"idx_jobs_status", "idx_jobs_created_at", "idx_jobs_command"} <= idx
    con.close()

    back = {r["id"]: r.asDict() for r in sqlite_jobs.read_jobs_db(spark, db).collect()}
    orig = {r["id"]: r.asDict() for r in jm.current().collect()}
    assert set(back) == set(orig) == {j1, j2, j3}
    for jid in orig:
        assert back[jid] == orig[jid], jid

def test_sqlite_read_rejects_unknown_status(spark, tmp_path):
    import sqlite3

    from roblox_vector_search_datagen_spark.sources import sqlite_jobs

    db = str(tmp_path / "bad.db")
    con = sqlite3.connect(db)
    con.execute(sqlite_jobs.JOBS_DDL.replace("CHECK (status IN ('pending', 'running', 'completed', 'failed'))", ""))
    con.execute(
        "INSERT INTO jobs (id, command, status, created_at)"
        " VALUES ('j', 'c', 'exploded', '2026-01-01 00:00:00')"
    )
    con.commit()
    con.close()
    with pytest.raises(ValueError, match="unknown status"):
        sqlite_jobs.read_jobs_db(spark, db)

def test_job_updated_events(jm):
    """jobUpdated observer hook (jobManager.ts:188-192): every mutation
    notifies subscribers with the post-transition row; unsubscribe
    stops delivery; a raising listener doesn't fail the transition."""
    seen: list[tuple[str, str]] = []
    off = jm.on_job_updated(lambda row: seen.append((row["id"], row["status"])))

    def boom(row):
        raise RuntimeError("listener bug")

    jm.on_job_updated(boom)  # must be isolated
    jid = jm.create_job("gatherGames")
    jm.start_job(jid)
    jm.update_progress(jid, 1, 10, "page 1")
    jm.complete_job(jid, "ok")
    assert [s for i, s in seen if i == jid] == [
        "pending",
        "running",
        "running",
        "completed",
    ]
    off()
    jid2 = jm.create_job("gatherGames")
    assert all(i != jid2 for i, _ in seen)

def test_concurrent_terminal_transitions_serialize(jm, spark):
    """Eight threads, over two managers of one store, race to finish one
    running job: exactly one wins, the rest see a terminal job and get
    ValueError, and one terminal row remains. A manager opened later
    over the same directory (restart, second worker) sees that row and
    rejects an illegal transition."""
    other = JobManager(spark, jm.log_dir)
    jid = jm.create_job("gatherGames")
    jm.start_job(jid)
    barrier = threading.Barrier(8)

    def race(i):
        mgr = (jm, other)[i % 2]
        barrier.wait(timeout=30)
        try:
            if i < 4:
                mgr.complete_job(jid, f"r{i}")
            else:
                mgr.fail_job(jid, f"e{i}")
        except ValueError:
            return False
        return True

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            won = list(pool.map(race, range(8), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert won.count(True) == 1
    rows = [r for r in jm.list_jobs() if r["id"] == jid]
    assert len(rows) == 1 and rows[0]["status"] in ("completed", "failed")
    i = won.index(True)
    assert (rows[0]["result"], rows[0]["error"]) == ((f"r{i}", None) if i < 4 else (None, f"e{i}"))

    restarted = JobManager(spark, jm.log_dir)
    assert restarted.get_job(jid) == rows[0]
    with pytest.raises(ValueError):
        restarted.start_job(jid)
    assert restarted.get_job(jid) == rows[0]

def test_bookkeeping_starts_no_spark_job(jm, spark):
    """Every job call is a driver-side SQLite statement: none starts a
    Spark job, and the store stays one file however many transitions
    it takes."""
    jid = jm.create_job("warmup")
    calls = {
        "create_job": lambda: jm.create_job("gatherGames"),
        "start_job": lambda: jm.start_job(jid),
        "update_progress": lambda: jm.update_progress(jid, 1, 2, "half"),
        "complete_job": lambda: jm.complete_job(jid, "ok"),
        "get_job": lambda: jm.get_job(jid),
        "list_jobs": jm.list_jobs,
        "counts_by_status": jm.counts_by_status,
    }
    assert {name: _jobs(spark, fn)[0] for name, fn in calls.items()} == dict.fromkeys(calls, 0)

    busy = jm.create_job("generateEmbeddings")
    jm.start_job(busy)
    for step in range(48):
        jm.update_progress(busy, step, 48)
    jm.complete_job(busy, "done")  # 50 transitions on one job
    assert os.listdir(jm.log_dir) == ["jobs.db"]
