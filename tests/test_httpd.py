"""Socket-level smoke test for the stdlib HTTP mount: the same 12
endpoints served over a real port (reference src/api.ts transport
parity), including :param routes, query strings, error statuses, and
the swagger JSON route."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from roblox_vector_search_datagen_spark import httpd

from .test_api import svc  # noqa: F401 — fixture reuse

@pytest.fixture()
def server(svc):  # noqa: F811
    s = httpd.serve(svc, port=0)  # free port
    yield f"http://127.0.0.1:{s.server_address[1]}", svc
    s.shutdown()

def _get(base, path):
    try:
        with urllib.request.urlopen(base + path) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())

def _post(base, path):
    req = urllib.request.Request(base + path, method="POST", data=b"")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())

def test_get_routes(server):
    base, _ = server
    status, rows = _get(base, "/games?limit=2")
    assert status == 200 and len(rows) == 2
    status, rows = _get(base, "/search?q=alpha")
    assert status == 200 and rows[0]["matchType"] == "title"
    status, rows = _get(base, "/similar-search/999")
    assert status == 200 and [r["universeId"] for r in rows] == [1]
    status, stats = _get(base, "/stats")
    assert status == 200 and stats["total_games"] == 6

def test_error_statuses(server):
    base, _ = server
    assert _get(base, "/search")[0] == 400        # missing q
    assert _get(base, "/similar-search/12345")[0] == 404
    assert _get(base, "/nope")[0] == 404

def test_openapi_route(server):
    base, _ = server
    status, spec = _get(base, "/openapi.json")
    assert status == 200 and len(spec["paths"]) == 12

@pytest.mark.slow
def test_async_post_over_socket(server):
    base, svc_ = server
    status, resp = _post(base, "/gather-games")
    assert status == 200 and resp["status"] == "pending"
    jid = resp["jobId"]
    for _ in range(120):
        status, job = _get(base, f"/jobs/{jid}")
        if job["status"] in ("completed", "failed"):
            break
        time.sleep(1)
    assert job["status"] == "completed", job.get("error")

def test_jobs_page_with_started_and_completed_jobs_encodes(server):
    """GET /jobs serves a page holding a started and a completed job:
    every non-null `*_at` field arrives as a string, none as a 400."""
    base, svc_ = server
    done = svc_.jobs.create_job("gatherGames")
    svc_.jobs.start_job(done)
    svc_.jobs.complete_job(done, "{}")
    running = svc_.jobs.create_job("pruneGames")
    svc_.jobs.start_job(running)
    status, jobs = _get(base, "/jobs")
    assert status == 200, jobs
    by_id = {j["id"]: j for j in jobs}
    assert by_id[done]["status"] == "completed"
    assert by_id[running]["status"] == "running"
    for key in ("created_at", "started_at", "completed_at"):
        assert isinstance(by_id[done][key], str)
    assert isinstance(by_id[running]["started_at"], str)
    assert by_id[running]["completed_at"] is None

def test_docs_route(server):
    """/docs serves the interactive docs page (src/api.ts:58-59 mounts
    swagger-ui there; here a self-contained HTML renderer over the live
    /openapi.json)."""
    base, _ = server
    with urllib.request.urlopen(base + "/docs") as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/html")
        body = r.read().decode()
    assert "/openapi.json" in body  # renders the live spec client-side
