"""HTTP source harness tests — canned-transport only, no network."""

from __future__ import annotations

import json

import pytest

from roblox_vector_search_datagen_spark.sources import http as H

class FakeTransport:
    """Scripted transport: url-substring -> list of (status, payload)."""

    def __init__(self, script):
        self.script = script
        self.calls = []

    def __call__(self, method, url, headers, body):
        self.calls.append((method, url, body))
        for key, responses in self.script.items():
            if key in url:
                status, payload = responses.pop(0) if isinstance(responses, list) else responses
                raw = payload if isinstance(payload, bytes) else json.dumps(payload).encode()
                return status, raw
        return 404, b"{}"

def no_sleep(_):
    pass

def test_retry_on_429_then_success():
    t = FakeTransport({"games.roblox.com": [(429, {}), (200, {"data": [{"id": 5, "description": "d", "playing": 7}]})]})
    rows = H.fetch_game_details_batch(t, [5], retry=H.RetryPolicy(backoff_seconds=0), sleep=no_sleep)
    assert rows == [{"universeId": 5, "description": "d", "playing": 7}]
    assert len(t.calls) == 2

def test_batching_50_per_call():
    t = FakeTransport({"games.roblox.com": (200, {"data": []})})
    H.fetch_game_details_batch(t, list(range(120)), sleep=no_sleep)
    assert len(t.calls) == 3  # 50 + 50 + 20

def test_bisect_isolates_poisoned_id():
    calls = []

    def fetch(ids):
        calls.append(list(ids))
        if 13 in ids:
            raise H.HttpSourceError(400, "u", b"")
        return [{"id": i} for i in ids]

    out = H.bisect_batches([10, 11, 12, 13, 14, 15], fetch)
    assert [r["id"] for r in out] == [10, 11, 12, 14, 15]
    assert [13] in calls  # isolated down to the single bad id

def test_bisect_single_failure_fallback():
    def fetch(ids):
        raise H.HttpSourceError(400, "u", b"")

    out = H.bisect_batches([1, 2], fetch, on_single_failure=lambda i: [{"id": i, "alt": True}])
    assert out == [{"id": 1, "alt": True}, {"id": 2, "alt": True}]

def test_gather_games_pagination_and_filters():
    page1 = {
        "sorts": [
            {"contentType": "Games", "games": [{"universeId": 1, "rootPlaceId": 2, "name": "a"}]},
            {"contentType": "Ads", "games": [{"universeId": 9, "rootPlaceId": 9, "name": "x"}]},
        ],
        "nextSortsPageToken": "t2",
    }
    page2 = {
        "sorts": [{"contentType": "Games", "games": [{"universeId": 3, "rootPlaceId": 4, "name": "b"}]}],
        "nextSortsPageToken": "",
    }
    t = FakeTransport({"explore-api": [(200, page1), (200, page2)]})
    rows = H.gather_games_pages(t, "sid", sleep=no_sleep)
    assert rows == [
        {"universeId": 1, "rootPlaceId": 2, "name": "a"},
        {"universeId": 3, "rootPlaceId": 4, "name": "b"},
    ]
    assert "sortsPageToken=t2" in t.calls[1][1]

def test_parse_rolimons_games():
    html = "<script>var games = {\"123\": {\"name\": \"G\"}};\ndocument.addEventListener('x')</script>"
    assert H.parse_rolimons_games(html) == {"123": {"name": "G"}}

def test_enrich_with_game_details_distributed(spark):
    payload = {"data": [{"id": i, "description": f"d{i}", "playing": i * 2} for i in range(4)]}

    def factory():
        return FakeTransport({"games.roblox.com": (200, payload)})

    worklist = spark.range(4).selectExpr("id AS universeId")
    out = H.enrich_with_game_details(worklist, factory, concurrency=2).collect()
    got = {r.universeId: (r.description, r.playing) for r in out}
    assert got == {i: (f"d{i}", i * 2) for i in range(4)}

def test_embed_texts_batches_of_10(spark):
    # transport runs in executor python workers — encode the observed
    # batch size into the vectors instead of a driver-side counter
    class EmbTransport:
        def __call__(self, method, url, headers, body):
            req = json.loads(body)
            n = len(req["input"])
            data = {"data": [{"embedding": [float(n), float(len(s))]} for s in req["input"]]}
            return 200, json.dumps(data).encode()

    df = spark.createDataFrame(
        [(i, "x" * (i + 1)) for i in range(23)], ["universeId", "gameplayDescription"]
    )
    out = H.embed_texts(
        df, EmbTransport, base_url="http://emb.local/v1", model="m", concurrency=1
    ).collect()
    assert len(out) == 23
    by_id = {r.universeId: r.embedding for r in out}
    assert by_id[4][1] == 5.0  # text length mapped through
    assert all(r.embedding[0] <= 10.0 for r in out)  # batch cap respected
