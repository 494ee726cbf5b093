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

def test_retry_on_429_then_success(monkeypatch):
    monkeypatch.setattr(H, "BACKOFF_SECONDS", 0)
    t = FakeTransport({"games.roblox.com": [(429, {}), (200, {"data": [{"id": 5, "description": "d", "playing": 7}]})]})
    rows = H.fetch_game_details_batch(t, [5])
    assert rows == [{"universeId": 5, "description": "d", "playing": 7}]
    assert len(t.calls) == 2

def test_batching_50_per_call():
    t = FakeTransport({"games.roblox.com": (200, {"data": []})})
    H.fetch_game_details_batch(t, list(range(120)))
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
    rows = H.gather_games_pages(t, "sid")
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
    out = H.enrich_with_game_details(worklist, factory).collect()
    got = {r.universeId: (r.description, r.playing) for r in out}
    assert got == {i: (f"d{i}", i * 2) for i in range(4)}

def test_embed_texts_batches_of_10(spark):
    import pandas as pd

    # transport runs in executor python workers — encode the observed
    # batch size into the vectors instead of a driver-side counter
    class EmbTransport:
        def __init__(self):
            self.sizes = []

        def __call__(self, method, url, headers, body):
            req = json.loads(body)
            n = len(req["input"])
            self.sizes.append(n)
            data = {"data": [{"embedding": [float(n), float(len(s))]} for s in req["input"]]}
            return 200, json.dumps(data).encode()

    # one batch of 23 texts: calls of 10, 10 and 3, in input order
    t = EmbTransport()
    pdf = pd.DataFrame({"universeId": range(23), "gameplayDescription": ["x" * (i + 1) for i in range(23)]})
    rows = H._embed_batch(t, pdf, base_url="http://emb.local/v1", model="m")
    assert t.sizes == [10, 10, 3]
    assert [i for i, _ in rows] == list(range(23))

    # 100 rows over FETCH_PARTITIONS partitions: every partition holds
    # more than 10, so the cap is reached and never passed
    df = spark.createDataFrame(
        [(i, "x" * (i + 1)) for i in range(100)], ["universeId", "gameplayDescription"]
    )
    out = H.embed_texts(df, EmbTransport, base_url="http://emb.local/v1", model="m").collect()
    assert len(out) == 100
    by_id = {r.universeId: r.embedding for r in out}
    assert by_id[4][1] == 5.0  # text length mapped through
    assert max(r.embedding[0] for r in out) == 10.0  # batch cap reached and respected

def test_image_get_retries_429_and_keeps_bytes(monkeypatch):
    """The CDN GET of an image goes through the same 429 retry loop as
    the JSON lookups: one 429, then the bytes of the 200."""
    import pandas as pd

    monkeypatch.setattr(H, "BACKOFF_SECONDS", 0)
    t = FakeTransport(
        {
            "games/icons": (200, {"data": [{"targetId": 7, "state": "Completed", "imageUrl": "https://cdn/icon/7"}]}),
            "cdn/icon/7": [(429, b""), (200, b"PNG7")],
        }
    )
    pdf = pd.DataFrame({"universeId": [7], "need_icon": [True], "need_thumbnail": [False]})
    assert H._image_batch(t, pdf) == [(7, "icon", "images/7/icon.png", b"PNG7")]
    assert [url for _, url, _ in t.calls].count("https://cdn/icon/7") == 2

def test_fetch_frames_spread_over_fetch_partitions(spark):
    """Every executor-side fetch spreads its worklist over
    FETCH_PARTITIONS partitions (the remote-call concurrency), whatever
    the worklist's own partitioning."""
    wl = spark.range(0, 3, 1, 1).selectExpr(
        "id AS universeId",
        "CAST(id AS STRING) AS name",
        "'d' AS description",
        "'g' AS gameplayDescription",
        "true AS need_icon",
        "true AS need_thumbnail",
        "CAST(NULL AS STRING) AS icon_b64",
        "CAST(NULL AS STRING) AS thumb_b64",
    )
    frames = [
        H.enrich_with_game_details(wl, FakeTransport),
        H.download_images(wl, FakeTransport),
        H.generate_descriptions(wl, FakeTransport, base_url="http://llm/v1", model="m"),
        H.embed_texts(wl, FakeTransport, base_url="http://emb/v1", model="m"),
    ]
    assert [f.rdd.getNumPartitions() for f in frames] == [H.FETCH_PARTITIONS] * 4
