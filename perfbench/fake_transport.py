"""Deterministic stand-in for the remote APIs the pipeline commands call
(explore-sorts, game details, chat completions, embeddings).

`FakeApis` is the `transport_factory` handed to `ApiService`. It is a
plain picklable object, so Spark ships it to the Python workers that run
the `mapInPandas` HTTP sources; every answer is a pure function of the
request and the seed, so the benchmark can predict the corpus after each
cycle (`expected_after_cycle`).
"""

from __future__ import annotations

import json
from urllib.parse import parse_qs, urlparse

from datagen import ADJECTIVES, NOUNS, stable_int


def fetched_description(seed: int, uid: int) -> str:
    """Details-API description: one game in five is known-blank."""
    h = stable_int(seed, "desc", uid)
    if h % 5 == 0:
        return ""
    return f"{ADJECTIVES[h % 8]} {NOUNS[(h >> 3) % 8]} adventure with {h % 97} levels"


def fetched_players(seed: int, uid: int) -> int:
    return stable_int(seed, "playing", uid) % 700


def gameplay_markdown(title: str) -> str:
    """What `http.format_gameplay_markdown` renders from `_chat_answer`."""
    return (
        f"**Gameplay Summary**: {title} gameplay\n\n"
        f"**Genre Tags**: action, {title.split()[0]}\n\n"
        f"**Game Features**: co-op, levels"
    )


def _chat_answer(title: str) -> dict:
    return {
        "gameplaySummary": f"{title} gameplay",
        "genreTags": ["action", title.split()[0]],
        "gameFeatures": ["co-op", "levels"],
    }


class FakeApis:
    """Transport factory; `batch` is the gather result of the current
    cycle, served as two explore-sorts pages."""

    def __init__(self, seed: int):
        self.seed = seed
        self.batch: list[dict] = []

    def __call__(self):
        return self.transport

    def transport(self, method: str, url: str, headers: dict, body: bytes | None) -> tuple[int, bytes]:
        u = urlparse(url)
        q = parse_qs(u.query)
        if "get-sorts" in u.path:
            half = (len(self.batch) + 1) // 2
            second = "sortsPageToken" in q
            games = self.batch[half:] if second else self.batch[:half]
            data = {
                "sorts": [
                    {"contentType": "Filters", "games": []},
                    {"contentType": "Games", "games": games},
                ],
                "nextSortsPageToken": "" if second else "p2",
            }
        elif u.path == "/v1/games":
            ids = [int(x) for x in q["universeIds"][0].split(",")]
            data = {
                "data": [
                    {"id": i, "description": fetched_description(self.seed, i),
                     "playing": fetched_players(self.seed, i)}
                    for i in ids
                ]
            }
        elif u.path.endswith("/chat/completions"):
            user = json.loads(body)["messages"][1]["content"]
            text = user if isinstance(user, str) else user[0]["text"]
            title = text.split("\n\n")[0].removeprefix("Title: ")
            data = {"choices": [{"message": {"content": json.dumps(_chat_answer(title))}}]}
        elif u.path.endswith("/embeddings"):
            from roblox_vector_search_datagen_spark.functions.vector import embed_query

            data = {"data": [{"embedding": embed_query(t)} for t in json.loads(body)["input"]]}
        else:
            return 404, b"{}"
        return 200, json.dumps(data).encode()


def _blank(v: str | None) -> bool:
    return v is None or v.strip(" ") == ""


def expected_after_cycle(seed: int, games: dict[int, dict], embedded: set[int], batch: list[dict]) -> None:
    """Apply one cycle (gather, descriptions, gameplay, embeddings) to the
    model in place, with the semantics of the matching `cli` commands."""
    first: dict[int, dict] = {}
    last: dict[int, dict] = {}
    for row in batch:  # batch order is the merge's `ord`
        first.setdefault(row["universeId"], row)
        last[row["universeId"]] = row
    for uid, row in first.items():
        if uid in games:  # matched: first occurrence renames
            games[uid].update(name=row["name"], rootPlaceId=row["rootPlaceId"])
    for uid, row in last.items():
        if uid not in games:  # insert: last occurrence wins
            games[uid] = {"name": row["name"], "rootPlaceId": row["rootPlaceId"], "description": None,
                          "gameplayDescription": None, "playerCount": None}
    for uid, g in games.items():
        if g["description"] is None or g["playerCount"] is None:
            g["description"] = fetched_description(seed, uid)
            g["playerCount"] = fetched_players(seed, uid)
    for g in games.values():
        if not _blank(g["description"]) and _blank(g["gameplayDescription"]):
            g["gameplayDescription"] = gameplay_markdown(g["name"])
    for uid, g in games.items():
        if not _blank(g["gameplayDescription"]):
            embedded.add(uid)


def expected_stats(games: dict[int, dict], embedded: set[int]) -> dict:
    return {
        "total_games": len(games),
        "lacking_description": sum(_blank(g["description"]) for g in games.values()),
        "lacking_gameplay_description": sum(_blank(g["gameplayDescription"]) for g in games.values()),
        "lacking_player_count": sum(g["playerCount"] is None for g in games.values()),
        "lacking_embeddings": sum(uid not in embedded for uid in games),
    }
