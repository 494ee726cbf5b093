"""HTTP enrichment sources (SURVEY.md §2.1 S5-S16) as Arrow-batched
executor UDFs over an injectable transport.

The reference talks to Roblox/LLM/embedding APIs from a single Node
process with hand-rolled batching, 429 backoff, and bisect-on-400
failure isolation (src/lib/commands/roblox.ts:16-61,
gatherGamesRolimons.ts:76-188, generateEmbeddings.ts:53-96). Here the
same policies live INSIDE mapInPandas functions, so a cluster gets:

* concurrency = partition count (the reference's DESCRIPTION_CONCURRENCY
  knob becomes `repartition(FETCH_PARTITIONS)` in `_map_remote`)
* batching = explicit chunking inside each Arrow batch
* retry/bisect = per-executor, isolated to the failing id range; every
  call goes through `request`, the one 429 retry loop

Every function takes a `transport` callable so tests (and air-gapped
runs) inject canned responses — no live network calls are made by any
test or registry query. Spark task retries can re-fire HTTP calls;
callers keep sources idempotent by anti-joining to missing-only
worklists first (operators.maintenance.needs_* — the reference's own
resume pattern, downloadImages.ts:48-58).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Iterator
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# transport(method, url, headers, body) -> (status_code, body_bytes)
Transport = Callable[[str, str, dict, bytes | None], tuple[int, bytes]]

# Reference policy: HTTP 429 -> sleep 30 s -> retry, unbounded
# (roblox.ts:28-34)
RETRY_STATUS = 429
BACKOFF_SECONDS = 30.0
# partitions each executor-side fetch spreads its worklist over: the
# number of concurrent remote callers
FETCH_PARTITIONS = 4

def urllib_transport(method: str, url: str, headers: dict, body: bytes | None) -> tuple[int, bytes]:
    """Default stdlib transport (no third-party HTTP deps)."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:  # non-2xx still carries a body
        return e.code, e.read()

def request(
    transport: Transport,
    method: str,
    url: str,
    headers: dict | None = None,
    body: bytes | None = None,
) -> bytes:
    """One request with the 429 retry loop; the body of the first
    non-429 answer, HttpSourceError on any other status >= 400."""
    while True:
        status, raw = transport(method, url, headers or {}, body)
        if status == RETRY_STATUS:
            time.sleep(BACKOFF_SECONDS)
            continue
        if status >= 400:
            raise HttpSourceError(status, url, raw[:500])
        return raw

def request_json(
    transport: Transport,
    method: str,
    url: str,
    *,
    payload: dict | None = None,
):
    """`request` with an optional JSON payload; the decoded answer."""
    headers, body = None, None
    if payload is not None:
        headers = {"Content-Type": "application/json"}
        body = json.dumps(payload).encode()
    raw = request(transport, method, url, headers, body)
    return json.loads(raw) if raw else None

class HttpSourceError(RuntimeError):
    def __init__(self, status: int, url: str, body: bytes):
        super().__init__(f"HTTP {status} from {url}: {body!r}")
        self.status = status
        self.url = url

def chunked(seq: list, size: int) -> Iterator[list]:
    for i in range(0, len(seq), size):
        yield seq[i : i + size]

def bisect_batches(
    ids: list,
    fetch: Callable[[list], list],
    *,
    on_single_failure: Callable[[object], list] | None = None,
) -> list:
    """Failure-isolation from gatherGamesRolimons.ts:120-156: when a
    batch request 4xx-es, recursively split it to isolate poisoned ids;
    optionally fall back to a per-id alternate source at size 1."""
    try:
        return fetch(ids)
    except HttpSourceError:
        if len(ids) == 1:
            if on_single_failure is not None:
                return on_single_failure(ids[0])
            return []
        mid = len(ids) // 2
        return bisect_batches(ids[:mid], fetch, on_single_failure=on_single_failure) + bisect_batches(
            ids[mid:], fetch, on_single_failure=on_single_failure
        )

def _map_remote(
    worklist: DataFrame,
    cols: tuple[str, ...],
    schema: T.StructType,
    transport_factory: Callable[[], Transport],
    per_batch: Callable,
) -> DataFrame:
    """The one executor-side fetch shape: spread the worklist's `cols`
    over FETCH_PARTITIONS partitions and map each Arrow batch through
    `per_batch(transport, pdf) -> rows of schema`. transport_factory is
    called once per partition ON THE EXECUTOR, so the closure ships only
    picklable config, never live sockets."""
    names = schema.fieldNames()

    def run(batches: Iterable) -> Iterator:
        import pandas as pd

        transport = transport_factory()
        for pdf in batches:
            yield pd.DataFrame(per_batch(transport, pdf), columns=names)

    return worklist.select(*cols).repartition(FETCH_PARTITIONS).mapInPandas(run, schema)

# ---------------------------------------------------------------------------
# Concrete reference sources (public Roblox / OpenAI-compatible APIs)
# ---------------------------------------------------------------------------

GAME_DETAILS_URL = "https://games.roblox.com/v1/games?universeIds={ids}"
GAME_DETAILS_BATCH = 50  # roblox.ts:25
EMBEDDINGS_BATCH = 10  # generateEmbeddings.ts:53

def fetch_game_details_batch(transport: Transport, ids: list[int]) -> list[dict]:
    """S10 (roblox.ts:16-61): batch-50 universe-id lookup -> rows of
    {universeId, description, playing}."""
    out: list[dict] = []
    for chunk in chunked(ids, GAME_DETAILS_BATCH):
        url = GAME_DETAILS_URL.format(ids=",".join(str(i) for i in chunk))
        data = request_json(transport, "GET", url) or {}
        for entry in data.get("data", []):
            out.append(
                {
                    "universeId": int(entry["id"]),
                    "description": entry.get("description"),
                    "playing": int(entry.get("playing", 0)),
                }
            )
    return out

DETAILS_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType()),
        T.StructField("description", T.StringType()),
        T.StructField("playing", T.IntegerType()),
    ]
)

def _details_batch(transport: Transport, pdf) -> list[dict]:
    ids = [int(x) for x in pdf["universeId"]]
    return bisect_batches(ids, lambda c: fetch_game_details_batch(transport, c))

def enrich_with_game_details(
    worklist: DataFrame, transport_factory: Callable[[], Transport]
) -> DataFrame:
    """Distributed S10: each partition batches its ids 50-at-a-time."""
    return _map_remote(worklist, ("universeId",), DETAILS_SCHEMA, transport_factory, _details_batch)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

def _embed_batch(transport: Transport, pdf, *, base_url: str, model: str) -> list[tuple]:
    rows = []
    for chunk in chunked(list(zip(pdf["universeId"], pdf["gameplayDescription"])), EMBEDDINGS_BATCH):
        payload = {"model": model, "input": [t for _, t in chunk]}
        data = request_json(transport, "POST", f"{base_url}/embeddings", payload=payload)
        for (i, _), item in zip(chunk, data["data"]):
            rows.append((int(i), [float(v) for v in item["embedding"]]))
    return rows

def embed_texts(
    texts_df: DataFrame,
    transport_factory: Callable[[], Transport],
    *,
    base_url: str,
    model: str,
) -> DataFrame:
    """S15 (generateEmbeddings.ts:53-96): batch-10 embedding calls over
    an OpenAI-compatible /embeddings endpoint, executor-side, on each
    game's gameplayDescription."""
    return _map_remote(
        texts_df,
        ("universeId", "gameplayDescription"),
        EMBEDDINGS_SCHEMA,
        transport_factory,
        partial(_embed_batch, base_url=base_url, model=model),
    )

# ---------------------------------------------------------------------------
# Driver-side cursor sources (inherently sequential)
# ---------------------------------------------------------------------------

EXPLORE_SORTS_URL = "https://apis.roblox.com/explore-api/v1/get-sorts?sessionId={sid}{token}"

def gather_games_pages(transport: Transport, session_id: str) -> list[dict]:
    """S5 (gatherGames.ts:9-40): paginated explore-sorts cursor loop.
    A remote cursor is sequential by nature — this stays on the driver
    and the RESULT becomes a DataFrame for the merge operator."""
    games: list[dict] = []
    token = ""
    while True:
        url = EXPLORE_SORTS_URL.format(sid=session_id, token=f"&sortsPageToken={token}" if token else "")
        data = request_json(transport, "GET", url)
        for sort in data.get("sorts", []):
            if sort.get("contentType") != "Games":  # P2
                continue
            for g in sort.get("games", []):  # P1 projection
                games.append(
                    {
                        "universeId": int(g["universeId"]),
                        "rootPlaceId": int(g["rootPlaceId"]),
                        "name": g["name"],
                    }
                )
        token = data.get("nextSortsPageToken") or ""
        if not token:
            return games

def parse_rolimons_games(html: str) -> dict[str, dict]:
    """S7/F15 (gatherGamesRolimons.ts:18-36): extract the embedded
    `var games = {...}` JS object from the scraped HTML. Pure function
    — the fetch is a one-line driver call through the transport."""
    payload = html.split("var games = ")[1].split("document.addEventListener")[0].strip()
    return json.loads(payload[:-1])  # trailing ';'

def base64_image_expr(content_col: str = "content") -> F.Column:
    """F17 (generateGameplayDescriptions.ts:81,97): data-URL encoding of
    an image binary column, JVM-side."""
    return F.concat(F.lit("data:image/png;base64,"), F.base64(F.col(content_col)))

OMNI_SEARCH_URL = "https://apis.roblox.com/search-api/omni-search?searchQuery={q}&sessionId={sid}"

def gather_games_from_search(transport: Transport, query: str, session_id: str) -> list[dict]:
    """S6 (gatherGamesFromSearch.ts:32-51): single omni-search page;
    keep contentGroupType=='Game' groups (P3), flatten their contents to
    core rows + playerCount."""
    from urllib.parse import quote

    url = OMNI_SEARCH_URL.format(q=quote(query), sid=session_id)
    data = request_json(transport, "GET", url) or {}
    out: list[dict] = []
    for group in data.get("searchResults", []):
        if group.get("contentGroupType") != "Game":
            continue
        for g in group.get("contents", []):
            out.append(
                {
                    "universeId": int(g["universeId"]),
                    "rootPlaceId": int(g["rootPlaceId"]),
                    "name": g["name"],
                    "playerCount": int(g.get("playerCount") or 0),
                }
            )
    return out

PLACE_DETAILS_URL = "https://games.roblox.com/v1/games/multiget-place-details?placeIds={ids}"
UNIVERSE_URL = "https://apis.roblox.com/universes/v1/places/{pid}/universe"
PLACE_DETAILS_BATCH = 50  # gatherGamesRolimons.ts:77

def rolimons_rows(transport: Transport, html: str) -> list[dict]:
    """S7+S8+S9 (gatherGamesRolimons.ts:18-188): parse the scraped
    `var games = {...}` map, resolve placeId -> universe details in
    batches of 50 with bisect-on-4xx isolation, and fall back to the
    per-id universe endpoint for ids the batch API rejects (name then
    comes from the scrape, description stays never-fetched)."""
    games_map = parse_rolimons_games(html)
    place_ids = [int(p) for p in games_map]

    def fetch(ids: list) -> list[dict]:
        url = PLACE_DETAILS_URL.format(ids=",".join(str(i) for i in ids))
        data = request_json(transport, "GET", url) or []
        return [
            {
                "universeId": int(d["universeId"]),
                "rootPlaceId": int(d["placeId"]),
                "name": d.get("name") or games_map[str(d["placeId"])].get("name"),
                "description": d.get("description"),
            }
            for d in data
        ]

    def single_fallback(pid) -> list[dict]:
        data = request_json(transport, "GET", UNIVERSE_URL.format(pid=pid)) or {}
        uid = data.get("universeId")
        if uid is None:
            return []
        return [
            {
                "universeId": int(uid),
                "rootPlaceId": int(pid),
                "name": games_map[str(pid)].get("name"),
                "description": None,
            }
        ]

    rows: list[dict] = []
    for chunk in chunked(place_ids, PLACE_DETAILS_BATCH):
        rows.extend(bisect_batches(chunk, fetch, on_single_failure=single_fallback))
    return rows

# ---------------------------------------------------------------------------
# Image pipeline (S11 icon URLs, S12 thumbnail URLs, S13 binary sink)
# ---------------------------------------------------------------------------

ICONS_URL = "https://thumbnails.roblox.com/v1/games/icons?universeIds={ids}&size=512x512&format=Png"
THUMBS_URL = (
    "https://thumbnails.roblox.com/v1/games/multiget/thumbnails"
    "?universeIds={ids}&size=768x432&format=Png"
)
IMAGE_BATCH = 50  # downloadImages.ts:14

IMAGE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ]
)

def _image_batch(transport: Transport, pdf) -> list[tuple]:
    """Batch-50 CDN-URL lookups for icons (ids whose `need_icon` is
    true) and thumbnails (`need_thumbnail`), then one GET per completed
    image."""
    rows = []
    for flag, kind, url in (("need_icon", "icon", ICONS_URL), ("need_thumbnail", "thumbnail", THUMBS_URL)):
        for chunk in chunked([int(x) for x in pdf.loc[pdf[flag], "universeId"]], IMAGE_BATCH):
            data = request_json(transport, "GET", url.format(ids=",".join(str(i) for i in chunk))) or {}
            for item in data.get("data", []):
                if kind == "icon":
                    uid, image = item.get("targetId"), item
                else:  # reference takes thumbnails[0] (downloadImages.ts:186)
                    uid, image = item.get("universeId"), (item.get("thumbnails") or [None])[0]
                if image and image.get("state") == "Completed" and image.get("imageUrl"):
                    uid = int(uid)
                    content = request(transport, "GET", image["imageUrl"])
                    rows.append((uid, kind, f"images/{uid}/{kind}.png", content))
    return rows

def download_images(worklist: DataFrame, transport_factory: Callable[[], Transport]) -> DataFrame:
    """Distributed S11/S12/S13 (downloadImages.ts:60-219): per partition,
    fetch the missing kinds of each worklist game; yields
    IMAGE_ROWS_SCHEMA rows (binary column sink — the engine's images
    table replaces the reference's loose PNG files). Skipped states
    (not 'Completed') produce no row, matching the reference's
    continue-on-missing behavior."""
    return _map_remote(
        worklist,
        ("universeId", "need_icon", "need_thumbnail"),
        IMAGE_ROWS_SCHEMA,
        transport_factory,
        _image_batch,
    )

# ---------------------------------------------------------------------------
# S14: LLM gameplay-description source
# ---------------------------------------------------------------------------

GAMEPLAY_JSON_SCHEMA = {
    "type": "object",
    "properties": {
        "gameplaySummary": {"type": "string"},
        "genreTags": {"type": "array", "items": {"type": "string"}},
        "gameFeatures": {"type": "array", "items": {"type": "string"}},
    },
    "required": ["gameplaySummary", "genreTags", "gameFeatures"],
    "additionalProperties": False,
}

def format_gameplay_markdown(parsed: dict) -> str:
    """F19 markdown assembly (generateGameplayDescriptions.ts:160-163)."""
    return (
        f"**Gameplay Summary**: {parsed['gameplaySummary']}\n\n"
        f"**Genre Tags**: {', '.join(parsed['genreTags'])}\n\n"
        f"**Game Features**: {', '.join(parsed['gameFeatures'])}"
    )

GAMEPLAY_SYSTEM_PROMPT = "Describe the gameplay of this Roblox game."

GAMEPLAY_SCHEMA = T.StructType(
    [
        T.StructField("universeId", T.LongType()),
        T.StructField("gameplayDescription", T.StringType()),
    ]
)

def _describe_batch(transport: Transport, pdf, *, base_url: str, model: str) -> list[tuple]:
    rows = []
    for row in pdf.itertuples(index=False):
        user_content: list | str = f"Title: {row.name}\n\nDescription: {row.description}"
        if row.icon_b64 or row.thumb_b64:
            parts = [{"type": "text", "text": user_content}]
            for url in (row.icon_b64, row.thumb_b64):
                if url:
                    parts.append({"type": "image_url", "image_url": {"url": url}})
            user_content = parts
        payload = {
            "model": model,
            "messages": [
                {"role": "system", "content": GAMEPLAY_SYSTEM_PROMPT},
                {"role": "user", "content": user_content},
            ],
            "response_format": {
                "type": "json_schema",
                "json_schema": {
                    "name": "gameplay_analysis",
                    "strict": True,
                    "schema": GAMEPLAY_JSON_SCHEMA,
                },
            },
        }
        data = request_json(transport, "POST", f"{base_url}/chat/completions", payload=payload)
        parsed = json.loads(data["choices"][0]["message"]["content"])
        rows.append((int(row.universeId), format_gameplay_markdown(parsed)))
    return rows

def generate_descriptions(
    worklist: DataFrame,
    transport_factory: Callable[[], Transport],
    *,
    base_url: str,
    model: str,
) -> DataFrame:
    """Distributed S14 (generateGameplayDescriptions.ts:99-163): one
    chat-completions call per game with a strict json_schema response
    format; the validated struct is rendered to the reference's markdown
    shape. Worklist columns: universeId, name, description and the
    icon_b64/thumb_b64 data-URLs (NULL when the image is missing)."""
    return _map_remote(
        worklist,
        ("universeId", "name", "description", "icon_b64", "thumb_b64"),
        GAMEPLAY_SCHEMA,
        transport_factory,
        partial(_describe_batch, base_url=base_url, model=model),
    )
