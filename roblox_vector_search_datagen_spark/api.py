"""Query/API parity layer: the reference's 12 HTTP endpoints
(src/endpoints/*.ts, auto-registered by src/api.ts:17-56) as plain
handler functions over the Corpus + JobManager.

The transport (Express) is deliberately NOT reproduced — the engine's
contract is the handler surface: validated params in, schema-validated
plain dicts out. Any web framework can mount ENDPOINTS; tests call the
handlers directly, which is also how the reference tests would have
worked had it shipped any.

Reference behaviors kept:
* limit clamped to 1..100 on every search endpoint
  (search.get.ts:84-90, vectorSearch.get.ts:84-90, similarSearch.get.ts:82-88)
* jobs page limit clamped to 1..1000 (jobsList.get.ts:95-100)
* response-schema validation before returning — the Zod safeParse that
  500s on mismatch (src/api.ts:32-41) becomes ApiError(500) when a
  handler's rows don't match its declared columns
* async-job POSTs create a pending job, run the command in the
  background, and return the job id immediately
  (gatherGames.post.ts:29-57; setImmediate -> a one-worker driver
  executor, so jobs run one at a time in submission order)

Where the reference reloads its JSON files on every request, the read
endpoints here answer from the corpus snapshot of the current version
(corpus.py): cached games and scoring frames and the /stats row, dropped
by every corpus write.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .corpus import Corpus
from .functions import vector as V
from .jobs.manager import JobManager
from .operators import search
from .sources import http

class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status

def _clamp_limit(value, default: int = 10, lo: int = 1, hi: int = 100) -> int:
    if value is None:
        return default
    try:
        v = int(value)
    except (TypeError, ValueError):
        raise ApiError(400, f"limit must be an integer, got {value!r}")
    return max(lo, min(hi, v))

def _validated(rows: list[dict], columns: tuple[str, ...]) -> list[dict]:
    """Zod-safeParse analog (src/api.ts:32-41): every row must carry
    exactly the declared columns, else the endpoint 500s."""
    for r in rows:
        if set(r) != set(columns):
            raise ApiError(
                500, f"response schema mismatch: got {sorted(r)}, want {sorted(columns)}"
            )
    return rows

def _rows(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]

def _job_json(job: dict) -> dict:
    """A job row with every non-null `*_at` timestamp as its `str()`,
    so the HTTP layer's `json.dumps` can encode it."""
    return {k: (str(v) if k.endswith("_at") and v is not None else v) for k, v in job.items()}

SEARCH_COLUMNS = (
    "universeId",
    "rootPlaceId",
    "name",
    "description",
    "gameplayDescription",
    "playerCount",
    "similarity",
)

class ApiService:
    def __init__(
        self,
        corpus: Corpus,
        jobs: JobManager,
        *,
        transport_factory: Callable[[], http.Transport] = lambda: http.urllib_transport,
        llm_base_url: str = "http://localhost:11434/v1",
        llm_model: str = "local",
        embed_base_url: str | None = None,
        embed_model: str = "local",
    ):
        self.corpus = corpus
        self.jobs = jobs
        self.transport_factory = transport_factory
        self.llm_base_url = llm_base_url
        self.llm_model = llm_model
        self.embed_base_url = embed_base_url or llm_base_url
        self.embed_model = embed_model
        # corpus mutations rewrite parquet dirs with a stage-then-swap
        # whose staging writes are not locked: one worker runs the
        # pipeline jobs in order, so two POSTs can't interleave and
        # lose a table
        self._pool = ThreadPoolExecutor(1)

    # -- synchronous query endpoints ---------------------------------------

    def get_games(self, limit: int | None = None) -> list[dict]:
        """GET /games (games.get.ts:50-66): name-sorted listing."""
        lim = _clamp_limit(limit, default=0, lo=1, hi=1_000_000) if limit is not None else None
        df = search.list_games_df(self.corpus.snapshot().games, lim)
        return _validated(_rows(df), ("universeId", "name", "rootPlaceId"))

    def get_search(self, q: str, limit: int | None = None) -> list[dict]:
        """GET /search (search.get.ts:72-202): text scoring cascade."""
        if not q:
            raise ApiError(400, "q is required")
        df = search.text_search_df(self.corpus.snapshot().games, q, _clamp_limit(limit))
        cols = SEARCH_COLUMNS[:-1] + ("matchType", "score")
        return _validated(_rows(df), cols)

    def get_vector_search(self, q: str, limit: int | None = None) -> list[dict]:
        """GET /vector-search (vectorSearch.get.ts:72-168): embed query
        (S16), cosine top-k. The deterministic local encoder stands in
        for the embeddings API; production swaps embed_query for a
        transport call to self.embed_base_url."""
        if not q:
            raise ApiError(400, "q is required")
        df = search.vector_search_df(
            self.corpus.snapshot().scoring, V.embed_query(q), _clamp_limit(limit)
        )
        return _validated(_rows(df), SEARCH_COLUMNS)

    def get_similar_search(self, universe_id: int, limit: int | None = None) -> list[dict]:
        """GET /similar-search/:universeId (similarSearch.get.ts:74-159).
        Only an empty result pays the probe that tells 404 from []."""
        try:
            target = int(universe_id)
        except (TypeError, ValueError):
            raise ApiError(400, "universeId must be an integer")
        scoring = self.corpus.snapshot().scoring
        rows = _rows(search.similar_search_df(scoring, target, _clamp_limit(limit)))
        if not rows and scoring.filter(F.col("universeId") == target).isEmpty():
            raise ApiError(404, f"no embedding for universe {target}")
        return _validated(rows, SEARCH_COLUMNS)

    def get_stats(self) -> dict:
        """GET /stats (stats.get.ts:45-113)."""
        return dict(self.corpus.snapshot().stats)

    # -- jobs endpoints ----------------------------------------------------

    def get_jobs(self, limit: int | None = None, offset: int = 0) -> list[dict]:
        """GET /jobs (jobsList.get.ts:92-107): newest first, limit
        clamped 1..1000."""
        lim = _clamp_limit(limit, default=100, lo=1, hi=1000)
        return [_job_json(r) for r in self.jobs.list_jobs(lim, max(0, int(offset)))]

    def get_job(self, job_id: str) -> dict:
        """GET /jobs/:id (job.get.ts:73-83)."""
        job = self.jobs.get_job(job_id)
        if job is None:
            raise ApiError(404, f"job {job_id} not found")
        return _job_json(job)

    # -- async pipeline POSTs (§3.3) ---------------------------------------

    def _submit(self, command: str, fn: Callable[[], Any]) -> dict:
        job_id = self.jobs.create_job(command)

        self._pool.submit(self.jobs.run_job, job_id, lambda: json.dumps(fn()))
        return {"jobId": job_id, "status": "pending"}

    def post_gather_games(self) -> dict:
        from . import cli

        return self._submit(
            "gatherGames", lambda: cli.gather_games(self.corpus, self.transport_factory())
        )

    def post_download_images(self) -> dict:
        from . import cli

        return self._submit(
            "downloadImages", lambda: cli.download_images(self.corpus, self.transport_factory)
        )

    def post_download_descriptions(self) -> dict:
        from . import cli

        return self._submit(
            "downloadDescriptions",
            lambda: cli.download_descriptions(self.corpus, self.transport_factory),
        )

    def post_generate_gameplay_descriptions(self) -> dict:
        from . import cli

        return self._submit(
            "generateGameplayDescriptions",
            lambda: cli.generate_gameplay_descriptions(
                self.corpus, self.transport_factory, base_url=self.llm_base_url, model=self.llm_model
            ),
        )

    def post_generate_embeddings(self) -> dict:
        from . import cli

        return self._submit(
            "generateEmbeddings",
            lambda: cli.generate_embeddings(
                self.corpus,
                self.transport_factory,
                base_url=self.embed_base_url,
                model=self.embed_model,
            ),
        )

    def shutdown(self) -> None:
        self._pool.shutdown(wait=True)
        self.corpus.drop_snapshot()

    def openapi_spec(self) -> dict:
        """Swagger-docs parity (scripts/generate-swagger.ts:72-108 emits
        OpenAPI from the Zod schemas): an OpenAPI 3 skeleton generated
        from the endpoint registry, one operation per handler with its
        docstring summary."""
        paths: dict[str, dict] = {}
        for (method, path), handler in self.endpoints.items():
            oas_path = path.replace(":universeId", "{universeId}").replace(":id", "{id}")
            paths.setdefault(oas_path, {})[method.lower()] = {
                "summary": (handler.__doc__ or "").strip().split("\n")[0],
                "responses": {"200": {"description": "OK"}},
            }
        return {
            "openapi": "3.0.0",
            "info": {"title": "roblox-vector-search-datagen-spark", "version": "1.0.0"},
            "paths": paths,
        }

    # -- endpoint registry (S18 route discovery analog) --------------------

    @property
    def endpoints(self) -> dict[tuple[str, str], Callable]:
        return {
            ("GET", "/games"): self.get_games,
            ("GET", "/search"): self.get_search,
            ("GET", "/vector-search"): self.get_vector_search,
            ("GET", "/similar-search/:universeId"): self.get_similar_search,
            ("GET", "/stats"): self.get_stats,
            ("GET", "/jobs"): self.get_jobs,
            ("GET", "/jobs/:id"): self.get_job,
            ("POST", "/gather-games"): self.post_gather_games,
            ("POST", "/download-images"): self.post_download_images,
            ("POST", "/download-descriptions"): self.post_download_descriptions,
            ("POST", "/generate-gameplay-descriptions"): self.post_generate_gameplay_descriptions,
            ("POST", "/generate-embeddings"): self.post_generate_embeddings,
        }
