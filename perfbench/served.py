"""The engine as a user runs it: a Corpus, a job log and an ApiService
behind `httpd.serve`, plus a small HTTP client for it."""

from __future__ import annotations

import http.client
import json
import os
import shutil
from urllib.parse import urlencode


class HttpClient:
    """One request per connection (the server speaks HTTP/1.0)."""

    def __init__(self, port: int):
        self.port = port

    def call(self, method: str, path: str, params: dict | None = None) -> tuple[int, object]:
        url = path + ("?" + urlencode(params) if params else "")
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(method, url)
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()


class Served:
    """Corpus imported from the fixture projection, a fresh job log, and
    the HTTP API on a free port."""

    def __init__(self, spark, data_dir: str, sf_dir: str, transport_factory=None):
        from roblox_vector_search_datagen_spark import httpd
        from roblox_vector_search_datagen_spark.api import ApiService
        from roblox_vector_search_datagen_spark.corpus import Corpus
        from roblox_vector_search_datagen_spark.jobs.manager import JobManager
        from roblox_vector_search_datagen_spark.sources import tables

        shutil.rmtree(data_dir, ignore_errors=True)
        self.corpus = Corpus(spark, os.path.join(data_dir, "corpus"))
        self.corpus.write_games(tables.games(spark, sf_dir))
        self.corpus.write_embeddings(tables.game_embeddings(spark, sf_dir))
        self.log_dir = os.path.join(data_dir, "joblog")
        self.jobs = JobManager(spark, self.log_dir)
        kw = {"transport_factory": transport_factory} if transport_factory else {}
        self.service = ApiService(self.corpus, self.jobs, **kw)
        self.server = httpd.serve(self.service, port=0)
        self.client = HttpClient(self.server.server_address[1])

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.service.shutdown()
