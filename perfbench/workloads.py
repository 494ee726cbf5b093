"""The three workloads: `api_read`, `batch_registry`, `ingest_mixed`.

Each workload has the same life cycle, driven by run.py:

    prepare(work, seed)   inputs, before Spark starts
    setup(spark, index)   corpus import and server start (run SETUPS times)
    warmup()              first operations, once, after the last setup
    measure(seconds, tr)  the timed loop; returns a Phase
    check()               correctness checks kept out of the timed loop
    teardown()

`Phase.ops` lists the timed operations as (kind, ms, ok); per-layer
totals are divided by `Phase.n_units` (requests, queries or cycles).
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from dataclasses import dataclass, field

import datagen
import oracle
from fake_transport import FakeApis, expected_after_cycle, expected_stats
from served import Served


# The games projection reads `part`, its embeddings `embeddings`, and the
# oracles' domain views `events`; so do the registry queries measured here.
DOMAIN_TABLES = ("part", "embeddings", "events")


@dataclass
class Phase:
    seconds: float = 0.0  # timed wall clock
    ops: list = field(default_factory=list)  # (kind, ms, ok)
    n_units: int = 0
    unit: str = ""
    failed: int = 0
    extra: dict = field(default_factory=dict)


class ApiRead:
    name = "api_read"
    sf = 0.1
    clients = 2
    n_requests = 600  # drawn up front; the loop wraps around if it runs out

    def prepare(self, work: str, seed: int) -> dict:
        self.work, self.seed, self.next_request = work, seed, 0
        self.sf_dir = os.path.join(work, "fixtures")
        sizes = datagen.write_fixtures(self.sf_dir, self.sf, seed, DOMAIN_TABLES)
        ids = list(range(sizes["embeddings"]))
        self.requests = datagen.request_mix(seed, self.n_requests, ids)
        # warm-up requests come from a draw of their own, so the timed loop
        # does not start with requests the server has just answered
        drawn = datagen.request_mix(datagen.stable_int(seed, "warmup"), datagen.MIX_BLOCK, ids)
        first: dict[str, tuple] = {}
        for r in drawn:
            first.setdefault(r[0], r)
        self.warm = list(first.values())
        self.answers: dict[tuple, object] = {}
        return {"sf": self.sf, "tables": sizes, "loop": "closed", "clients": self.clients,
                "mix": dict(datagen.MIX), "limits": datagen.LIMITS,
                "requests_drawn": len(self.requests),
                "requests_sha256": datagen.digest(self.requests)}

    def setup(self, spark, index: int) -> None:
        self.served = Served(spark, os.path.join(self.work, f"served{index}"), self.sf_dir)
        self.seen: set[tuple] = set()  # requests this server has answered

    def warmup(self) -> None:
        for _, path, params in self.warm:  # one request of each kind
            self.served.client.call("GET", path, params)
            self.seen.add(_key(path, params))

    def measure(self, seconds: float, tracer=None) -> Phase:
        phase, lock = Phase(unit="request"), threading.Lock()
        counter = itertools.count(self.next_request)
        first = self.next_request + datagen.MIX_BLOCK  # every kind at least once
        responses = []
        t_end = time.perf_counter() + seconds

        def client():
            while True:
                with lock:
                    i = next(counter)
                if i >= first and time.perf_counter() >= t_end:
                    break
                _, path, params = self.requests[i % len(self.requests)]
                t0 = time.perf_counter()
                try:
                    status, body = self.served.client.call("GET", path, params)
                except OSError as e:
                    status, body = 0, str(e)
                ms = (time.perf_counter() - t0) * 1000.0
                with lock:
                    responses.append((i, ms, status, body))

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        phase.seconds = time.perf_counter() - t0
        # correctness, outside the timed loop: every response against the
        # DuckDB oracle's answer to the same request
        orc = oracle.Oracle(self.sf_dir)
        repeated = 0
        for i, ms, status, body in sorted(responses, key=lambda r: r[0]):
            op, path, params = self.requests[i % len(self.requests)]
            key = _key(path, params)
            repeated += key in self.seen
            self.seen.add(key)
            if key not in self.answers:
                self.answers[key] = orc.api_answer(op, path, params)
            ok = status == 200 and oracle.same(oracle.canonical_json(body), self.answers[key])
            phase.ops.append((op, ms, ok))
            phase.failed += not ok
        orc.close()
        phase.n_units = len(phase.ops)
        phase.extra["distinct_requests_checked"] = len(self.answers)
        # requests whose endpoint and parameters the server had already
        # answered (a result cache could serve them)
        phase.extra["repeated_share"] = repeated / max(len(responses), 1)
        self.next_request = next(counter)
        return phase

    def check(self) -> tuple[int, int]:
        return 0, 0  # every response was checked in measure()

    def teardown(self) -> None:
        self.served.close()


def _key(path: str, params: dict) -> tuple:
    return path, tuple(sorted(params.items()))


class BatchRegistry:
    name = "batch_registry"
    sf = 0.1
    queries = ("vector_search", "similar_search", "text_search", "merge_games_gather", "knn_join")

    def prepare(self, work: str, seed: int) -> dict:
        from roblox_vector_search_datagen_spark.plans.registry import QUERIES

        self.work, self.seed, self.registry = work, seed, QUERIES
        self.sf_dir = os.path.join(work, "fixtures")
        sizes = datagen.write_fixtures(self.sf_dir, self.sf, seed, DOMAIN_TABLES)
        orc = oracle.Oracle(self.sf_dir)
        self.answers = {q: oracle.canonical(*orc.rows(QUERIES[q].oracle)) for q in self.queries}
        orc.close()
        self.results: list[tuple[str, object]] = []  # (query, arrow table) of the warm-up
        return {"sf": self.sf, "tables": sizes, "loop": "closed", "clients": 1,
                "queries": list(self.queries)}

    def setup(self, spark, index: int) -> None:
        from roblox_vector_search_datagen_spark.sources import tables

        self.spark = spark
        for t in DOMAIN_TABLES:  # register the fixture scans
            tables.load_table(spark, self.sf_dir, t)

    def warmup(self) -> None:
        """One pass that collects each query's rows, which check() compares
        with the registry oracle."""
        for q in self.queries:
            self.results.append((q, self.registry[q].builder(self.spark, self.sf_dir).toArrow()))

    def measure(self, seconds: float, tracer=None) -> Phase:
        phase = Phase(unit="query")
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < seconds:
            t_pass = time.perf_counter()
            for q in self.queries:
                t0 = time.perf_counter()
                ok = True
                try:
                    self._run(q, tracer)
                except Exception:  # noqa: BLE001 — a failing query counts as an error
                    ok = False
                phase.ops.append((q, (time.perf_counter() - t0) * 1000.0, ok))
                phase.failed += not ok
            passes.append(time.perf_counter() - t_pass)
        phase.seconds = time.perf_counter() - t_start
        phase.n_units = len(phase.ops)
        phase.extra["pass_s"] = passes
        phase.extra["query_ms"] = {q: [ms for k, ms, ok in phase.ops if k == q and ok]
                                   for q in self.queries}
        return phase

    def _run(self, q: str, tracer) -> None:
        if tracer is None:
            df = self.registry[q].builder(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return
        span = tracer.start("registry", "build")
        try:
            df = self.registry[q].builder(self.spark, self.sf_dir)
        finally:
            tracer.end(span)
        span.built.append(df)
        # the noop write plans in a QueryExecution that Python cannot
        # reach; plan the query's own one to read Catalyst's phase times
        span = tracer.start("catalyst", "plan")
        try:
            df._jdf.queryExecution().executedPlan()
        finally:
            tracer.end(span)
        span.dfs.append(df)
        span = tracer.start("registry", "run")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            tracer.end(span)

    def check(self) -> tuple[int, int]:
        mismatched = 0
        for q, table in self.results:
            got = oracle.canonical(table.column_names, [list(r.values()) for r in table.to_pylist()])
            mismatched += not oracle.same(got, self.answers[q])
        return len(self.results), mismatched

    def teardown(self) -> None:
        pass


class IngestMixed:
    name = "ingest_mixed"
    sf = 0.001
    reads_each = 1
    n_new, n_renamed = 20, 5
    posts = ("/gather-games", "/download-descriptions", "/generate-gameplay-descriptions",
             "/generate-embeddings")

    def prepare(self, work: str, seed: int) -> dict:
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "fixtures")
        sizes = datagen.write_fixtures(self.sf_dir, self.sf, seed)
        return {"sf": self.sf, "tables": sizes, "loop": "closed", "clients": 1,
                "posts_per_cycle": list(self.posts), "reads_per_cycle": 3 * self.reads_each,
                "new_games_per_cycle": self.n_new, "renamed_per_cycle": self.n_renamed,
                "mix": dict(datagen.MIX)}

    def setup(self, spark, index: int) -> None:
        import pyarrow.parquet as pq

        self.factory = FakeApis(self.seed)
        self.served = Served(spark, os.path.join(self.work, f"served{index}"), self.sf_dir,
                             transport_factory=self.factory)
        data_dir = self.served.corpus.data_dir
        games = pq.read_table(os.path.join(data_dir, "games.parquet")).to_pylist()
        self.model = {g.pop("universeId"): g for g in games}
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["universeId"])
        self.embedded = set(emb.column(0).to_pylist())
        self.cycle = 0
        self.terminal: dict[str, tuple[float, dict]] = {}
        self.waits_ms: list[float] = []  # of the jobs of the current phase
        self.cond = threading.Condition()
        self.served.jobs.on_job_updated(self._on_job)
        self.spark = spark

    def warmup(self) -> None:
        self.served.client.call("GET", "/stats")
        # start Spark's Python workers before timing
        self.spark.range(4).mapInPandas(_identity, "id long").collect()

    def _on_job(self, row: dict) -> None:
        now = time.perf_counter()
        if row["status"] == "running" and row["progress_current"] is None:
            self.waits_ms.append((row["started_at"] - row["created_at"]).total_seconds() * 1000.0)
        if row["status"] in ("completed", "failed"):
            with self.cond:
                self.terminal[row["id"]] = (now, row)
                self.cond.notify_all()

    def _await(self, job_id: str) -> tuple[float, dict]:
        with self.cond:
            if not self.cond.wait_for(lambda: job_id in self.terminal, timeout=150):
                raise TimeoutError(f"job {job_id} did not finish")
            return self.terminal.pop(job_id)

    def measure(self, seconds: float, tracer=None) -> Phase:
        phase = Phase(unit="cycle")
        client = self.served.client
        self.waits_ms = []
        while phase.n_units == 0 or phase.seconds < seconds:
            t_cycle = time.perf_counter()
            batch = datagen.ingest_batch(self.seed, self.cycle, list(self.model), self.n_new,
                                         self.n_renamed)
            self.factory.batch = batch
            for path in self.posts:
                t_post = time.perf_counter()
                status, body = client.call("POST", path)
                t_ret = time.perf_counter()
                ok = status == 200
                phase.ops.append(("post", (t_ret - t_post) * 1000.0, ok))
                if ok:
                    t_term, row = self._await(body["jobId"])
                    ok = row["status"] == "completed"
                phase.ops.append(("job", (t_term - t_ret) * 1000.0 if ok else 0.0, ok))
                phase.failed += not ok
            before = set(self.embedded)
            expected_after_cycle(self.seed, self.model, self.embedded, batch)
            for op, path, params in self._reads(sorted(self.embedded - before)):
                t0 = time.perf_counter()
                status, body = client.call("GET", path, params)
                ok = status == 200 and (op != "similar" or bool(body))
                phase.ops.append((op, (time.perf_counter() - t0) * 1000.0, ok))
                phase.failed += not ok
            phase.seconds += time.perf_counter() - t_cycle
            phase.n_units += 1
            self.cycle += 1
            # untimed: /stats matches what the model says the cycle did
            t0 = time.perf_counter()
            status, stats = client.call("GET", "/stats")
            ok = status == 200 and stats == expected_stats(self.model, self.embedded)
            phase.ops.append(("check", (time.perf_counter() - t0) * 1000.0, ok))
            phase.failed += not ok
        phase.extra["job_wait_ms"] = self.waits_ms
        return phase

    def _reads(self, fresh: list[int]) -> list[tuple]:
        """`reads_each` text, vector and similar requests from the
        api_read mix; similar-search targets games embedded this cycle."""
        drawn = datagen.request_mix(datagen.stable_int(self.seed, "reads", self.cycle), 60,
                                    fresh or sorted(self.embedded))
        return [r for kind in ("text", "vector", "similar")
                for r in [r for r in drawn if r[0] == kind][: self.reads_each]]

    def check(self) -> tuple[int, int]:
        return 0, 0  # checked after every cycle in measure()

    def teardown(self) -> None:
        self.served.close()


def _identity(batches):
    return batches


WORKLOADS = {w.name: w for w in (ApiRead, BatchRegistry, IngestMixed)}
