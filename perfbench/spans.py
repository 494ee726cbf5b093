"""Spans around the engine's layers, recorded from the benchmark's side.

`Tracer.instrument()` wraps the public functions of each layer (module
and class attributes, so callers that look them up at call time see the
wrapper) and `Tracer.uninstrument()` puts the originals back. Each span
tags the Spark jobs it starts with its own job group, so `exec_by_span()` can
read job, stage and task metrics from the status store afterwards.
Nothing inside the package changes.

A span's self time is its duration minus its child spans, the Spark job
wall time of its own job group, and the Catalyst phases attributed to
it (analysis to the span that built the plan, optimization and planning
to the span that ran the action).
"""

from __future__ import annotations

import functools
import itertools
import os
import re
import threading
import time
from dataclasses import dataclass, field

PY_STAGE = re.compile(r"Pandas|Python|Arrow")  # operator scopes of stages that run Python
GROUP = "spark.jobGroup.id"
EXEC_KEYS = ("jobs", "stages", "tasks", "wall_ms", "task_ms", "shuffle_read", "shuffle_write",
             "spill", "gc_ms", "python_stage_ms")


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    wall0: float = 0.0
    prev_group: str | None = None  # job group to restore when the span ends
    dfs: list = field(default_factory=list)  # DataFrames whose QueryExecution ran in this span
    built: list = field(default_factory=list)  # DataFrames whose plan this span built
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def _data_files(path: str):
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):  # skip checksums and markers
                yield os.stat(os.path.join(root, n))


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`."""
    sizes = [st.st_size for st in _data_files(path)]
    return len(sizes), sum(sizes)


def files_since(path: str, wall0: float) -> int:
    """Bytes of the data files under `path` modified at or after `wall0`."""
    return sum(st.st_size for st in _data_files(path) if st.st_mtime >= wall0)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, layer: str, name: str) -> Span:
        stack = self._stack()
        span = Span(next(self._ids), stack[-1].sid if stack else None, layer, name, 0.0)
        span.prev_group = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"pb{span.sid}")
        stack.append(span)
        span.wall0 = time.time()
        span.t0 = time.perf_counter()
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self._stack().pop()
        self.sc.setLocalProperty(GROUP, span.prev_group)
        with self._lock:
            self.spans.append(span)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    # -- instrumentation ---------------------------------------------------

    def _wrap(self, owner, attr: str, layer: str, name: str | None = None, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.start(layer, name or attr)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(span)
            if after is not None:
                after(span, args, kwargs, out)
            return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def instrument(self) -> None:
        from roblox_vector_search_datagen_spark import api, cli, corpus
        from roblox_vector_search_datagen_spark.functions import vector
        from roblox_vector_search_datagen_spark.jobs import manager
        from roblox_vector_search_datagen_spark.operators import search

        def built(span, _args, _kwargs, df):  # an API handler runs the plan its builder returns
            span.built.append(df)
            parent = self.current()
            if parent is not None and parent.layer == "api":
                parent.dfs.append(df)

        def written(span, args, _kwargs, _out):  # files of the corpus written during the span
            span.extra["bytes"] = files_since(args[0].data_dir, span.wall0)

        for attr in ("get_games", "get_search", "get_vector_search", "get_similar_search",
                     "get_stats", "post_gather_games", "post_download_descriptions",
                     "post_generate_gameplay_descriptions", "post_generate_embeddings"):
            self._wrap(api.ApiService, attr, "api")
        for attr in ("games", "embeddings", "images"):
            self._wrap(corpus.Corpus, attr, "corpus", "read")
        self._wrap(corpus.Corpus, "rewrite_many", "corpus", "rewrite", after=written)
        self._wrap(corpus.Corpus, "write_embeddings", "corpus", "rewrite", after=written)
        self._wrap(vector, "embed_query", "vector")
        for attr in ("vector_search_df", "similar_search_df", "text_search_df", "list_games_df",
                     "stats_df", "count_games_df"):
            self._wrap(search, attr, "search", "build", after=built)
        self._wrap(manager.JobManager, "create_job", "jobs", "create")
        self._wrap(manager.JobManager, "get_job", "jobs", "get")
        self._wrap(manager.JobManager, "_transition", "jobs", "transition")
        for attr in ("gather_games", "download_descriptions", "generate_gameplay_descriptions",
                     "generate_embeddings"):
            self._wrap(cli, attr, "cli", "command")

    def uninstrument(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- Spark-side readout ------------------------------------------------

    def exec_by_span(self) -> dict[int, dict]:
        """Per span: jobs, stages, tasks, job wall ms (the union of the
        jobs' intervals), task ms, shuffle and spill bytes, GC ms and
        Python-stage ms of the jobs tagged with that span's job group."""
        store = self.sc._jsc.sc().statusStore()
        out: dict[int, dict] = {}
        intervals: dict[int, list[tuple[int, int]]] = {}
        seen_stages: set[int] = set()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith("pb"):
                continue
            sid = int(group.get()[2:])
            rec = out.setdefault(sid, dict.fromkeys(EXEC_KEYS, 0))
            rec["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.setdefault(sid, []).append((sub.get().getTime(), done.get().getTime()))
            stages = job.stageIds().iterator()
            while stages.hasNext():
                stage_id = stages.next()
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                st = store.lastStageAttempt(stage_id)
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["task_ms"] += st.executorRunTime()
                rec["shuffle_read"] += st.shuffleReadBytes()
                rec["shuffle_write"] += st.shuffleWriteBytes()
                rec["spill"] += st.diskBytesSpilled()
                rec["gc_ms"] += st.jvmGcTime()
                if self._is_python_stage(store, stage_id):
                    sub_t, done_t = st.submissionTime(), st.completionTime()
                    if sub_t.isDefined() and done_t.isDefined():
                        rec["python_stage_ms"] += done_t.get().getTime() - sub_t.get().getTime()
        for sid, spans in intervals.items():  # adaptive execution overlaps jobs of one action
            out[sid]["wall_ms"] = _union_ms(spans)
        return out

    @staticmethod
    def _is_python_stage(store, stage_id: int) -> bool:
        def names(cluster, acc):
            acc.append(cluster.name())
            nodes = cluster.childNodes().iterator()
            while nodes.hasNext():
                acc.append(nodes.next().name())
            kids = cluster.childClusters().iterator()
            while kids.hasNext():
                names(kids.next(), acc)
            return acc

        try:
            graph = store.operationGraphForStage(stage_id)
        except Exception:  # noqa: BLE001 — graph evicted: count the stage as JVM-only
            return False
        return any(PY_STAGE.search(n) for n in names(graph.rootCluster(), []))


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total, end = total + b - a, b
        elif b > end:
            total, end = total + b - end, b
    return total


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning ms recorded by the
    QueryPlanningTracker of `df`'s own QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        k: float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
        for k in ("analysis", "optimization", "planning")
    }


def storage_sample(sc) -> dict[int, tuple[int, int]]:
    """{rdd id: (cached partitions, memory bytes)} of the persisted RDDs."""
    return {
        i.id(): (i.numCachedPartitions(), i.memSize())
        for i in sc._jsc.sc().getRDDStorageInfo()
        if i.isCached()
    }


def evictions(samples: list[dict[int, tuple[int, int]]]) -> int:
    """Partitions that left the cache of an RDD that stayed persisted."""
    lost, high = 0, {}
    for sample in samples:
        for rdd, (parts, _) in sample.items():
            if parts < high.get(rdd, 0):
                lost += high[rdd] - parts
            high[rdd] = parts
    return lost


MIB = 1024.0 * 1024.0


def layer_report(tracer: Tracer, units: int, http_ms: float) -> tuple[dict[str, float], dict]:
    """Per-layer totals divided by `units`, and each layer's self time.

    `http_ms` is the client-observed time of every HTTP request in the
    traced phase; what the API handler spans do not cover of it is the
    transport's (`httpd`) share."""
    exec_by = tracer.exec_by_span()
    by_id = {s.sid: s for s in tracer.spans}
    child_ms: dict[int, float] = {}
    for s in tracer.spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
    phases: dict[int, dict[str, float]] = {}
    seen_built: set[int] = set()
    seen_run: set[int] = set()
    tot: dict[str, float] = {}
    self_ms: dict[str, float] = {}

    def add(d: dict, key: str, v: float) -> None:
        d[key] = d.get(key, 0.0) + v

    for s in tracer.spans:  # spans end inner-first, so the innermost builder claims a plan
        ex = exec_by.get(s.sid, dict.fromkeys(EXEC_KEYS, 0))
        catalyst = 0.0
        for df in s.built:
            if id(df) not in seen_built:
                seen_built.add(id(df))
                ph = phases.setdefault(id(df), catalyst_ms(df))
                add(tot, "catalyst.analysis_ms", ph["analysis"])
                catalyst += ph["analysis"]
        for df in s.dfs:
            if id(df) not in seen_run:
                seen_run.add(id(df))
                ph = phases.setdefault(id(df), catalyst_ms(df))
                add(tot, "catalyst.optimization_ms", ph["optimization"])
                add(tot, "catalyst.planning_ms", ph["planning"])
                catalyst += ph["optimization"] + ph["planning"]
        for k in EXEC_KEYS:
            add(tot, k, ex[k])
        add(self_ms, s.layer, s.ms - child_ms.get(s.sid, 0.0) - ex["wall_ms"] - catalyst)
        add(self_ms, "catalyst", catalyst)
        add(self_ms, "exec", ex["wall_ms"])
        parent = by_id.get(s.parent)
        if parent is None or (parent.layer, parent.name) != (s.layer, s.name):  # outermost
            add(tot, f"{s.layer}.{s.name}", s.ms)
            add(tot, "corpus.bytes", s.extra.get("bytes", 0))
    api_ms = sum(s.ms for s in tracer.spans if s.layer == "api")
    self_ms["httpd"] = http_ms - api_ms if http_ms else 0.0
    n = max(units, 1)

    def per(key: str, scale: float = 1.0) -> float:
        return tot.get(key, 0.0) / scale / n

    metrics = {
        "httpd.overhead_ms": self_ms["httpd"] / n,
        "api.handler_ms": api_ms / n,
        "api.self_ms": self_ms.get("api", 0.0) / n,
        "corpus.read_ms": per("corpus.read"),
        "corpus.rewrite_ms": per("corpus.rewrite"),
        "corpus.bytes_written_mb": per("corpus.bytes", MIB),
        "vector.embed_query_ms": per("vector.embed_query"),
        "search.build_ms": per("search.build"),
        "registry.build_ms": per("registry.build"),
        "registry.run_ms": per("registry.run"),
        "catalyst.analysis_ms": per("catalyst.analysis_ms"),
        "catalyst.optimization_ms": per("catalyst.optimization_ms"),
        "catalyst.planning_ms": per("catalyst.planning_ms"),
        "exec.jobs": per("jobs"),
        "exec.stages": per("stages"),
        "exec.tasks": per("tasks"),
        "exec.wall_ms": per("wall_ms"),
        "exec.task_ms": per("task_ms"),
        "exec.shuffle_read_mb": per("shuffle_read", MIB),
        "exec.shuffle_write_mb": per("shuffle_write", MIB),
        "exec.spill_mb": per("spill", MIB),
        "exec.gc_ms": per("gc_ms"),
        "exec.python_stage_ms": per("python_stage_ms"),
        "jobs.create_ms": per("jobs.create"),
        "jobs.get_ms": per("jobs.get"),
        "jobs.transition_ms": per("jobs.transition"),
        "cli.command_ms": per("cli.command"),
    }
    return metrics, {k: round(v / n, 3) for k, v in sorted(self_ms.items())}
