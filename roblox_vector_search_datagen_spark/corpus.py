"""Corpus storage: the engine-internal home of the reference's
data/games directory (README.md:40-43) — parquet tables for games,
embeddings and images under one data_dir, plus import/export to the
reference's JSON file formats (sources/jsonio.py).

Spark cannot overwrite a parquet path it is currently reading, so every
rewrite goes through a staging directory and an atomic-ish swap — the
batch analog of the reference's whole-file JSON overwrite
(gatherGames.ts:93). On a real cluster this table would be Delta/Iceberg
and the swap a MERGE/replace; the staging pattern keeps the same
restart-safety (the live directory is always a complete table).

Reads for the HTTP API come from a *snapshot* of the current version
(`Corpus.snapshot()`): the games table and the search scoring frame
(operators/search.py `scoring_df`), both cached, plus the /stats row.
Each part is built once per version, under `_lock`, and every write to
games or embeddings drops the whole snapshot under the same lock before
it swaps or appends to a live directory.

The drop must be synchronous: Spark's CacheManager substitutes a cached
scan into any later plan over the same path, so while the old entry is
cached even a fresh `spark.read.parquet(live)` returns the old rows. A
lazily checked signature (a directory mtime, say) would let such reads
through. All writers must therefore go through the Corpus object that
serves the reads.
"""

from __future__ import annotations

import os
import shutil
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import search
from .schemas import EMBEDDING_SCHEMA, GAME_SCHEMA, IMAGE_SCHEMA, local_df
from .sources import jsonio

class Snapshot:
    """Cached reads of one corpus version: the games table, the search
    scoring frame and the /stats row. Each part is built on first use,
    under the corpus lock that writers hold while they drop the snapshot;
    a part asked of a dropped snapshot comes from the current one, so no
    cache entry outlives its version."""

    def __init__(self, corpus: Corpus):
        self._corpus = corpus
        self._parts: dict[str, object] = {}

    def _part(self, name: str, build: Callable[[], object]):
        with self._corpus._lock:
            if self._corpus._snapshot is not self:
                return getattr(self._corpus.snapshot(), name)
            if name not in self._parts:
                self._parts[name] = build()
            return self._parts[name]

    @property
    def games(self) -> DataFrame:
        return self._part("games", lambda: self._corpus.games().cache())

    @property
    def scoring(self) -> DataFrame:
        return self._part(
            "scoring", lambda: search.scoring_df(self.games, self._corpus.embeddings()).cache()
        )

    @property
    def stats(self) -> dict:
        # plain reads: a /stats alone caches nothing, and once the games
        # part exists the CacheManager substitutes it here anyway
        c = self._corpus
        return self._part(
            "stats", lambda: search.stats_df(c.games(), c.embeddings()).collect()[0].asDict()
        )

    def unpersist(self) -> None:
        for name in ("scoring", "games"):
            if name in self._parts:
                self._parts[name].unpersist(blocking=True)

class Corpus:
    def __init__(self, spark: SparkSession, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        os.makedirs(data_dir, exist_ok=True)
        self._lock = threading.RLock()
        self._snapshot: Snapshot | None = None

    def _path(self, name: str) -> str:
        return os.path.join(self.data_dir, name)

    # -- reads (explicit schemas, never inference) -------------------------

    def games(self) -> DataFrame:
        return self.spark.read.schema(GAME_SCHEMA).parquet(self._path("games.parquet"))

    def embeddings(self) -> DataFrame:
        return self.spark.read.schema(EMBEDDING_SCHEMA).parquet(self._path("embeddings.parquet"))

    def images(self) -> DataFrame:
        path = self._path("images.parquet")
        if not os.path.exists(path):
            return local_df(self.spark, [], IMAGE_SCHEMA)
        return self.spark.read.schema(IMAGE_SCHEMA).parquet(path)

    def snapshot(self) -> Snapshot:
        with self._lock:
            if self._snapshot is None:
                self._snapshot = Snapshot(self)
            return self._snapshot

    def drop_snapshot(self) -> None:
        with self._lock:
            if self._snapshot is not None:
                self._snapshot.unpersist()
                self._snapshot = None

    # -- writes ------------------------------------------------------------

    def _rewrite(self, df: DataFrame, name: str) -> None:
        """Stage-and-swap overwrite: materialize to <name>.staging, then
        replace the live directory. Never leaves a half-written table at
        the live path."""
        self.rewrite_many({name: df})

    def rewrite_many(self, updates: dict[str, DataFrame]) -> None:
        """Multi-table overwrite: ALL staging writes run before ANY live
        directory is swapped. Required when the new value of one table
        is derived from the current value of another (e.g. prune rewrites
        games and embeddings from a joint plan) — swapping early would
        invalidate the other plan's captured file listing."""
        for name, df in updates.items():
            df.write.mode("overwrite").parquet(self._path(name + ".staging"))
        with self._lock:
            self.drop_snapshot()
            for name in updates:
                live = self._path(name)
                if os.path.exists(live):
                    shutil.rmtree(live)
                os.replace(self._path(name + ".staging"), live)

    def write_games(self, df: DataFrame) -> None:
        self._rewrite(df.select(*[f.name for f in GAME_SCHEMA.fields]), "games.parquet")

    def write_embeddings(self, df: DataFrame, mode: str = "overwrite") -> None:
        cols = df.select(*[f.name for f in EMBEDDING_SCHEMA.fields])
        if mode == "append":
            with self._lock:
                self.drop_snapshot()
                cols.write.mode("append").parquet(self._path("embeddings.parquet"))
        else:
            self._rewrite(cols, "embeddings.parquet")

    def write_images(self, df: DataFrame, mode: str = "append") -> None:
        cols = df.select(*[f.name for f in IMAGE_SCHEMA.fields])
        if mode == "append" and os.path.exists(self._path("images.parquet")):
            cols.write.mode("append").parquet(self._path("images.parquet"))
        else:
            self._rewrite(cols, "images.parquet")

    # -- reference-format interchange (S1-S4) ------------------------------

    def import_games_json(self, path: str) -> None:
        self.write_games(jsonio.read_games_json(self.spark, path))

    def export_games_json(self, path: str) -> int:
        return jsonio.write_games_json(self.games(), path)

    def import_embeddings_json(self, path: str) -> None:
        self.write_embeddings(jsonio.read_embeddings_json(self.spark, path))

    def export_embeddings_json(self, path: str) -> int:
        return jsonio.write_embeddings_json(self.embeddings(), path)

    # -- bootstrap ---------------------------------------------------------

    def init_empty(self) -> None:
        if not os.path.exists(self._path("games.parquet")):
            self.write_games(local_df(self.spark, [], GAME_SCHEMA))
        if not os.path.exists(self._path("embeddings.parquet")):
            self.write_embeddings(local_df(self.spark, [], EMBEDDING_SCHEMA))

    # -- reference image-directory interchange (S13) -----------------------

    def import_images_dir(self, path: str) -> None:
        """Ingest the reference's loose-file layout
        data/games/images/<universeId>/{icon,thumbnail}.png
        (downloadImages.ts:42-44) through Spark's binaryFile source —
        a distributed scan, not a driver directory walk."""
        from pyspark.sql import functions as F

        raw = (
            self.spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.png")
            .option("recursiveFileLookup", "true")
            .load(path)
        )
        pat = r"(\d+)/(icon|thumbnail)\.png$"
        parsed = raw.select(
            F.regexp_extract("path", pat, 1).cast("long").alias("universeId"),
            F.regexp_extract("path", pat, 2).alias("kind"),
            F.concat(
                F.lit("images/"),
                F.regexp_extract("path", pat, 1),
                F.lit("/"),
                F.regexp_extract("path", pat, 2),
                F.lit(".png"),
            ).alias("path"),
            "content",
        ).filter(F.col("kind") != "")
        self.write_images(parsed, mode="overwrite")

    def export_images_dir(self, path: str) -> int:
        """Write the images table back out as the reference's loose-file
        tree. Driver-side streaming by design — a real cluster would
        foreachPartition this against shared storage; the byte layout is
        the contract here. Returns files written."""
        n = 0
        for r in self.images().toLocalIterator():
            d = os.path.join(path, str(r["universeId"]))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{r['kind']}.png"), "wb") as f:
                f.write(bytes(r["content"]))
            n += 1
        return n
