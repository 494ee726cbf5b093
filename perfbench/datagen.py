"""Seeded inputs for the benchmark.

`write_fixtures` writes an sf directory with the ten parquet tables the
engine's registry reads (`sources.tables.TPCH_TABLES`), with the same
column names, types and value shapes as the fixtures the tests use, but
drawn from `--seed`. `request_mix` and `ingest_batch` draw the HTTP
requests and the gather batches the workloads send. The same seed always
gives the same bytes and the same requests.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "part": max(50, int(200_000 * sf)),
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(200, int(1_000_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_fixtures(out_dir: str, sf: float, seed: int, only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the fixture tables for scale factor `sf` (all ten, or those
    in `only`); returns row counts per table written. Each table draws
    from its own seeded generator, so a table is the same bytes whichever
    others are written."""
    os.makedirs(out_dir, exist_ok=True)
    n = {"region": 5, "nation": 25, **table_sizes(sf)}
    names = [t for t in n if only is None or t in only]

    def want(name: str) -> np.random.Generator | None:
        if name not in names:
            return None
        return np.random.default_rng([seed, list(n).index(name)])

    if "region" in names:
        _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS),
        })
    if "nation" in names:
        _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if (rng := want("customer")) is not None:
        k = n["customer"]
        _write(out_dir, "customer", {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, k, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, k)],
        })
    if (rng := want("supplier")) is not None:
        k = n["supplier"]
        _write(out_dir, "supplier", {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, k, -999.99, 9999.99),
        })
    if (rng := want("part")) is not None:
        k = n["part"]
        adj, noun = rng.integers(0, len(ADJECTIVES), k), rng.integers(0, len(NOUNS), k)
        _write(out_dir, "part", {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": [P_TYPES[t] for t in rng.integers(0, len(P_TYPES), k)],
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
        })
    if (rng := want("orders")) is not None:
        k = n["orders"]
        _write(out_dir, "orders", {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], k, dtype=np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, k, 900.0, 500_000.0),
            "o_orderdate": _days(rng, k, "1995-01-01", 2404),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k)],
        })
    if (rng := want("lineitem")) is not None:
        k = n["lineitem"]
        qty = rng.integers(1, 51, k).astype(np.float64)
        _write(out_dir, "lineitem", {
            "l_orderkey": rng.integers(0, n["orders"], k, dtype=np.int64),
            "l_partkey": rng.integers(0, n["part"], k, dtype=np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], k, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, k), 2),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, k)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, k)],
            "l_shipdate": _days(rng, k, "1995-01-02", 2498),
        })
    if (rng := want("events")) is not None:
        k = n["events"]
        offs = np.sort(rng.integers(0, 30 * 86_400_000_000, k)).astype("timedelta64[us]")
        _write(out_dir, "events", {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(k * 0.015)), k, dtype=np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, k)],
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)],
        })
    if (rng := want("documents")) is not None:
        k = n["documents"]
        lengths = rng.integers(8, 100, k)
        texts = [" ".join(DOC_WORDS[w] for w in rng.integers(0, len(DOC_WORDS), m)) for m in lengths]
        # 5% near-duplicates (another document plus a marker word) and a few
        # exact copies, so the dedup families have pairs to find
        for i in np.flatnonzero(rng.random(k) < 0.05):
            texts[i] = texts[int(rng.integers(0, k))] + " dup"
        for i in np.flatnonzero(rng.random(k) < 0.002):
            texts[i] = texts[int(rng.integers(0, k))]
        _write(out_dir, "documents", {
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), k)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if (rng := want("embeddings")) is not None:
        k = n["embeddings"]
        vecs = rng.standard_normal((k, EMBED_DIM)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        _write(out_dir, "embeddings", {
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, k), pa.int32()),
        })
    return {t: n[t] for t in names}


# ---------------------------------------------------------------------------
# HTTP request mix
# ---------------------------------------------------------------------------

MIX = (("text", 0.30), ("vector", 0.30), ("similar", 0.25), ("games", 0.10), ("stats", 0.05))
LIMITS = (1, 10, 50, 100)
MIX_BLOCK = 20
# Popularity of query strings is Zipf-like, p(rank r) ~ 1 / r**ZIPF_S. Request
# traces seen by web caches fit exponents below 1, 0.64 to 0.83 (Breslau et
# al., "Web Caching and Zipf-like Distributions: Evidence and Implications",
# INFOCOM 1999); the benchmark takes the upper end of that range.
ZIPF_S = 0.8


def query_vocabulary(rng: random.Random) -> list[str]:
    """Every phrase the corpus words make (game names, "<type> <adj>",
    "<noun> kit", single words), plus one word pair that matches nothing
    for every four of them, in a seeded order that fixes which phrases
    are popular."""
    types = [t.lower() for t in P_TYPES]
    words = list(ADJECTIVES) + list(NOUNS) + types + ["kit"]
    phrases = set(words)
    phrases.update(f"{a} {n}" for a in ADJECTIVES for n in NOUNS)
    phrases.update(f"{n} kit" for n in NOUNS)
    phrases.update(f"{t} {a}" for t in types for a in ADJECTIVES)
    out = sorted(phrases)
    size = len(out) * 5 // 4
    while len(out) < size:
        p = " ".join(rng.sample(words, 2))
        if p not in phrases:
            phrases.add(p)
            out.append(p)
    rng.shuffle(out)
    return out


def request_mix(seed: int, n: int, embedded_ids: list[int]) -> list[tuple]:
    """`n` requests as (op, path, params) tuples. Every block of
    `MIX_BLOCK` requests holds each kind in its exact share, in a seeded
    order, so a run's mix does not drift with the seed. Query strings are
    Zipf-skewed over the vocabulary (`ZIPF_S`); similar-search targets
    are uniform over `embedded_ids`."""
    rng = random.Random(seed)
    vocab = query_vocabulary(rng)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(vocab))]
    block = [op for op, share in MIX for _ in range(round(share * MIX_BLOCK))]
    out = []
    for i in range(n):
        if i % MIX_BLOCK == 0:
            rng.shuffle(block)
        op = block[i % MIX_BLOCK]
        limit = rng.choice(LIMITS)
        if op == "text":
            out.append((op, "/search", {"q": rng.choices(vocab, weights)[0], "limit": limit}))
        elif op == "vector":
            out.append((op, "/vector-search", {"q": rng.choices(vocab, weights)[0], "limit": limit}))
        elif op == "similar":
            out.append((op, f"/similar-search/{rng.choice(embedded_ids)}", {"limit": limit}))
        elif op == "games":
            out.append((op, "/games", {"limit": limit}))
        else:
            out.append((op, "/stats", {}))
    return out


# ---------------------------------------------------------------------------
# ingest batches (served by fake_transport)
# ---------------------------------------------------------------------------

def digest(obj) -> str:
    """sha256 of the JSON form of generated inputs, to record them."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def stable_int(*parts) -> int:
    """Process-independent hash (Python's str hash is salted per process,
    and the fake transport runs in Spark's Python workers)."""
    return int(hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()[:12], 16)


def ingest_batch(seed: int, cycle: int, existing_ids: list[int], n_new: int, n_renamed: int) -> list[dict]:
    """One explore-sorts gather result: `n_new` new games (one of them
    listed twice, so the keep-last rule applies) and `n_renamed`
    existing games under new names, in batch order."""
    rng = random.Random(stable_int(seed, "ingest", cycle))
    base = 50_000_000 + cycle * 10_000
    rows = [
        {
            "universeId": base + i,
            "rootPlaceId": (base + i) * 10 + 3,
            "name": f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)} {rng.choice(('quest', 'tycoon', 'obby', 'sim'))}",
        }
        for i in range(n_new)
    ]
    for uid in rng.sample(sorted(existing_ids), min(n_renamed, len(existing_ids))):
        rows.append({"universeId": uid, "rootPlaceId": uid * 10 + 5,
                     "name": f"renamed {rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}"})
    if rows:
        again = dict(rows[0])
        again["name"] = again["name"] + " deluxe"
        rows.append(again)
    rng.shuffle(rows)
    return rows
