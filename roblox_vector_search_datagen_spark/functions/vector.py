"""Vector kernel: cosine similarity + deterministic query encoder.

Reference: cosineSimilarity at src/lib/tools.ts:15-20 — dot/(|a||b|)
with float64 accumulation. Two Spark implementations:

* `cosine_expr` — pure Catalyst higher-order functions (zip_with +
  aggregate). Stays JVM-side inside whole-stage codegen, needs no
  Python worker, and is exactly reproducible in the DuckDB oracle
  (double accumulation both sides).
* `cosine_batch` — numpy kernel for the mapInPandas/Arrow path, used by
  the ANN operators where one task scores a whole partition as a
  matrix-vector product (the 100 TB-scale path: BLAS beats per-row
  expression eval).

The query encoder (`embed_query`) replaces the reference's runtime
embedding API call (S16, src/endpoints/vectorSearch.get.ts:106-121)
with a deterministic md5-seeded projection so engine and oracle share
the exact same literal vector (FIXTURES.md §6).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ with float64 accumulation (matches tools.ts:16)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )

def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either norm is zero (the reference
    would emit NaN via 0-division — NULL is the relational analog)."""
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom == 0, F.lit(None).cast("double")).otherwise(dot_expr(a, b) / denom)

# Spark-SQL *string* twins of the Column builders above (NOT DuckDB —
# see cosine_sql for that dialect): one F.expr()/selectExpr parse costs
# a single py4j round-trip where each higher-order-function Column
# costs ~20 (building the lambdas dominates the hot builders' time,
# r12 profile). `0.0` alone would parse as DECIMAL in SQL text, so the
# accumulator inits are cast explicitly — same expression trees as the
# Column forms after parsing, value-pinned by every vector oracle.

def dot_expr_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )

def norm_expr_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )

def cosine_expr_sql(a: str, b: str, norm_a: str | None = None, norm_b: str | None = None) -> str:
    """`norm_a`/`norm_b` name precomputed norm_expr_sql values (a column
    of a cached frame) in place of recomputing them per row."""
    denom = f"{norm_a or norm_expr_sql(a)} * {norm_b or norm_expr_sql(b)}"
    return (
        f"CASE WHEN {denom} = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE {dot_expr_sql(a, b)} / ({denom}) END"
    )

def vector_lit_spark_sql(vec: list[float]) -> str:
    """Spark-SQL literal array<double> of a query vector (the SQL-text
    twin of vector_lit; `D` suffix keeps each element a double)."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vec) + ")"

def cosine_batch(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Vectorized cosine of a (n, d) float matrix against one query."""
    mat = mat.astype(np.float64, copy=False)
    q = q.astype(np.float64, copy=False)
    norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = mat @ q / norms
    return np.where(norms == 0, np.nan, sims)

# ---------------------------------------------------------------------------
# Deterministic query encoder (S16 stub)
# ---------------------------------------------------------------------------

def embed_query(text: str, dim: int = 64) -> list[float]:
    """Hash-to-uniform projection of `text` into [-0.5, 0.5)^dim.

    Values are rounded to 6 decimals so the decimal literal parses to
    the identical double in Spark and DuckDB.
    """
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{text}:{i}".encode()).hexdigest()
        out.append(round(int(h[:8], 16) / 0x100000000 - 0.5, 6))
    return out

def vector_lit(vec: list[float]) -> Column:
    """Spark literal array<double> for a query vector (broadcast to every
    task as part of the serialized plan — no shuffle, no join)."""
    return F.array(*[F.lit(float(v)) for v in vec])

def vector_sql_literal(vec: list[float]) -> str:
    """DuckDB literal: [..]::DOUBLE[]."""
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]::DOUBLE[]"

def cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine with explicit double accumulation, mirroring
    cosine_expr bit-for-bit at 6-decimal rounding."""
    da = f"CAST({a} AS DOUBLE[])"
    db = f"CAST({b} AS DOUBLE[])"
    return (
        f"CASE WHEN sqrt(list_dot_product({da},{da})) * sqrt(list_dot_product({db},{db})) = 0 "
        f"THEN NULL ELSE list_dot_product({da},{db}) / "
        f"(sqrt(list_dot_product({da},{da})) * sqrt(list_dot_product({db},{db}))) END"
    )
