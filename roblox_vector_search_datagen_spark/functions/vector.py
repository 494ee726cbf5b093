"""Vector kernel: cosine similarity + deterministic query encoder.

Reference: cosineSimilarity at src/lib/tools.ts:15-20 — dot/(|a||b|)
with float64 accumulation. One Spark implementation: `cosine_expr_sql`
(with `dot_expr_sql` and `norm_expr_sql`), Spark-SQL text over the
Catalyst higher-order functions zip_with + aggregate. Callers parse it
with `F.expr`/`selectExpr` or embed it in SQL statements; it stays
JVM-side inside whole-stage codegen, needs no Python worker, and is
exactly reproducible in the DuckDB oracle (`cosine_sql`, double
accumulation both sides).

The query encoder (`embed_query`) replaces the reference's runtime
embedding API call (S16, src/endpoints/vectorSearch.get.ts:106-121)
with a deterministic md5-seeded projection so engine and oracle share
the exact same literal vector (FIXTURES.md §6).
"""

from __future__ import annotations

import hashlib

# Spark-SQL text, not DuckDB (see cosine_sql for that dialect): one
# F.expr()/selectExpr parse costs a single py4j round-trip, where a
# Column built from higher-order functions costs ~20 (building the
# lambdas dominated the hot builders' time, r12 profile). `0.0` alone
# would parse as DECIMAL in SQL text, so the accumulator inits are cast
# explicitly; every vector oracle pins the values.

def dot_expr_sql(a: str, b: str) -> str:
    """Σ aᵢbᵢ with float64 accumulation (matches tools.ts:16)."""
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
    """Cosine similarity; NULL when either norm is zero (the reference
    would emit NaN via 0-division — NULL is the relational analog).
    `norm_a`/`norm_b` name precomputed norm_expr_sql values (a column
    of a cached frame, or a driver-side literal) in place of
    recomputing them per row."""
    denom = f"{norm_a or norm_expr_sql(a)} * {norm_b or norm_expr_sql(b)}"
    return (
        f"CASE WHEN {denom} = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE {dot_expr_sql(a, b)} / ({denom}) END"
    )

def vector_lit_spark_sql(vec: list[float]) -> str:
    """Spark-SQL literal array<double> of a query vector (`D` suffix
    keeps each element a double). It rides into every task as part of
    the serialized plan: no shuffle, no join."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vec) + ")"

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

def vector_sql_literal(vec: list[float]) -> str:
    """DuckDB literal: [..]::DOUBLE[]."""
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]::DOUBLE[]"

def cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine with explicit double accumulation, mirroring
    cosine_expr_sql bit-for-bit at 6-decimal rounding."""
    da = f"CAST({a} AS DOUBLE[])"
    db = f"CAST({b} AS DOUBLE[])"
    return (
        f"CASE WHEN sqrt(list_dot_product({da},{da})) * sqrt(list_dot_product({db},{db})) = 0 "
        f"THEN NULL ELSE list_dot_product({da},{db}) / "
        f"(sqrt(list_dot_product({da},{da})) * sqrt(list_dot_product({db},{db}))) END"
    )
