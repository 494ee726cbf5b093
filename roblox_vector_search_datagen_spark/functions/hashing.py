"""Portable hashing primitives shared by the dedup operators.

Everything here must produce bit-identical values in Spark and DuckDB
so the dedup pipelines are oracle-checkable: the base 32-bit hash is
the first 8 hex chars of md5 (md5 is identical everywhere), and all
derived hashes are integer arithmetic on top of it.

MinHash/SimHash parameters are module constants baked into both the
Spark expressions and the generated oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime modulus for the affine minhash family.
P = 2_147_483_647

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each
ROWS_PER_BAND = MINHASH_K // LSH_BANDS

SIMHASH_BITS = 32
SHINGLE_WORDS = 3

def _lcg(i: int, mult: int, add: int) -> int:
    v = (mult * (i + 1) + add) % P
    return v if v != 0 else 1

# Deterministic affine coefficients (same constants enter the SQL text).
MINHASH_A = [_lcg(i, 1103515245, 12345) for i in range(MINHASH_K)]
MINHASH_B = [_lcg(i, 134775813, 1) for i in range(MINHASH_K)]

def let_expr(value: Column, body) -> Column:
    """Let-binding for Catalyst expressions: evaluate `value` once and
    reference it many times inside `body` via a lambda variable.

    Without this, composing one big expression re-evaluates shared
    subtrees (e.g. split(lower(text)) once per element_at) because
    codegen does no common-subexpression elimination across lambda
    boundaries. transform(array(v), x -> body(x))[1] binds v exactly
    once per row.
    """
    return F.element_at(F.transform(F.array(value), body), 1)

# The Spark forms below are Spark-SQL text (`*_expr_sql`); callers get a
# Column with F.expr() or embed the text in selectExpr/SQL statements.
# One parse costs a single py4j round-trip where the equivalent Column
# composition costs one per operator call. Profiled r12: the fingerprint
# builders (60-bit simhash sums, K affine minhash transforms) spent
# seconds per *plan construction* in py4j chatter — 45% of the whole
# bench. The DuckDB `*_sql` texts are the oracles' own, independent
# forms, and the oracles pin the values.

def h32_expr_sql(col: str) -> str:
    """Portable 32-bit string hash: int(md5(s)[:8], 16). Spark-SQL text
    (NOT DuckDB; see h32_sql for that)."""
    return f"CAST(conv(substring(md5({col}), 1, 8), 16, 10) AS BIGINT)"

def h60_expr_sql(col: str) -> str:
    """Portable 60-bit string hash: int(md5(s)[:15], 16) — the widest
    md5 prefix that is always a POSITIVE signed int64 in both engines
    (16 hex chars could exceed 2^63-1). Used where 32 bits is too
    narrow, e.g. the banded-simhash bit source."""
    return f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT)"

def minhash_value_expr_sql(h: str, i: int) -> str:
    """i-th affine minhash transform of an h32 value. h is reduced mod P
    first so a*h never overflows int64."""
    return f"(({MINHASH_A[i]} * (({h}) % {P}) + {MINHASH_B[i]}) % {P})"

def word_shingles_expr_sql(text: str, n: int = SHINGLE_WORDS) -> str:
    """Distinct n-word shingles of lowercased text; empty array when the
    document is shorter than n words. The token array is let-bound
    (transform over a 1-element array, as in let_expr) so the split
    runs once per row, not once per element access."""
    parts = ", ".join(f"element_at(w, i + {j + 1})" for j in range(n))
    body = (
        f"CASE WHEN size(w) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(w) - {n}), i -> concat_ws(' ', {parts}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return (
        f"element_at(transform(array(split(lower({text}), '\\\\s+')), w -> {body}), 1)"
    )

def h32_sql(col: str) -> str:
    return f"(('0x' || substring(md5({col}), 1, 8))::BIGINT)"

def h60_sql(col: str) -> str:
    return f"(('0x' || substring(md5({col}), 1, 15))::BIGINT)"

def minhash_value_sql(h: str, i: int) -> str:
    """DuckDB text of the affine transform. It is the same string as
    minhash_value_expr_sql, kept apart as the oracle's own form."""
    return f"(({MINHASH_A[i]} * (({h}) % {P}) + {MINHASH_B[i]}) % {P})"

def word_shingles_sql(text: str, n: int = SHINGLE_WORDS) -> str:
    """DuckDB equivalent (1-indexed lists)."""
    w = f"string_split_regex(lower({text}), '\\s+')"
    parts = " || ' ' || ".join(f"({w})[i+{j}]" for j in range(n))
    return (
        f"(CASE WHEN len({w}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({w}) - {n - 2}), i -> {parts})) "
        f"ELSE [] END)"
    )

def digest_expr(col: Column) -> Column:
    """Canonical content digest: md5 of the trimmed, lowercased text.
    The ONE normalization every content-identity operator shares —
    exact dedup (operators/dedup.dedup_exact), pipeline
    canonicalization (operators/textprep.training_corpus) and
    dedup-at-ingest (streaming/ingest) must agree on it or batch dedup
    and ingest dedup silently diverge."""
    return F.md5(F.trim(F.lower(col)))

DIGEST_SQL = "md5(trim(lower({col})))"

def digest_sql(col: str) -> str:
    """DuckDB twin of digest_expr."""
    return DIGEST_SQL.format(col=col)
