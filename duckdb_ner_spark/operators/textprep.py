"""Shared text-preparation expressions for the Tier D pipeline operators.

All pure built-in (JVM-side, codegen'd) expressions — no Python in the hot
path. Cross-engine determinism rule: any hash that must match the DuckDB
oracle is md5-of-string (identical hex in both engines); engine-local hashes
(xxhash64) are used only in rows-only operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def words_col(text: str = "text") -> F.Column:
    """Documents are single-space separated; split to a words array."""
    return F.split(F.col(text), " ")


def shingles_expr(n: int = 3) -> F.Column:
    """Distinct n-word shingles of the ``ws`` words column, built as a
    zip_with of n shifted slices.

    Deliberately NO array indexing inside a lambda: the obvious
    ``transform(sequence(0, size(ws)-n), i -> concat_ws(' ', ws[i], ...))``
    is a performance trap — when ``ws`` is itself a projected expression
    (split(text)), CollapseProject inlines the split into EVERY ``ws[i]``
    reference, so each shingle re-splits the whole document (~n·shingles
    splits per row; measured 3.7 s vs 0.2 s for 5 k docs at sf0.1). The
    slice form references ``ws`` a constant n+1 times regardless of
    document length. Guarded: < n words → empty array (slice/zip_with on
    negative lengths would misbehave, and sequence() would descend)."""
    ws = F.col("ws")
    m = F.size(ws) - (n - 1)  # shingle count
    acc = F.slice(ws, n, m)
    for k in range(n - 1, 0, -1):
        acc = F.zip_with(F.slice(ws, k, m), acc, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(F.size(ws) >= n, F.array_distinct(acc)).otherwise(
        F.array().cast("array<string>")
    )


def seeded_md5(seed: int, col: F.Column) -> F.Column:
    """Engine-portable seeded hash: md5('s<k>|' || value). The lexicographic
    MIN of these hex strings is a valid min-hash (uniform under md5)."""
    return F.md5(F.concat(F.lit(f"s{seed}|"), col))


SQL_SHINGLES = (
    "CASE WHEN len(ws) >= {n} THEN "
    "list_distinct([{concat} FOR i IN range(1, len(ws) - {n_minus_2})]) "
    "ELSE [] END"
)


def sql_shingles(n: int = 3) -> str:
    """DuckDB twin of shingles_expr (1-based list indexing)."""
    concat = " || ' ' || ".join(f"ws[i+{k}]" for k in range(n))
    return SQL_SHINGLES.format(n=n, concat=concat, n_minus_2=n - 2)


# engine-portable 60-bit hash: Spark conv(hex,16,10) == DuckDB '0x'||hex cast
SPARK_H60 = "CAST(conv(substr(md5({arg}), 1, 15), 16, 10) AS BIGINT)"
DUCK_H60 = "CAST(('0x' || substr(md5({arg}), 1, 15)) AS BIGINT)"


def fraction_hex(rate: float) -> str:
    """Fraction → fixed-width 15-hex-digit threshold on the same 60-bit md5
    prefix: keep a row iff ``substr(md5(key), 1, 15)`` sorts below it.
    Lowercase fixed-width hex compares lexicographically == numerically, so
    neither engine converts hex→int."""
    return format(int(rate * (1 << 60)), "015x")


def hex_to_int_sql(col: str, n: int) -> str:
    """DuckDB replay of Spark's conv(substr(<hex>,1,n),16,10): positional
    strpos sum over the first n hex digits of an already-computed hex
    column (the q_shard_shuffle idiom; compute the md5 once in a prior CTE
    and pass the COLUMN name here so the digest isn't re-evaluated per
    digit)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {j + 1}, 1)) - 1)"
        f" * {16 ** (n - 1 - j)}::BIGINT"
        for j in range(n)
    )
