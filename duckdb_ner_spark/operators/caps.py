"""Bounded-state hot-bucket cap shared by every (band, sig) bucket self-join
in the repo — MinHash-LSH dedup, image aHash dedup, hyperplane-LSH ANN and
embedding near-dup (VERDICT r6 #2, ADVICE r6 #1). Lives in its own module so
dedup.py, multimodal.py, and similarity.py can all import it without cycles
(dedup already imports from similarity)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Salt fan-out for the two-level min-k cap below. 64 salts bound the largest
# single aggregation buffer at max(|bucket|/64, 64·cap) elements — a 10⁶-doc
# degenerate bucket peaks at ~16k ids (~128 KB) per buffer instead of the
# whole 10⁶-element array the one-level collect_list form materialized.
N_CAP_SALTS = 64


def capped_bucket_id_arrays(
    bands: DataFrame,
    id_col: str,
    cap: int,
    keys: tuple[str, ...] = ("band", "sig"),
    salt_on: Column | None = None,
) -> DataFrame:
    """Each (band, sig) bucket's `cap` smallest ids as ONE sorted-ascending
    array column ``__ids__`` — BOUNDED-STATE (VERDICT r6 #2, replacing the
    one-level collect_list cap whose final buffer held the entire bucket in
    memory before the sort+slice).

    Two-level salted min-k: level 1 takes the `cap` smallest ids per
    (band, sig, id % N_CAP_SALTS) — each buffer sees only its salt's share
    of the bucket — and level 2 merges the ≤ N_CAP_SALTS·cap survivors and
    takes the `cap` smallest overall. Hash-identical to the one-level form
    by construction: every one of a bucket's `cap` globally-smallest ids is
    among the `cap` smallest of its own salt group, so the level-2 merge
    sees all of them. Ids must be non-negative (Spark % vs DuckDB % agree
    only there — the corpus invariant every id column already satisfies),
    and ids must be DISTINCT within each bucket: the downstream pair
    generator (bucket_array_pairs) relies on strict ascending order —
    duplicate ids would emit (x, x) self-pairs and duplicated pairs the
    retired strict a<b self-join could never produce (ADVICE r13 #2).
    Every caller feeds one row per (bucket, id) by construction.
    Replayed by sql_capped_bucket_ctes.

    ``salt_on``: integer column used for the level-1 salt when ``id_col``
    itself is not directly salt-able (e.g. a struct whose FIRST field is the
    distinct integer key, so struct order == key order — q_record_linkage
    carries the payload name through the cap this way). Defaults to the id
    column itself; the survivor set is identical for any salt assignment."""
    salt = ((salt_on if salt_on is not None else F.col(id_col)) % N_CAP_SALTS).alias(
        "__salt__"
    )
    lvl1 = bands.groupBy(*keys, salt).agg(
        F.slice(F.array_sort(F.collect_list(id_col)), 1, cap).alias("__ids__")
    )
    return lvl1.groupBy(*keys).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__ids__"))), 1, cap).alias(
            "__ids__"
        )
    )


def capped_bucket_ids(
    bands: DataFrame, id_col: str, cap: int, keys: tuple[str, ...] = ("band", "sig")
) -> DataFrame:
    """capped_bucket_id_arrays exploded back to one row per surviving id —
    the original row-shaped surface every pre-r13 caller uses."""
    return capped_bucket_id_arrays(bands, id_col, cap, keys).select(
        *keys, F.explode("__ids__").alias(id_col)
    )


def bucket_array_pairs(
    buckets: DataFrame,
    a_col: str,
    b_col: str,
    carry: tuple = (),
    dedupe: bool = True,
) -> DataFrame:
    """All (ids[i], ids[j]) i<j pairs from each bucket's sorted ``__ids__``
    array (capped_bucket_id_arrays) as (a_col, b_col) rows, deduplicated
    across buckets.

    This replaces the bucket SELF-JOIN (a ⨝ b on bucket key, a < b): because
    the cap already materializes each bucket's full membership as one sorted
    array, the pair set can be generated by a narrow per-row transform —
    identical pairs (sorted-ascending array ⇒ i<j ⇔ id_i < id_j), but the
    plan loses the join and, with it, the SECOND evaluation of the whole
    banding/cap aggregation chain that fed the join's other side (Spark does
    not share common subtrees across self-join branches; r13 measured the
    chain running twice in q_dedup_near's plan). Pair volume per bucket is
    C(cap, 2), exactly as before. `carry` columns/exprs (e.g. a sweep's cfg
    key) are kept alongside the pair and participate in the distinct.
    `dedupe=False` skips the distinct for consumers that COUNT per-bucket
    pair occurrences (support counting) — within one bucket pairs are
    already unique because the id array is distinct."""
    pairs = F.explode(
        F.expr(
            "flatten(transform(__ids__, (a, i) -> "
            "transform(slice(__ids__, i + 2, size(__ids__)), "
            "b -> struct(a AS a, b AS b))))"
        )
    ).alias("__p__")
    carry_cols = [F.col(c) if isinstance(c, str) else c for c in carry]
    out = buckets.select(*carry_cols, pairs)
    keep = [c for c in out.columns if c != "__p__"]
    out = out.select(
        *keep, F.col("__p__.a").alias(a_col), F.col("__p__.b").alias(b_col)
    )
    return out.distinct() if dedupe else out


def sql_capped_bucket_ctes(
    src: str,
    id_col: str,
    cap: int,
    prefix: str = "capped",
    keys: tuple[str, ...] = ("band", "sig"),
) -> str:
    """DuckDB twin of capped_bucket_ids: a {prefix}1/{prefix} CTE pair over
    a preceding CTE ``src(*keys, id_col)`` — same salt (id % N_CAP_SALTS),
    same per-salt min-k, same merged min-k. `prefix` keeps the CTE names
    distinct when one query embeds the helper twice (ADVICE r7 #3); the
    defaults preserve every existing oracle string. `keys` generalizes the
    bucket key beyond (band, sig) — q_basket_affinity caps per-basket
    fan-out with keys=('o',)."""
    ks = ", ".join(keys)
    return f"""{prefix}1 AS (
        SELECT {ks},
               list_slice(list_sort(list({id_col})), 1, {cap}) AS ids
        FROM {src} GROUP BY {ks}, {id_col} % {N_CAP_SALTS}
    ), {prefix} AS (
        SELECT {ks},
               unnest(list_slice(list_sort(flatten(list(ids))), 1, {cap}))
                   AS {id_col}
        FROM {prefix}1 GROUP BY {ks}
    )"""
