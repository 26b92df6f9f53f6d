"""Statistics tests (operators/stats.py): the behavioral lift curve and
the Poisson bootstrap CIs recomputed in pure Python, independent of both
Spark and the DuckDB oracle."""

from pyspark.sql import functions as F

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


def test_lift_curve_matches_python_recompute(spark):
    """q_lift_curve vs a driver-side recompute of buckets, rates, and the
    integer cross-multiplied lift."""
    from duckdb_ner_spark.operators.stats import LIFT_MAX_BUCKET, LIFT_SCALE

    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .collect()
    )
    import datetime

    day2 = datetime.datetime(2024, 1, 2)
    users: dict[int, list] = {}
    for r in ev:
        u = users.setdefault(r.user_id, [0, 0])
        if r.ts < day2:
            u[0] += 1
        if r.event_type == "purchase" and r.ts >= day2:
            u[1] = 1
    buckets: dict[int, list] = {}
    tot_n, tot_pos = len(users), sum(v[1] for v in users.values())
    for cnt, conv in users.values():
        b = buckets.setdefault(min(cnt, LIFT_MAX_BUCKET), [0, 0])
        b[0] += 1
        b[1] += conv
    expect = {
        bk: (
            n,
            pos,
            (LIFT_SCALE * pos) // n,
            (LIFT_SCALE * pos * tot_n) // (n * tot_pos),
        )
        for bk, (n, pos) in buckets.items()
    }
    got = {
        r.bucket: (r.n_users, r.n_converted, r.rate_bp, r.lift_bp)
        for r in QUERIES["q_lift_curve"](spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert tot_pos > 0 and len(got) >= 3


def test_bootstrap_ci_matches_python_recompute(spark):
    """q_bootstrap_ci vs a pure-Python Poisson-bootstrap replay: identical
    md5-threshold weights, fixed-point replicate means, and
    nearest-rank-discrete percentiles."""
    import hashlib

    from duckdb_ner_spark.operators.stats import BOOT_B, BOOT_FX, BOOT_THRESHOLDS

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    by_lang: dict[str, list] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append((r.doc_id, r.n_chars))
    expect = {}
    for lang, rows in by_lang.items():
        means = []
        for rep in range(BOOT_B):
            swx = sw = 0
            for doc_id, n_chars in rows:
                u = int(
                    hashlib.md5(f"boot|{rep}|{doc_id}".encode()).hexdigest()[:13],
                    16,
                )
                w = sum(1 for t in BOOT_THRESHOLDS if u >= t)
                swx += w * n_chars
                sw += w
            if sw > 0:
                means.append((BOOT_FX * swx) // sw)
        means.sort()

        def pdisc(q):
            import math

            return means[max(0, math.ceil(q * len(means)) - 1)]

        total = sum(c for _, c in rows)
        expect[lang] = (
            len(rows),
            (BOOT_FX * total) // len(rows),
            len(means),
            pdisc(0.05),
            pdisc(0.5),
            pdisc(0.95),
        )
    got = {
        r.lang: (
            r.n_docs,
            r.point_mean_fx,
            r.n_reps,
            r.boot_p05_fx,
            r.boot_p50_fx,
            r.boot_p95_fx,
        )
        for r in QUERIES["q_bootstrap_ci"](spark, SF_SMOKE).collect()
    }
    assert got == expect
    for lang, (_, point, n_reps, p05, p50, p95) in expect.items():
        assert n_reps == BOOT_B
        assert p05 <= p50 <= p95
