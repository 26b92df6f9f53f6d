"""Text-statistics tests (operators/textstats.py): Kneser-Ney smoothing in
exact Fraction arithmetic and the quality-gate rules behind the streaming
admission scorecard, recomputed independently of Spark and the DuckDB
oracle."""

from collections import Counter, defaultdict

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


def test_kneser_ney_matches_python_recompute(spark):
    """Interpolated KN with D=3/4 recomputed in exact Fraction arithmetic:
    the fixed-point integer the query emits must equal
    floor(SCALE * p_KN) for every returned bigram, and the returned set
    must be the true global top-K under (p_fx DESC, v, w)."""
    from fractions import Fraction

    from duckdb_ner_spark.operators.textstats import KN_SCALE, KN_TOP

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("text").collect()
    pair = Counter()
    for r in docs:
        ws = r.text.split(" ")
        for a, b in zip(ws, ws[1:]):
            pair[(a, b)] += 1
    c_v = Counter()
    n_follow = Counter()
    n_precede = Counter()
    for (v, w), c in pair.items():
        c_v[v] += c
        n_follow[v] += 1
        n_precede[w] += 1
    t = len(pair)
    d = Fraction(3, 4)
    want_all = []
    for (v, w), c in pair.items():
        p = max(Fraction(c) - d, 0) / c_v[v] + (d * n_follow[v] / c_v[v]) * Fraction(
            n_precede[w], t
        )
        fx = (KN_SCALE * p.numerator) // p.denominator
        # the query's single-floor form must equal floor of the exact value
        one_floor = (KN_SCALE * (max(4 * c - 3, 0) * t + 3 * n_follow[v] * n_precede[w])) // (
            4 * c_v[v] * t
        )
        assert one_floor == fx
        want_all.append((-fx, v, w, c, c_v[v], n_follow[v], n_precede[w]))
    want_all.sort()
    want = [(v, w, c, cv, nf, np_, -neg) for neg, v, w, c, cv, nf, np_ in want_all[:KN_TOP]]
    got = [
        (r.v, r.w, r.c_vw, r.c_v, r.n_follow, r.n_precede, r.p_kn_fx)
        for r in QUERIES["q_kneser_ney"](spark, SF_SMOKE).collect()
    ]
    assert got == want
    # KN's signature: continuation prob uses TYPE counts — a word that
    # appears often after only one context must differ from plain MLE.
    assert t > 0 and any(n_precede[w] > 1 for (_, w) in pair)


def test_stream_quality_gate_matches_python_recompute(spark):
    """The streaming admission scorecard equals an imperative per-doc
    verdict walk (first-matching-rule precedence pinned here)."""
    from duckdb_ner_spark.operators.textstats import (
        GATE_DISTINCT_DEN,
        GATE_DISTINCT_NUM,
        GATE_MIN_WORDS,
    )

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("lang", "n_chars", "text")
        .collect()
    )
    want = defaultdict(lambda: [0, 0])
    for r in docs:
        ws = r.text.split(" ")
        if len(ws) < GATE_MIN_WORDS:
            v = "too_short"
        elif len(set(ws)) * GATE_DISTINCT_DEN < GATE_DISTINCT_NUM * len(ws):
            v = "repetitive"
        else:
            v = "keep"
        want[(r.lang, v)][0] += 1
        want[(r.lang, v)][1] += r.n_chars
    got = {
        (r.lang, r.verdict): [r.n_docs, r.total_chars]
        for r in QUERIES["q_stream_quality_gate"](spark, SF_SMOKE).collect()
    }
    assert got == dict(want)
    assert {v for _, v in got} == {"too_short", "repetitive", "keep"}
