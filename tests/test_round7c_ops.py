"""Round-7 continuation operator tests: pure-Python recomputes for the
round7c family (rejection sampling, Kneser-Ney, and successors), so each
query's semantics are pinned by a third implementation independent of both
Spark and the DuckDB oracle.
"""

from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def _cents(value: float) -> int:
    # events.value quantizes to cents; Python recomputes must round
    # half-up like ROUND(value*100), not banker's-round (house rule).
    return int(
        (Decimal(repr(value)) * 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )


def test_rejection_sampling_matches_python_recompute(spark):
    """First-accept semantics recomputed imperatively (the order-dependent
    stopping rule the query expresses order-free): walk each prompt's
    candidates in event_id order, stop at the first reward >= tau."""
    from duckdb_ner_spark.operators.trainprep import RS_TAU_CENTS

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_id", "user_id", "value")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.event_id, _cents(r.value)))
    want = {}
    for uid, cands in by_user.items():
        cands.sort()
        first, attempts, reward = None, 0, None
        for eid, cents in cands:
            attempts += 1
            if cents >= RS_TAU_CENTS:
                first, reward = eid, cents
                break
        if first is None:
            attempts = len(cands)
        want[uid] = (len(cands), 1 if first is not None else 0, first, attempts, reward)
    got = {
        r.user_id: (
            r.n_candidates, r.accepted, r.first_accept_id, r.n_attempts,
            r.reward_cents,
        )
        for r in QUERIES["q_rejection_sampling"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(v[1] == 0 for v in want.values())  # some prompts never accept
    assert any(v[1] == 1 for v in want.values())  # and some do


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


def test_curriculum_matches_python_recompute(spark):
    """Quartile staging + cumulative epoch schedule recomputed imperatively
    with a by-the-book percentile_disc (smallest value at cumulative
    distribution >= p) and a running-total walk."""
    import math

    from duckdb_ner_spark.operators.trainprep import CUR_EPOCHS, CUR_SCALE

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "n_chars", "text")
        .collect()
    )
    diffs = []
    for r in docs:
        ws = r.text.split(" ")
        diffs.append((r.n_chars * ((CUR_SCALE * len(set(ws))) // len(ws)), r.n_chars))
    vals = sorted(d for d, _ in diffs)
    n = len(vals)
    q = [vals[math.ceil(p * n) - 1] for p in (0.25, 0.50, 0.75)]
    st = {}
    for d, chars in diffs:
        stage = 1 + sum(1 for b in q if d > b)
        nd, sc, mn, mx = st.get(stage, (0, 0, None, None))
        st[stage] = (
            nd + 1, sc + chars,
            d if mn is None else min(mn, d),
            d if mx is None else max(mx, d),
        )
    total = sum(v[1] for v in st.values())
    want, cum = {}, 0
    for stage in sorted(st):
        nd, sc, mn, mx = st[stage]
        want[stage] = (nd, sc, cum + sc, (CUR_EPOCHS * cum) // total, mn, mx)
        cum += sc
    got = {
        r.stage: (
            r.n_docs, r.stage_chars, r.cum_chars, r.epoch_start,
            r.min_difficulty_fx, r.max_difficulty_fx,
        )
        for r in QUERIES["q_curriculum"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert set(got) == {1, 2, 3, 4}
    # the schedule is monotone and spans the epochs
    starts = [got[s][3] for s in sorted(got)]
    assert starts == sorted(starts) and starts[0] == 0


def test_memorization_matches_python_recompute(spark):
    """Character-shingle duplicate mass recomputed from raw text (no md5 —
    the recompute groups on the actual spans, proving the hash grouping
    is collision-free here)."""
    from duckdb_ner_spark.operators.substring import MEM_SCALE, MEM_SHINGLE_LEN

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "source", "text")
        .collect()
    )
    k = MEM_SHINGLE_LEN
    occ = []  # (span, doc_id, source)
    for r in docs:
        for i in range(len(r.text) - k + 1):
            occ.append((r.text[i : i + k], r.doc_id, r.source))
    n_occ = Counter(s for s, _, _ in occ)
    docs_of = defaultdict(set)
    srcs_of = defaultdict(set)
    for s, d, src in occ:
        docs_of[s].add(d)
        srcs_of[s].add(src)
    per_src = defaultdict(lambda: [0, 0, 0, 0])  # n, dup, xdoc, xsrc
    for s, _, src in occ:
        a = per_src[src]
        a[0] += 1
        a[1] += n_occ[s] > 1
        a[2] += len(docs_of[s]) > 1
        a[3] += len(srcs_of[s]) > 1
    want = {
        src: (n, dup, xd, xs, (MEM_SCALE * dup) // n)
        for src, (n, dup, xd, xs) in per_src.items()
    }
    got = {
        r.source: (
            r.n_shingles, r.dup_occurrences, r.cross_doc_occurrences,
            r.cross_source_occurrences, r.dup_rate_fx,
        )
        for r in QUERIES["q_memorization"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values())  # duplicate spans exist
    assert any(v[3] > 0 for v in want.values())  # and cross-source ones


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


def test_source_text_round_trip_preserves_payload(spark):
    """The text-lines round trip must preserve the full text payload, not
    just row counts: per-lang char totals equal the parquet truth."""
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang", "text")
        .collect()
    )
    want = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        a = want[r.lang]
        a[0] += 1
        a[1] += len(r.text)
        a[2] += r.doc_id
    got = {
        r.lang: [r.n, r.total_chars, r.id_checksum]
        for r in QUERIES["q_source_text"](spark, SF_SMOKE).collect()
    }
    assert got == dict(want)


def _h60(arg: str) -> int:
    # 60-bit md5 prefix: Spark conv(substr(md5(x),1,15),16,10) ==
    # DuckDB CAST('0x'||substr(md5(x),1,15) AS BIGINT).
    from hashlib import md5

    return int(md5(arg.encode()).hexdigest()[:15], 16)


def _trigrams(text: str):
    ws = text.split(" ")
    return [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]


def test_count_min_matches_python_recompute(spark):
    """CMS recomputed imperatively: build the d x w table by summation,
    point-estimate by min-over-rows, and check the query's top-K rows and
    the never-underestimates invariant."""
    from duckdb_ner_spark.operators.sketches import CMS_D, CMS_TOP, CMS_W

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("text").collect()
    wf = Counter()
    for r in docs:
        wf.update(_trigrams(r.text))
    sketch = [Counter() for _ in range(CMS_D)]
    bucket = {}
    for s, c in wf.items():
        for j in range(CMS_D):
            b = _h60(f"cms{j}|{s}") % CMS_W
            bucket[(s, j)] = b
            sketch[j][b] += c
    est = {s: min(sketch[j][bucket[(s, j)]] for j in range(CMS_D)) for s in wf}
    want = sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOP]
    got = QUERIES["q_count_min"](spark, SF_SMOKE).collect()
    assert [(r.shingle, r.true_count) for r in got] == want
    for r in got:
        assert r.cms_est == est[r.shingle]
        assert r.overcount == r.cms_est - r.true_count >= 0


def test_hll_registers_matches_python_recompute(spark):
    """HLL registers recomputed imperatively: split the 60-bit hash into
    (register, rest), rho = leading-zeros + 1 via bit_length, registers
    merge by max, and the fixed-point alpha-corrected estimate must match
    the query's single audit row exactly."""
    from duckdb_ner_spark.operators.sketches import (
        HLL_ALPHA_DEN,
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_REST_BITS,
        HLL_RHO_CAP,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("text").collect()
    distinct = set()
    for r in docs:
        distinct.update(_trigrams(r.text))
    reg = {}
    for s in distinct:
        hv = _h60(f"hll|{s}")
        j = hv >> HLL_REST_BITS
        rest = hv & ((1 << HLL_REST_BITS) - 1)
        rho = HLL_REST_BITS + 1 - (rest.bit_length() if rest else 0)
        reg[j] = max(reg.get(j, 0), rho)
    s_fx = sum(
        (1 << (HLL_RHO_CAP - rho)) if rho <= HLL_RHO_CAP else 0
        for rho in reg.values()
    ) + (HLL_M - len(reg)) * (1 << HLL_RHO_CAP)
    raw_est = (HLL_ALPHA_NUM * HLL_M * HLL_M * (1 << HLL_RHO_CAP)) // (
        HLL_ALPHA_DEN * max(s_fx, 1)
    )
    [row] = QUERIES["q_hll_registers"](spark, SF_SMOKE).collect()
    assert row.m == HLL_M
    assert row.n_registers_hit == len(reg)
    assert row.sum_rho == sum(reg.values())
    assert row.reg_checksum == sum((j + 1) * rho for j, rho in reg.items())
    assert row.raw_est == raw_est
    assert row.true_distinct == len(distinct)
    # the estimate should be within HLL theory's ballpark at m=64 (~13% rse)
    assert abs(row.raw_est - row.true_distinct) < 0.5 * row.true_distinct
