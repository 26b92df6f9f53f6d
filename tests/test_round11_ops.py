"""Round-11 operator tests: binary-quantized ANN (q_binary_ann), integer
priority sampling (q_wsample_priority), URL-canonicalization dedup
(q_url_dedup).

Each query is hash-verified against its DuckDB oracle by the driver; these
tests pin the SEMANTICS with planted fixtures and independent pure-Python
recomputes on shipped testdata (the house test model, SURVEY §5).
"""

import hashlib
import math
import re

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.operators.dedup import _URL_CANON_STEPS, _canon_col
from duckdb_ner_spark.operators.retrieval import BQ_K, BQ_M, BQ_NQ, binary_signatures
from duckdb_ner_spark.operators.sampling import WS_K, WS_U_SCALE
from duckdb_ner_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# q_binary_ann
# --------------------------------------------------------------------------


def test_binary_signature_packing_known_vector(spark):
    """A hand-built 64-dim vector with known signs packs to the expected
    two 32-bit words (bit i%32 of word i//32 set iff unit-vector element
    i >= 0; the fixed-point unit transform preserves signs)."""
    vec = [(1.0 if i % 3 == 0 else -1.0) for i in range(64)]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": pd.array([0], dtype="int64"), "embedding": [vec]})
    )
    row = binary_signatures(df).collect()[0]
    w0 = sum(1 << i for i in range(32) if i % 3 == 0)
    w1 = sum(1 << (i % 32) for i in range(32, 64) if i % 3 == 0)
    assert (row["w0"], row["w1"]) == (w0, w1)


def test_binary_signature_width_guard(spark):
    """A non-64-dim embedding raises instead of silently mispacking."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": pd.array([0], dtype="int64"), "embedding": [[1.0] * 8]}
        )
    )
    with pytest.raises(Exception, match="width"):
        binary_signatures(df).collect()


def test_binary_ann_exact_duplicate_ranks_first(spark):
    """Planted corpus: vec 100 is an exact copy of query vec 0 — Hamming 0,
    maximal dot, rank 1; recall audit compares like-for-like."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = {i: rng.randn(64).tolist() for i in range(BQ_NQ + 60)}
    vecs[100] = list(vecs[0])  # exact duplicate of query 0
    pdf = pd.DataFrame(
        {
            "vec_id": pd.array(sorted(vecs), dtype="int64"),
            "embedding": [vecs[k] for k in sorted(vecs)],
        }
    )
    df = spark.createDataFrame(pdf)
    sig = binary_signatures(df)
    qrow = sig.filter("vec_id = 0").collect()[0]
    dup = sig.filter("vec_id = 100").collect()[0]
    assert (dup["w0"], dup["w1"]) == (qrow["w0"], qrow["w1"])
    # exact fixed-point dot of the duplicate == query's self-dot
    dot = sum(a * b for a, b in zip(qrow["u"], dup["u"]))
    self_dot = sum(a * a for a in qrow["u"])
    assert dot == self_dot


def test_binary_ann_registry_audit_on_testdata(spark):
    """On shipped testdata: shape (BQ_NQ x BQ_K rows), ranks 1..K per
    query, hamming consistent with a pure-Python repack, and recall_bp
    matches a brute-force numpy recompute of the whole audit."""
    rows = QUERIES["q_binary_ann"](spark, SF_SMOKE).collect()
    assert len(rows) == BQ_NQ * BQ_K
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    assert sorted(by_q) == list(range(BQ_NQ))
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, BQ_K + 1))
        assert len({r["recall_bp"] for r in rs}) == 1

    # independent recompute (DuckDB fetch + python float/int replay)
    con = duckdb.connect()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
    ).fetchall()
    FX = 1_000_000
    units = {}
    for vid, e in emb:
        q = [round(float(x) * FX) for x in e]
        n = math.sqrt(sum(v * v for v in q))
        units[vid] = [round(v / n * FX) for v in q]
    for q, rs in by_q.items():
        qu = units[q]
        exact = sorted(
            ((sum(a * b for a, b in zip(u, qu)), -vid), vid)
            for vid, u in units.items()
            if vid != q
        )
        exact_top = {vid for _, vid in sorted(exact, key=lambda t: (-t[0][0], t[1]))[:BQ_K]}
        got = {r["vec_id"] for r in rs}
        expected_recall = 10000 * len(got & exact_top) // BQ_K
        assert rs[0]["recall_bp"] == expected_recall
        # and the reported dots are the true fixed-point dots
        for r in rs:
            assert r["dot_fx"] == sum(
                a * b for a, b in zip(units[r["vec_id"]], qu)
            )


# --------------------------------------------------------------------------
# q_wsample_priority
# --------------------------------------------------------------------------


def _md5_v40(doc_id: int) -> int:
    return int(hashlib.md5(f"wpri|{doc_id}".encode()).hexdigest()[:10], 16)


def test_wsample_matches_pure_python_recompute(spark):
    """The sampled doc set, tau, and the estimator columns all match a
    from-scratch Python replay of the DLT priority sample on the shipped
    parquet (independent of BOTH engines)."""
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    pri = sorted(
        ((w * WS_U_SCALE) // (_md5_v40(d) + 1), d, w) for d, w in docs
    )[::-1]
    pri.sort(key=lambda t: (-t[0], t[1]))
    tau = pri[WS_K][0]
    expect = {
        d: (p, max(w, tau)) for p, d, w in pri[:WS_K]
    }
    total_true = sum(w for _, w in docs)
    total_est = sum(e for _, e in expect.values())

    rows = QUERIES["q_wsample_priority"](spark, SF_SMOKE).collect()
    assert len(rows) == WS_K
    for r in rows:
        assert r["doc_id"] in expect, r
        p, e = expect[r["doc_id"]]
        assert (r["priority"], r["est_w"], r["tau"]) == (p, e, tau)
        assert (r["total_w_true"], r["total_w_est"]) == (total_true, total_est)
        assert r["err_bp"] == 10000 * abs(total_est - total_true) // total_true


def test_wsample_degenerate_small_corpus(spark, tmp_path):
    """ADVICE r11: with n <= WS_K documents there is no rank-(k+1) row, so
    DLT defines est_w = w (tau = 0). Both engines must agree on the planted
    10-doc corpus — the oracle's COALESCE(tau, 0) and the Spark side's
    rank-picked tau are the matched guards."""
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM '{SF_SMOKE}/documents.parquet'"
        f" ORDER BY doc_id LIMIT 10)"
        f" TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    rows = QUERIES["q_wsample_priority"](spark, str(tmp_path)).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["tau"] == 0
        assert r["est_w"] == r["w"]
        assert r["total_w_est"] == r["total_w_true"]
        assert r["err_bp"] == 0
    # oracle replay on the same tiny corpus agrees cell-for-cell
    from duckdb_ner_spark.operators.sampling import _WSAMPLE_ORACLE

    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM"
        f" '{tmp_path}/documents.parquet'"
    )
    odf = con2.execute(_WSAMPLE_ORACLE).df()
    assert len(odf) == 10
    exp = {
        r["doc_id"]: (r["priority"], r["est_w"], r["tau"], r["err_bp"])
        for r in rows
    }
    for _, o in odf.iterrows():
        assert exp[o["doc_id"]] == (
            o["priority"], o["est_w"], o["tau"], o["err_bp"]
        )


def test_wsample_estimator_is_weight_sensitive():
    """Priority keys actually bias toward heavy docs: the mean sampled
    weight exceeds the corpus mean weight (the property uniform md5-rank
    sampling lacks)."""
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    pri = sorted(
        ((w * WS_U_SCALE) // (_md5_v40(d) + 1), d, w) for d, w in docs
    )
    pri.sort(key=lambda t: (-t[0], t[1]))
    sampled_mean = sum(w for _, _, w in pri[:WS_K]) / WS_K
    corpus_mean = sum(w for _, w in docs) / len(docs)
    assert sampled_mean > corpus_mean


# --------------------------------------------------------------------------
# q_url_dedup
# --------------------------------------------------------------------------


def _canon_py(url: str) -> str:
    u = url.lower()
    for pat, rep in _URL_CANON_STEPS:
        u = re.sub(pat, rep, u)
    return u


def test_url_canonicalization_unit_cases(spark):
    """The canonicalization chain collapses the classic mess: scheme case,
    http->https, www., tracking params, fragments, trailing slash."""
    cases = {
        "HTTP://WWW.Example.com/a/": "https://example.com/a",
        "https://example.com/a?utm_source=x&utm_medium=y": "https://example.com/a",
        "https://example.com/a?ref=home#frag": "https://example.com/a",
        "http://example.com/a#sec-2": "https://example.com/a",
        "https://example.com/a": "https://example.com/a",
    }
    df = spark.createDataFrame(pd.DataFrame({"raw": list(cases)})).select(
        "raw", _canon_col(F.col("raw")).alias("c")
    )
    got = {r["raw"]: r["c"] for r in df.collect()}
    assert got == cases
    # and the python replay agrees (same steps the DuckDB oracle runs)
    for raw, want in cases.items():
        assert _canon_py(raw) == want


def test_url_dedup_group_accounting(spark):
    """Group sizes follow the fixture construction: docs come in pages of 4
    mirrors; doc_id % 11 == 0 docs split off as singletons; keeper is the
    min doc_id; chars_dropped = group chars minus keeper chars."""
    rows = QUERIES["q_url_dedup"](spark, SF_SMOKE).collect()
    con = duckdb.connect()
    docs = dict(
        con.execute(
            f"SELECT doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
        ).fetchall()
    )
    # independent python rebuild of the groups
    groups = {}
    for d in docs:
        if d % 11 == 0:
            key = ("u", d)
        else:
            key = ("p", d // 4)
        groups.setdefault(key, []).append(d)
    sizes = sorted(len(v) for v in groups.values())
    assert sizes == sorted(r["n_docs"] for r in rows)
    by_keeper = {min(v): sorted(v) for v in groups.values()}
    for r in rows:
        members = by_keeper[r["keeper_doc"]]
        assert r["n_docs"] == len(members)
        assert r["n_dropped"] == len(members) - 1
        assert r["chars_dropped"] == sum(docs[m] for m in members) - docs[
            members[0]
        ]
        assert r["canonical_url"].startswith("https://mirror")
        assert "utm" not in r["canonical_url"]
        assert "#" not in r["canonical_url"]
        assert not r["canonical_url"].endswith("/")


# --------------------------------------------------------------------------
# q_quantile_sketch
# --------------------------------------------------------------------------


def test_quantile_sketch_certificate_and_python_replay(spark):
    """On shipped testdata: every row's in_bound certificate is 1 (the
    bucket-containment theorem holds on real data), err stays inside
    [0, QS_W), and the sketch picks match a pure-Python replay of both the
    bucketed walk and the exact rank statistic."""
    from duckdb_ner_spark.operators.sketches import QS_GRID, QS_W

    rows = QUERIES["q_quantile_sketch"](spark, SF_SMOKE).collect()
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    by_lang = {}
    for lang, n_chars in docs:
        by_lang.setdefault(lang, []).append(n_chars)
    assert len(rows) == len(by_lang) * len(QS_GRID)
    for r in rows:
        vals = sorted(by_lang[r["lang"]])
        n = len(vals)
        rank = (r["q"] * n + 99) // 100
        exact = vals[rank - 1]
        # bucketed walk replay
        from collections import Counter

        sk = Counter(v // QS_W for v in vals)
        cum, pick = 0, None
        for b in sorted(sk):
            cum += sk[b]
            if cum >= rank:
                pick = b
                break
        assert r["n"] == n and r["r"] == rank
        assert r["est_lo"] == pick * QS_W
        assert r["est_hi"] == pick * QS_W + QS_W - 1
        assert r["exact_v"] == exact
        assert r["in_bound"] == 1
        assert 0 <= r["err"] < QS_W
        assert r["sketch_rows"] == len(sk)


def test_quantile_sketch_domain_guard(spark):
    """An out-of-domain n_chars raises in-plan instead of silently growing
    the sketch unboundedly."""
    from duckdb_ner_spark.operators.sketches import QS_DOMAIN

    pdf = pd.DataFrame(
        {
            "lang": ["en"],
            "n_chars": pd.array([QS_DOMAIN + 1], dtype="int64"),
        }
    )
    df = spark.createDataFrame(pdf)
    bucketed = df.select(
        F.expr(
            f"CASE WHEN n_chars >= 0 AND n_chars < {QS_DOMAIN}"
            f" THEN n_chars DIV 8"
            f" ELSE raise_error('quantile sketch: out of domain') END"
        ).alias("b")
    )
    with pytest.raises(Exception, match="out of domain"):
        bucketed.collect()


# --------------------------------------------------------------------------
# q_ivf_incr
# --------------------------------------------------------------------------


def test_ivf_incr_census_invariants(spark):
    """Cell census invariants on shipped testdata: counts cover both halves
    exactly, every centroid's own cell contains it (a centroid assigns to
    itself with sqd = 0 => base_avg_sqd of a 1-member cell is 0), growth
    and drift columns agree with their definitions."""
    from duckdb_ner_spark.operators.retrieval import IVFI_CELLS

    rows = QUERIES["q_ivf_incr"](spark, SF_SMOKE).collect()
    assert 1 <= len(rows) <= IVFI_CELLS
    con = duckdb.connect()
    n_all = con.execute(
        f"SELECT COUNT(*) FROM '{SF_SMOKE}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_base"] + r["n_new"] for r in rows) == n_all
    for r in rows:
        assert r["growth_bp"] == 10000 * r["n_new"] // max(r["n_base"], 1)
        assert r["drift_delta"] == r["new_avg_sqd"] - r["base_avg_sqd"]
        assert r["base_avg_sqd"] >= 0 and r["new_avg_sqd"] >= 0


def test_ivf_incr_routing_matches_numpy(spark):
    """The per-cell (n_base, n_new) census matches a from-scratch numpy
    replay of the stride seeding and integer spherical argmax."""
    import numpy as np

    from duckdb_ner_spark.operators.retrieval import IVFI_CELLS

    con = duckdb.connect()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
        " ORDER BY vec_id"
    ).fetchall()
    FX = 1_000_000
    units = {}
    for vid, e in emb:
        q = np.array([round(float(x) * FX) for x in e], dtype=np.int64)
        n = math.sqrt(float((q * q).sum()))
        units[vid] = np.array([round(v / n * FX) for v in q], dtype=np.int64)
    base_ids = [v for v in units if v % 2 == 0]
    stride = max(1, len(base_ids) // IVFI_CELLS)
    seeds = sorted(v for v in base_ids if v % stride == 0)[:IVFI_CELLS]
    cents = [units[s] for s in seeds]
    census = {}
    for vid, u in units.items():
        best = max(
            range(len(cents)),
            key=lambda c: (2 * int(u @ cents[c]) - int(cents[c] @ cents[c]), -c),
        )
        key = census.setdefault(best, [0, 0])
        key[vid % 2] += 1
    rows = QUERIES["q_ivf_incr"](spark, SF_SMOKE).collect()
    got = {r["cent_id"]: [r["n_base"], r["n_new"]] for r in rows}
    assert got == {c: v for c, v in census.items()}


# --------------------------------------------------------------------------
# q_binary_sweep
# --------------------------------------------------------------------------


def test_binary_sweep_curve_invariants(spark):
    """Operating-curve invariants on shipped testdata: one row per grid
    point, n_cand = M * NQ exactly (the full prefix exists at every SF),
    cost monotone in M, recall at the largest M at least matches the
    smallest M's (a prefix shortlist can only add candidates), and the
    recall accounting is internally consistent."""
    from duckdb_ner_spark.operators.retrieval import BQS_GRID

    rows = sorted(
        QUERIES["q_binary_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r["m"],
    )
    assert [r["m"] for r in rows] == sorted(BQS_GRID)
    for r in rows:
        assert r["n_cand"] == r["m"] * BQ_NQ
        assert r["recall_bp"] == 10000 * r["n_hits"] // (BQ_K * BQ_NQ)
        assert 0 <= r["n_hits"] <= BQ_K * BQ_NQ
    assert rows[-1]["n_hits"] >= rows[0]["n_hits"]


def test_binary_sweep_consistent_with_binary_ann(spark):
    """The M=48 point of q_binary_ann nests between the sweep's M=32 and
    M=64 grid points in hit count (prefix shortlists are nested sets, and
    a superset shortlist can only keep or add true hits... NOT guaranteed
    for top-k re-ranking — extra candidates can displace true hits — so
    this pins the MEASURED relationship instead: the ann query's per-query
    recalls aggregate to a value within the sweep's [min, max] envelope)."""
    ann = QUERIES["q_binary_ann"](spark, SF_SMOKE).collect()
    per_q = {r["q_id"]: r["recall_bp"] for r in ann}
    agg_ann = sum(per_q.values()) // len(per_q)
    sweep = QUERIES["q_binary_sweep"](spark, SF_SMOKE).collect()
    lo = min(r["recall_bp"] for r in sweep)
    hi = max(r["recall_bp"] for r in sweep)
    assert lo <= agg_ann <= hi


def test_wsample_weight_overflow_guard(spark):
    """A weight >= 2^22 raises in-plan instead of silently wrapping the
    w * 2^40 priority arithmetic."""
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([1], dtype="int64"),
            "w": pd.array([1 << 22], dtype="int64"),
        }
    )
    df = spark.createDataFrame(pdf).select(
        F.expr(
            f"CASE WHEN w >= 0 AND w < {1 << 22}"
            f" THEN (w * CAST({WS_U_SCALE} AS BIGINT)) DIV 7"
            f" ELSE raise_error('priority sample: weight >= 2^22 overflows') END"
        ).alias("p")
    )
    with pytest.raises(Exception, match="overflows"):
        df.collect()


# --------------------------------------------------------------------------
# q_basket_affinity
# --------------------------------------------------------------------------


def test_basket_affinity_python_recompute(spark):
    """The full rule table (support, directional confidences, lift) matches
    a from-scratch Python recompute over the parquet baskets."""
    from collections import Counter

    from duckdb_ner_spark.operators.stats import BA_MIN_SUP

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM"
        f" '{SF_SMOKE}/lineitem.parquet'"
    ).fetchall()
    baskets = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(p)
    n_orders = len(baskets)
    item = Counter()
    pair = Counter()
    for items in baskets.values():
        for p in items:
            item[p] += 1
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair[(s[i], s[j])] += 1
    expect = {
        (a, b): c for (a, b), c in pair.items() if c >= BA_MIN_SUP
    }
    got = QUERIES["q_basket_affinity"](spark, SF_SMOKE).collect()
    assert len(got) == len(expect)
    for r in got:
        key = (r["part_a"], r["part_b"])
        c = expect[key]
        assert r["support"] == c
        assert r["n_a"] == item[r["part_a"]]
        assert r["n_b"] == item[r["part_b"]]
        assert r["conf_ab_bp"] == 10000 * c // item[r["part_a"]]
        assert r["conf_ba_bp"] == 10000 * c // item[r["part_b"]]
        assert r["lift_bp"] == 10000 * n_orders * c // (
            item[r["part_a"]] * item[r["part_b"]]
        )
        assert r["n_orders"] == n_orders
    # co-occurrence at this sparsity should beat independence somewhere
    assert any(r["lift_bp"] > 10000 for r in got)


def test_basket_cap_bounds_megabasket(spark):
    """VERDICT r11 #4: the per-basket fan-out cap is WIRED. A planted
    10^3-item mega-basket yields at most C(BA_MAX_BASKET, 2) pairs — not
    C(1000, 2) — and the kept items are the cap's smallest part ids, the
    same min-k the oracle's twin CTEs keep."""
    from pyspark.sql import functions as F

    from duckdb_ner_spark.operators.caps import capped_bucket_ids
    from duckdb_ner_spark.operators.stats import BA_MAX_BASKET

    mega = spark.range(1000).select(
        F.lit(7).alias("o"), (F.col("id") + 1).alias("p")
    )
    capped = capped_bucket_ids(mega, "p", BA_MAX_BASKET, keys=("o",))
    rows = capped.collect()
    assert len(rows) == BA_MAX_BASKET
    # min-k: the survivors are exactly the smallest part ids
    assert sorted(r["p"] for r in rows) == list(range(1, BA_MAX_BASKET + 1))
    # pair fan-out after the cap is bounded
    b2 = capped.select(F.col("o").alias("o2"), F.col("p").alias("p2"))
    n_pairs = (
        capped.join(b2, (F.col("o") == F.col("o2")) & (F.col("p") < F.col("p2")))
        .count()
    )
    assert n_pairs == BA_MAX_BASKET * (BA_MAX_BASKET - 1) // 2


def test_basket_cap_noop_at_tpch(spark):
    """TPC-H baskets hold <= 7 items, so the wired cap must not change a
    single basket at the smoke SF — the r11 hashes are preserved."""
    con = duckdb.connect()
    mx = con.execute(
        f"SELECT MAX(c) FROM (SELECT COUNT(DISTINCT l_partkey) AS c FROM"
        f" '{SF_SMOKE}/lineitem.parquet' GROUP BY l_orderkey)"
    ).fetchone()[0]
    from duckdb_ner_spark.operators.stats import BA_MAX_BASKET

    assert mx < BA_MAX_BASKET


# --------------------------------------------------------------------------
# q_max_concurrency
# --------------------------------------------------------------------------


def test_max_concurrency_flat_sweep_recompute(spark):
    """The two-level (hour partials + day carry) decomposition equals a
    FLAT single-pass sweep line recomputed in Python over the same
    intervals — the distributed prefix-sum composition proof on real
    data (intervals freely cross hour boundaries)."""
    US_DAY = 86_400_000_000
    US_HOUR = 3_600_000_000
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_us(ts) FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    iv = {}
    for u, te in rows:
        key = (u, te // US_DAY)
        s, e = iv.get(key, (te, te))
        iv[key] = (min(s, te), max(e, te))
    bounds = {}
    for (u, day), (s, e) in iv.items():
        e = min(e + 1, (day + 1) * US_DAY - 1)
        bounds.setdefault(day, []).append((s, -1, u))  # -delta: +1 first
        bounds.setdefault(day, []).append((e, 1, u))
    expect = {}
    for day, bs in bounds.items():
        bs.sort()
        run = best = 0
        best_hour = None
        for te, negdelta, _u in bs:
            run -= negdelta
            if run > best:
                best = run
                best_hour = te // US_HOUR
        expect[day] = (best, best_hour)
    got = QUERIES["q_max_concurrency"](spark, SF_SMOKE).collect()
    assert len(got) == len(expect)
    for r in got:
        mx, hour = expect[r["day"]]
        assert r["max_concurrency"] == mx
        # earliest hour whose hour_max == day max == the hour where the
        # flat sweep FIRST attains the maximum
        assert r["peak_hour"] == hour


def test_max_concurrency_handoff_tie_counts_both(spark):
    """At an exact boundary tie the +1 sorts before the -1 (delta DESC), so
    a handoff instant counts both users — planted two-user fixture where
    user B's interval starts exactly when user A's ends."""
    US_DAY = 86_400_000_000
    t0 = 10 * US_DAY + 3_600_000_000  # day 10, 01:00
    rows = [
        (1, t0), (1, t0 + 50),          # A active [t0, t0+51)
        (2, t0 + 51), (2, t0 + 500),    # B starts exactly at A's e
    ]
    pdf = pd.DataFrame(
        {
            "user_id": pd.array([r[0] for r in rows], dtype="int64"),
            "te": pd.array([r[1] for r in rows], dtype="int64"),
        }
    )
    df = spark.createDataFrame(pdf).select(
        "user_id", F.expr("timestamp_micros(te)").alias("ts")
    )
    # replicate the query's construction on the planted frame
    iv = (
        df.select(
            "user_id",
            F.expr(
                "timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) DIV {US_DAY}"
            ).alias("day"),
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("te"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.min("te").alias("s"),
            F.least(
                F.max("te") + 1, (F.col("day") + 1) * US_DAY - 1
            ).alias("e"),
        )
    )
    bound = iv.select(
        "day", F.col("s").alias("te"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        iv.select(
            "day", F.col("e").alias("te"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    from pyspark.sql import Window as W

    run_w = W.partitionBy("day").orderBy("te", F.desc("delta"), "user_id")
    mx = (
        bound.withColumn("run", F.sum("delta").over(run_w))
        .agg(F.max("run"))
        .collect()[0][0]
    )
    assert mx == 2  # the handoff instant counts both


# --------------------------------------------------------------------------
# q_corpus_diff
# --------------------------------------------------------------------------


def test_corpus_diff_python_recompute(spark):
    """The (source, status) rollup matches a from-scratch Python replay of
    the version carve + digest diff, and the status taxonomy is exactly
    the fixture construction: %10==1 added, %10==0 deleted, %7==0 (when in
    both) modified, rest unchanged."""
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, source, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    expect = {}
    for d, src, n in docs:
        in1, in2 = d % 10 != 1, d % 10 != 0
        if not in1 and not in2:
            continue
        if not in1:
            st, c1, c2 = "added", 0, n + 7 if d % 7 == 0 else n
        elif not in2:
            st, c1, c2 = "deleted", n, 0
        elif d % 7 == 0:
            st, c1, c2 = "modified", n, n + 7
        else:
            st, c1, c2 = "unchanged", n, n
        k = (src, st)
        agg = expect.setdefault(k, [0, 0, 0])
        agg[0] += 1
        agg[1] += c1
        agg[2] += c2
    rows = QUERIES["q_corpus_diff"](spark, SF_SMOKE).collect()
    assert len(rows) == len(expect)
    for r in rows:
        n_docs, c1, c2 = expect[(r["source"], r["status"])]
        assert (r["n_docs"], r["chars_v1"], r["chars_v2"]) == (n_docs, c1, c2)
        assert r["delta_chars"] == c2 - c1
    assert {r["status"] for r in rows} == {
        "added", "deleted", "modified", "unchanged"
    }


# --------------------------------------------------------------------------
# q_lsh_sweep
# --------------------------------------------------------------------------


def test_lsh_sweep_curve_and_exact_truth(spark):
    """Banding-curve invariants: candidate sets are nested (a (b,2r) band
    collision implies the two (2b,r) collisions), so n_cand and n_hit are
    non-decreasing in n_bands and precision is non-increasing; n_true
    matches an O(n^2) pure-Python exact-Jaccard count; and the shipped
    4x2 config sits on the sweet spot (full recall at a fraction of the
    8x1 candidate volume)."""
    from duckdb_ner_spark.operators.dedup import LSW_TAU_D, LSW_TAU_N

    rows = sorted(
        QUERIES["q_lsh_sweep"](spark, SF_SMOKE).collect(),
        key=lambda r: r["n_bands"],
    )
    assert [(r["n_bands"], r["rows_per_band"]) for r in rows] == [
        (1, 8), (2, 4), (4, 2), (8, 1)
    ]
    for a, b in zip(rows, rows[1:]):
        assert a["n_cand"] <= b["n_cand"]
        assert a["n_hit"] <= b["n_hit"]
        assert a["precision_bp"] >= b["precision_bp"]
    for r in rows:
        assert r["recall_bp"] == 10000 * r["n_hit"] // r["n_true"]

    # exact ground truth replay: O(n^2) Jaccard over 3-word shingle sets
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    sh = {}
    for d, text in docs:
        ws = text.split(" ")
        s = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        if s:
            sh[d] = s
    ids = sorted(sh)
    n_true = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if LSW_TAU_D * inter >= LSW_TAU_N * len(sh[a] | sh[b]):
                n_true += 1
    assert rows[0]["n_true"] == n_true

    full = rows[-1]  # 8 bands x 1 row: max recall, max candidates
    shipped = next(r for r in rows if (r["n_bands"], r["rows_per_band"]) == (4, 2))
    assert shipped["recall_bp"] == full["recall_bp"]
    assert shipped["n_cand"] * 5 < full["n_cand"]


# --------------------------------------------------------------------------
# q_index_delta
# --------------------------------------------------------------------------


def test_index_delta_merge_equals_rebuild(spark):
    """Segment-merge proof on shipped testdata: df/tf diffs are 0 for every
    query term, segment dfs partition the merged df, and the merged top-k
    posting list matches a pure-Python recompute."""
    from collections import Counter

    from duckdb_ner_spark.operators.retrieval import IDX_TERMS, IDX_TOPK

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    tf = {t: Counter() for t in IDX_TERMS}
    for d, text in docs:
        for w in text.split(" "):
            if w in tf:
                tf[w][d] += 1
    rows = QUERIES["q_index_delta"](spark, SF_SMOKE).collect()
    assert {r["term"] for r in rows} == set(IDX_TERMS)
    for r in rows:
        c = tf[r["term"]]
        assert r["df_diff"] == 0 and r["tf_diff"] == 0
        assert r["df_main"] + r["df_delta"] == r["df_merged"] == len(c)
        assert r["tf_merged"] == sum(c.values())
        assert r["df_main"] == sum(1 for d in c if d % 2 == 0)
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:IDX_TOPK]
        # top_merged is a CSV STRING (hash-declared queries must not ship
        # array columns — assert_hashable_schema, the r11 red-row fix)
        assert r["top_merged"] == ",".join(str(d) for d, _ in top)
