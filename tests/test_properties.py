"""Property-based tests (hypothesis) for the correctness-critical ported
algorithms — beyond the reference's example-based suite (SURVEY.md §5.2)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_ner_spark.ner.decode import LABEL_MAP, decode_entities
from duckdb_ner_spark.ner.tokenizer import split_words, tokenize
from duckdb_ner_spark.ner.vocab import Vocab

TOKENS = ["[CLS]", "[SEP]", "duck", "##db", "labs", "is", "in", "amsterdam", "new", "york", "sam"]
V = Vocab.from_tokens(TOKENS)

texts = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz #\t\n,."), max_size=200
)


@given(texts)
@settings(max_examples=300, deadline=None)
def test_tokenize_invariants(text):
    out = tokenize(V, text, 16)
    # [CLS] first, [SEP] last, cap respected, all ids valid
    assert out[0] == V.cls_id
    assert out[-1] == V.sep_id
    assert len(out) <= 16
    assert all(0 <= t < len(TOKENS) for t in out)


@given(texts)
@settings(max_examples=300, deadline=None)
def test_tokenize_matches_wordwise_concat(text):
    """Tokenizing word-by-word equals tokenizing the text (no cross-word
    state in the reference algorithm) — when nothing truncates."""
    full = tokenize(V, text, 10_000)
    per_word = [V.cls_id]
    for w in split_words(text):
        per_word.extend(tokenize(V, w, 10_000)[1:-1])
    per_word.append(V.sep_id)
    assert full == per_word


@given(
    st.lists(st.integers(min_value=0, max_value=len(TOKENS) - 1), min_size=2, max_size=30),
    st.data(),
)
@settings(max_examples=300, deadline=None)
def test_decode_never_crashes_and_labels_valid(token_ids, data):
    labels = [
        data.draw(st.integers(min_value=0, max_value=8)) for _ in token_ids
    ]
    logits = np.zeros((len(token_ids), 9), dtype=np.float32)
    for i, lb in enumerate(labels):
        logits[i, lb] = 1.0
    ents = decode_entities(token_ids, logits, V.id_to_token)
    for text, label in ents:
        assert label in LABEL_MAP and label != "O"
        assert text  # never empty


@given(
    st.lists(st.integers(min_value=0, max_value=len(TOKENS) - 1), min_size=2, max_size=30)
)
@settings(max_examples=200, deadline=None)
def test_decode_all_O_yields_no_entities(token_ids):
    logits = np.zeros((len(token_ids), 9), dtype=np.float32)
    logits[:, 0] = 1.0
    assert decode_entities(token_ids, logits, V.id_to_token) == []


_word_texts = st.lists(
    st.tuples(st.sampled_from(TOKENS + ["##", "##x", "duckdb", "€", "naïve", "xyz", ""]),
              st.sampled_from([" ", "\t", "\n", "\r", "\x0b", "\x0c", "  ", "\u00a0"])),
    max_size=12,
).map(lambda pairs: "".join(w + sep for w, sep in pairs))


@given(
    st.lists(st.none() | texts | _word_texts, max_size=6),
    st.integers(min_value=0, max_value=20),
    st.data(),
)
@settings(max_examples=300, deadline=None)
def test_flat_tokenize_and_decode_match_per_row(batch, n_max, data):
    """The UDF's flat batch path equals the per-row spec: tokenize_batch
    gives each row's ``tokenize`` ids, and decode_batch over random labels
    gives each row's ``decode_entities``."""
    import pyarrow as pa

    from duckdb_ner_spark.ner.decode import decode_batch
    from duckdb_ner_spark.ner.tokenizer import tokenize_batch

    ids, offsets = tokenize_batch(V, pa.array(batch, pa.string()), n_max)
    labels = np.array(
        data.draw(st.lists(st.integers(0, 8), min_size=len(ids), max_size=len(ids))),
        dtype=np.int64,
    )
    entities, names, row_offsets = decode_batch(V, ids, labels, offsets)
    entities, names = entities.to_pylist(), names.to_pylist()
    for r, text in enumerate(batch):
        row = slice(offsets[r], offsets[r + 1])
        got = list(zip(entities[row_offsets[r]:row_offsets[r + 1]],
                       names[row_offsets[r]:row_offsets[r + 1]]))
        if text is None:
            assert row.start == row.stop and got == []
            continue
        assert ids[row].tolist() == tokenize(V, text, n_max)
        logits = np.eye(9, dtype=np.float32)[labels[row]]
        assert got == decode_entities(ids[row].tolist(), logits, V.id_to_token)


@given(st.integers(min_value=4, max_value=40))
@settings(max_examples=50, deadline=None)
def test_truncation_monotone(cap):
    text = "new york amsterdam sam duck labs is in " * 4
    out = tokenize(V, text, cap)
    assert len(out) <= cap
    bigger = tokenize(V, text, cap + 1)
    # a larger cap extends the token stream prefix-compatibly ([SEP] aside)
    assert bigger[: len(out) - 1][: len(out) - 1][0] == out[0]
    assert out[:-1] == bigger[: len(out) - 1]


# --- shingles_expr: the zip_with-of-slices rewrite must be EXACTLY the
# naive first-occurrence-distinct n-gram construction for any word list ----

word = st.text(alphabet="abc", min_size=1, max_size=3)
word_lists = st.lists(st.lists(word, max_size=8), min_size=1, max_size=6)


def _ref_shingles(ws, n=3):
    seen, out = set(), []
    for i in range(len(ws) - n + 1):
        s = " ".join(ws[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


@given(batches=word_lists)
@settings(max_examples=15, deadline=None)
def test_shingles_expr_matches_reference(spark, batches):
    from duckdb_ner_spark.operators.textprep import shingles_expr

    df = spark.createDataFrame([(i, ws) for i, ws in enumerate(batches)], "i INT, ws ARRAY<STRING>")
    got = {r.i: list(r.sh) for r in df.select("i", shingles_expr().alias("sh")).collect()}
    expect = {i: _ref_shingles(ws) for i, ws in enumerate(batches)}
    assert got == expect


# asof-join boundary semantics vs a brute-force reference --------------------

_asof_cases = st.tuples(
    # left needles: (key, ts_sec) — duplicates allowed
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 8)), min_size=1, max_size=6
    ),
    # right quotes: unique (key, ts_sec) — the union+window formulation (like
    # pandas merge_asof) leaves the winner among EXACT right-side duplicates
    # unspecified, so uniqueness is the documented precondition
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 8)),
        min_size=1,
        max_size=6,
        unique=True,
    ),
    st.sampled_from(["backward", "forward"]),
    st.sampled_from([None, "2 seconds"]),
)


@given(case=_asof_cases)
@settings(max_examples=25, deadline=None)
def test_asof_join_boundaries_match_reference(spark, case):
    """Property test for the as-of family's boundary semantics (VERDICT r3
    #6): equal-timestamp needles/quotes (match must be INCLUSIVE — 'at or
    before/after'), multiple needles at one instant, and quotes exactly at
    the tolerance bound (inclusive: |lts−rts| ≤ tol) — against a
    brute-force per-needle reference."""
    import datetime

    from duckdb_ner_spark.operators.asof import asof_join

    lrows, rrows, direction, tolerance = case
    base = datetime.datetime(2024, 1, 1)

    def ts(s):
        return base + datetime.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(i, k, ts(s)) for i, (k, s) in enumerate(lrows)],
        "lid INT, k INT, lts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [(k, ts(s), k * 100 + s) for k, s in rrows],
        "k INT, rts TIMESTAMP, quote INT",
    )
    got = {
        r.lid: (r.quote if tolerance is None else r.quote)
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            direction=direction, tolerance=tolerance,
        ).collect()
    }

    tol = 2 if tolerance is not None else None
    expect = {}
    for i, (k, s) in enumerate(lrows):
        if direction == "backward":
            cand = [(rs, k * 100 + rs) for rk, rs in rrows if rk == k and rs <= s]
            best = max(cand) if cand else None
        else:
            cand = [(rs, k * 100 + rs) for rk, rs in rrows if rk == k and rs >= s]
            best = min(cand) if cand else None
        if best is not None and tol is not None and abs(best[0] - s) > tol:
            best = None
        expect[i] = best[1] if best is not None else None

    assert got == expect, (lrows, rrows, direction, tolerance)


# SCD2 run segmentation vs the DuckDB oracle under timestamp collisions -----

_scd2_events = st.lists(
    st.tuples(
        st.integers(0, 1),            # user_id
        st.integers(0, 5),            # ts seconds — small range forces ties
        st.sampled_from(["a", "b"]),  # event_type
    ),
    min_size=1,
    max_size=8,
)


@given(events=_scd2_events)
@settings(max_examples=15, deadline=None)
def test_scd2_ties_match_oracle(spark, events, tmp_path_factory):
    """Property test (VERDICT r3 #6): q_scd2's gaps-and-islands build must
    match the DuckDB oracle on ARBITRARY small change logs — including
    duplicate (user, ts) pairs with conflicting types (two updates at the
    same instant) and runs that close at the exact next-version boundary.
    event_id (the insertion index) is the pinned tiebreak in both engines."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_ner_spark.operators.scalepatterns import _SCD2_ORACLE, q_scd2

    base = datetime.datetime(2024, 1, 1)
    d = tmp_path_factory.mktemp("scd2prop")
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(events)), pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(seconds=s) for _, s, _ in events],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in events], pa.int64()),
            "event_type": pa.array([t for _, _, t in events], pa.string()),
            "value": pa.array([1.0] * len(events), pa.float64()),
            "props": pa.array(["{}"] * len(events), pa.string()),
        }
    )
    pq.write_table(tbl, str(d / "events.parquet"), version="2.6")

    got = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current, r.n_events)
        for r in q_scd2(spark, str(d)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    want = {tuple(r) for r in con.execute(_SCD2_ORACLE).fetchall()}
    assert got == want, events


@given(
    st.lists(
        st.tuples(st.sampled_from(["web", "wiki", "code"]), st.integers(1, 5000)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=60, deadline=None)
def test_pack_window_math_matches_reference(spark, docs):
    """q_pack's window/offset math (prefix sum + end-token window) equals a
    sequential Python packer over random shard/length mixes — including
    docs longer than the window cap."""
    from duckdb_ner_spark.operators.trainprep import PACK_CAP
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = [(src, i, n) for i, (src, n) in enumerate(docs)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    got = {
        (r.source, r.doc_id): (r.off, r.win)
        for r in df.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "source",
            "doc_id",
            (F.col("cum") - F.col("n_tokens")).alias("off"),
            F.expr(f"(cum - 1) div {PACK_CAP}").alias("win"),
        )
        .collect()
    }
    # sequential reference
    pos = {}
    for src, doc_id, n in sorted(rows, key=lambda r: (r[0], r[1])):
        off = pos.get(src, 0)
        end = off + n
        assert got[(src, doc_id)] == (off, (end - 1) // PACK_CAP), (src, doc_id, n)
        pos[src] = end


# ---- ordered-funnel windowed core vs pure-Python reference ----------------

_funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),  # user_id
        st.integers(min_value=0, max_value=30),  # second offset (ties likely)
        st.sampled_from(["view", "click", "purchase", "signup", "error"]),
    ),
    min_size=1,
    max_size=40,
)


@given(events=_funnel_events)
@settings(max_examples=15, deadline=None)
def test_funnel_stages_match_reference(spark, events):
    """funnel_user_stages (stacked unordered windows) == the sequential
    definition computed in pure Python: t1 = first view, t2 = first click
    strictly after t1, t3 = first purchase strictly after t2 — including
    tie cases (same-timestamp view/click must NOT chain)."""
    import datetime as dt

    from duckdb_ner_spark.operators.scalepatterns import funnel_user_stages

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(seconds=s), et) for u, s, et in events
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {r.user_id: (r.t1, r.t2, r.t3) for r in funnel_user_stages(df).collect()}

    by_user = {}
    for u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, et))
    for u, evs in by_user.items():
        t1 = min((ts for ts, et in evs if et == "view"), default=None)
        t2 = (
            min((ts for ts, et in evs if et == "click" and ts > t1), default=None)
            if t1 is not None
            else None
        )
        t3 = (
            min((ts for ts, et in evs if et == "purchase" and ts > t2), default=None)
            if t2 is not None
            else None
        )
        assert got[u] == (t1, t2, t3), (u, evs)
    assert set(got) == set(by_user)


# ---- block-level line dedup vs pure-Python reference ----------------------

_corpora = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]),  # tiny vocab => dup blocks likely
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


@given(wordlists=_corpora)
@settings(max_examples=15, deadline=None)
def test_line_dedup_matches_reference(spark, wordlists):
    """line_dedup_stats == the canonical-first definition computed in pure
    Python over random corpora: blocks are 8-word non-overlapping windows,
    an instance is a dup iff an earlier (doc_id, pos) instance of the same
    block exists anywhere."""
    from duckdb_ner_spark.operators.cleaning import BLOCK_WORDS, line_dedup_stats

    rows = [(i, " ".join(ws)) for i, ws in enumerate(wordlists)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_blocks, r.n_dup) for r in line_dedup_stats(df).collect()
    }
    seen: set[str] = set()
    expect = {}
    for doc_id, ws in enumerate(wordlists):
        blocks = [
            " ".join(ws[p * BLOCK_WORDS : (p + 1) * BLOCK_WORDS])
            for p in range(len(ws) // BLOCK_WORDS)
        ]
        if not blocks:
            continue
        n_dup = 0
        for b in blocks:
            if b in seen:
                n_dup += 1
            else:
                seen.add(b)
        expect[doc_id] = (len(blocks), n_dup)
    assert got == expect


# --------------------------------------------------------------------------
# round-11 operator properties (pure-Python models of the declared SQL)
# --------------------------------------------------------------------------

import re as _re


def _canon_py(url: str) -> str:
    from duckdb_ner_spark.operators.dedup import _URL_CANON_STEPS

    u = url.lower()
    for pat, rep in _URL_CANON_STEPS:
        u = _re.sub(pat, rep, u)
    return u


_url_schemes = st.sampled_from(["http://", "https://", "HTTP://", "HTTPS://"])
_url_host = st.from_regex(r"(www\.)?[a-z]{1,8}(\.[a-z]{2,6}){1,2}", fullmatch=True)
_url_path = st.from_regex(r"(/[a-z0-9\-]{1,10}){0,4}/?", fullmatch=True)
_url_params = st.sampled_from(
    ["", "?utm_source=a", "?ref=x&utm_medium=b", "?utm_campaign=c&ref=y"]
)
_url_frag = st.sampled_from(["", "#top", "#sec-2"])


@given(_url_schemes, _url_host, _url_path, _url_params, _url_frag)
@settings(max_examples=300, deadline=None)
def test_url_canonicalization_idempotent_and_clean(sch, host, path, params, frag):
    """canon(canon(u)) == canon(u) (the canonicalization contract), and the
    output never carries a fragment, a tracking param, www., plain http,
    or a trailing slash on a non-empty path."""
    u = f"{sch}{host}{path}{params}{frag}"
    c = _canon_py(u)
    assert _canon_py(c) == c
    assert "#" not in c
    assert "utm_" not in c and "ref=" not in c
    assert c.startswith("https://")
    assert not c.startswith("https://www.")
    assert not (len(c) > len("https://") and c.endswith("/"))


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 4_000_000)),
        min_size=2,
        max_size=120,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=200, deadline=None)
def test_priority_sample_threshold_property(docs):
    """The DLT sample's defining property under the integer-exact priority
    (w * 2^40) // (v+1): every sampled doc's priority >= tau >= every
    unsampled doc's priority, est_w >= w for sampled docs, and the sample
    is exactly min(k, n) docs."""
    import hashlib

    from duckdb_ner_spark.operators.sampling import WS_U_SCALE

    k = 5

    def v40(d):
        return int(hashlib.md5(f"wpri|{d}".encode()).hexdigest()[:10], 16)

    pri = sorted(
        ((w * WS_U_SCALE) // (v40(d) + 1), d, w) for d, w in docs
    )
    pri.sort(key=lambda t: (-t[0], t[1]))
    take = min(k, len(pri))
    sample, rest = pri[:take], pri[take:]
    tau = pri[k][0] if len(pri) > k else 0
    assert all(p >= tau for p, _, _ in sample)
    assert all(p <= tau for p, _, _ in rest)
    for p, d, w in sample:
        assert max(w, tau) >= w
        assert p >= w  # priority = w/u with u <= 1 can only inflate
