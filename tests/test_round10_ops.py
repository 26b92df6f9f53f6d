"""Round-10 operator tests: substring-span REMOVAL dedup (q_substring_dedup).

The planted-fixture tests prove the VERDICT r9 #2 contract: excision removes
EXACTLY the duplicated-span character runs from non-canonical occurrences
(lossless elsewhere), the keep-first canonical occurrence survives, and the
registry query matches a pure-Python recompute on shipped testdata.
"""

from collections import defaultdict

import pandas as pd

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.operators.substring import (
    SSD_K,
    substring_excise_spans,
    substring_scrub,
)
from duckdb_ner_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def _docs_df(spark, texts: dict[int, str]):
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(sorted(texts), dtype="int64"),
            "text": [texts[k] for k in sorted(texts)],
            "n_chars": pd.array(
                [len(texts[k]) for k in sorted(texts)], dtype="int64"
            ),
        }
    )
    return spark.createDataFrame(pdf)


def _apply_excisions(text: str, spans: list[tuple[int, int]]) -> str:
    """Remove 1-based inclusive [st, en] ranges (right-to-left, no shift)."""
    out = text
    for st, en in sorted(spans, reverse=True):
        out = out[: st - 1] + out[en:]
    return out


def _uniq(tag: str, n: int) -> str:
    # deterministic filler with no 40-char repeat across tags
    return "".join(f"<{tag}:{i:04d}>" for i in range(n))[:n]


def test_substring_dedup_lossless_and_keep_first(spark):
    """Two spans >= K planted into doc 1 from canonical doc 0: excision hits
    exactly the planted ranges, doc 0 is untouched, every planted span
    survives exactly once corpus-wide, and all other doc-1 characters are
    preserved in order (lossless elsewhere)."""
    # planted spans must be aperiodic — a periodic span (e.g. "ALPHA "*12)
    # duplicates ITS OWN windows and correctly triggers intra-doc excision
    s1 = _uniq("s1", 72)  # 72 chars, > K
    s2 = _uniq("s2", 60)  # 60 chars, > K
    pre, mid, post = _uniq("pre", 80), _uniq("mid", 90), _uniq("post", 70)
    # '#' sentinels bound the common run at exactly the planted span —
    # without them the shared '<' that opens every filler would extend the
    # (correctly) maximal excision one char past the plant
    doc0 = _uniq("zero", 50) + "#" + s1 + "#" + _uniq("z2", 60) + "#" + s2 + "#"
    doc1 = pre + s1 + mid + s2 + post
    doc2 = _uniq("solo", 200)
    texts = {0: doc0, 1: doc1, 2: doc2}
    spans = (
        substring_excise_spans(_docs_df(spark, texts))
        .orderBy("doc_id", "span_seq")
        .collect()
    )
    by_doc = defaultdict(list)
    for r in spans:
        assert r.excise_len == r.excise_end - r.excise_start + 1
        by_doc[r.doc_id].append((r.excise_start, r.excise_end))
    # keep-first: canonical doc 0 untouched; unique doc 2 untouched
    assert 0 not in by_doc and 2 not in by_doc
    # exactly the two planted ranges in doc 1 (1-based inclusive)
    st1 = len(pre) + 1
    st2 = len(pre) + len(s1) + len(mid) + 1
    assert by_doc[1] == [
        (st1, st1 + len(s1) - 1),
        (st2, st2 + len(s2) - 1),
    ]
    cleaned1 = _apply_excisions(doc1, by_doc[1])
    assert cleaned1 == pre + mid + post  # lossless elsewhere
    corpus = doc0 + "\x00" + cleaned1 + "\x00" + doc2
    assert corpus.count(s1) == 1 and corpus.count(s2) == 1


def test_substring_dedup_merges_overlapping_windows(spark):
    """An exact-duplicate document collapses to ONE maximal span covering
    the whole text (every window duplicated, islands merged)."""
    body = _uniq("dupl", 150)
    spans = (
        substring_excise_spans(_docs_df(spark, {0: body, 1: body}))
        .collect()
    )
    assert len(spans) == 1
    (r,) = spans
    assert (r.doc_id, r.span_seq, r.excise_start, r.excise_end) == (
        1,
        1,
        1,
        len(body),
    )


def test_substring_scrub_emits_cleaned_text(spark):
    """Apply half: the scrubbed doc equals the Python-applied excisions
    (pre+mid+post for the two-plant doc), and a fully-duplicated doc comes
    out as the empty string with the inventory row intact."""
    s1, s2 = _uniq("s1", 72), _uniq("s2", 60)
    pre, mid, post = _uniq("pre", 80), _uniq("mid", 90), _uniq("post", 70)
    doc0 = _uniq("zero", 50) + "#" + s1 + "#" + _uniq("z2", 60) + "#" + s2 + "#"
    dup = _uniq("dupl", 150)
    texts = {0: doc0, 1: pre + s1 + mid + s2 + post, 2: dup, 3: dup}
    rows = {r.doc_id: r for r in substring_scrub(_docs_df(spark, texts)).collect()}
    assert set(rows) == {1, 3}
    assert rows[1].cleaned_text == pre + mid + post
    assert rows[1].n_spans == 2
    assert rows[1].chars_removed == len(s1) + len(s2)
    assert rows[1].cleaned_len == len(pre + mid + post)
    assert rows[3].cleaned_text == "" and rows[3].cleaned_len == 0
    assert rows[3].chars_removed == len(dup) and rows[3].n_spans == 1


def _python_spans(texts: dict[int, str], k: int, sparse_hex: str | None = None):
    """Pure-Python recompute: shingle census, keep-first, interval merge.
    With sparse_hex, only windows whose md5 starts with it participate
    (the q_substring_sparse content-defined selection)."""
    import hashlib

    occ = defaultdict(list)
    for d in sorted(texts):
        t = texts[d]
        for i in range(1, len(t) - k + 2):
            w = t[i - 1 : i - 1 + k]
            if (
                sparse_hex is not None
                and hashlib.md5(w.encode()).hexdigest()[0] != sparse_hex
            ):
                continue
            occ[w].append((d, i))
    excise = defaultdict(list)
    for positions in occ.values():
        if len(positions) > 1:
            for d, i in sorted(positions)[1:]:
                excise[d].append((i, i + k - 1))
    out = {}
    for d, ivs in excise.items():
        merged = []
        for st, en in sorted(ivs):
            if merged and st <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], en)
            else:
                merged.append([st, en])
        out[d] = [tuple(m) for m in merged]
    return out


def test_q_substring_dedup_matches_python_recompute(spark):
    """Registry query vs an independent imperative recompute at sf0.001,
    including the per-doc removed/kept rollups."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    texts = {r.doc_id: r.text for r in docs}
    nchars = {r.doc_id: r.n_chars for r in docs}
    want = _python_spans(texts, SSD_K)
    got = defaultdict(list)
    rows = QUERIES["q_substring_dedup"](spark, SF_SMOKE).collect()
    for r in rows:
        got[r.doc_id].append(r)
        assert r.doc_chars_removed == sum(
            x.excise_len for x in rows if x.doc_id == r.doc_id
        )
        assert r.doc_chars_kept == nchars[r.doc_id] - r.doc_chars_removed
    assert set(got) == set(want)
    for d, ivs in want.items():
        spark_ivs = [
            (r.excise_start, r.excise_end)
            for r in sorted(got[d], key=lambda r: r.span_seq)
        ]
        assert spark_ivs == ivs, d

def test_sparse_spans_subset_and_python_recompute(spark):
    """q_substring_sparse core properties at sf0.001: the sparse excise
    spans equal an independent pure-Python content-defined recompute, and
    every sparse span is contained in a full span of the same doc (the
    subset-by-construction claim in the docstring)."""
    from duckdb_ner_spark.operators.substring import SSD_SPARSE_HEX

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    texts = {r.doc_id: r.text for r in docs}
    want = _python_spans(texts, SSD_K, sparse_hex=SSD_SPARSE_HEX)
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    got = defaultdict(list)
    for r in substring_excise_spans(df, sparse_hex=SSD_SPARSE_HEX).collect():
        got[r.doc_id].append((r.excise_start, r.excise_end))
    assert {d: sorted(v) for d, v in got.items()} == want
    full = _python_spans(texts, SSD_K)
    for d, ivs in want.items():
        assert d in full
        for st, en in ivs:
            assert any(fs <= st and en <= fe for fs, fe in full[d]), (d, st, en)

def test_suffix_rank_matches_bruteforce_prefix_classes(spark):
    """q_suffix_rank depth-d classes must equal the brute-force grouping by
    (suffix prefix of length d, min(suffix_len, d)) — the equivalence the
    doubling recursion with a rank-0 past-end sentinel induces — and the
    convergence curve must be monotone (classes up, dup mass down)."""
    from collections import Counter

    from duckdb_ner_spark.operators.substring import SUFR_DEPTHS

    rows = QUERIES["q_suffix_rank"](spark, SF_SMOKE).orderBy("depth").collect()
    assert [r.depth for r in rows] == list(SUFR_DEPTHS)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    for r in rows:
        cnt = Counter()
        for doc in docs:
            t, L = doc.text, len(doc.text)
            for i in range(L):
                cnt[(t[i : i + r.depth], min(L - i, r.depth))] += 1
        assert r.n_classes == len(cnt), r.depth
        assert r.dup_positions == sum(c for c in cnt.values() if c > 1), r.depth
        assert r.max_class_size == max(cnt.values()), r.depth
    for a, b in zip(rows, rows[1:]):
        assert b.n_classes >= a.n_classes
        assert b.dup_positions <= a.dup_positions
        assert b.max_class_size <= a.max_class_size


def test_suffix_spans_equal_full_inventory(spark):
    """VERDICT r10 #1 done-criterion: the suffix-rank span inventory
    (q_suffix_spans) is row-for-row EQUAL to the windowed-hash inventory
    (q_substring_dedup) at sf0.001 — two independent algorithms, one
    relation."""
    key = lambda r: (  # noqa: E731
        r.doc_id,
        r.span_seq,
        r.excise_start,
        r.excise_end,
        r.excise_len,
        r.doc_chars_removed,
        r.doc_chars_kept,
    )
    a = sorted(map(key, QUERIES["q_suffix_spans"](spark, SF_SMOKE).collect()))
    b = sorted(map(key, QUERIES["q_substring_dedup"](spark, SF_SMOKE).collect()))
    assert a == b and len(a) > 0


def test_suffix_spans_planted_equals_hash_census(spark):
    """Planted-corpus equality of the two span engines: the in-memory
    suffix-rank chain (suffix_excise_spans) emits exactly the spans the
    md5-window census emits — including the keep-first canonical, the
    sentinel-bounded maximal runs, and the untouched unique doc."""
    from duckdb_ner_spark.operators.substring import suffix_excise_spans

    s1, s2 = _uniq("s1", 72), _uniq("s2", 60)
    pre, mid, post = _uniq("pre", 80), _uniq("mid", 90), _uniq("post", 70)
    doc0 = _uniq("zero", 50) + "#" + s1 + "#" + _uniq("z2", 60) + "#" + s2 + "#"
    dup = _uniq("dupl", 150)
    texts = {
        0: doc0,
        1: pre + s1 + mid + s2 + post,
        2: _uniq("solo", 200),
        3: dup,
        4: dup,
    }
    df = _docs_df(spark, texts)
    key = lambda r: (r.doc_id, r.span_seq, r.excise_start, r.excise_end)  # noqa: E731
    got = sorted(map(key, suffix_excise_spans(df).collect()))
    want = sorted(map(key, substring_excise_spans(df).collect()))
    assert got == want and len(got) == 3  # doc1 x2 spans + doc4 full collapse


def test_scrub_many_spans_per_doc(spark):
    """Many-span fixture (VERDICT r10 Next-round #4): a doc carrying 8
    distinct duplicated spans interleaved with unique filler scrubs to
    exactly its fillers, the inventory reports 8 spans, and the span count
    respects the islands bound (n_chars + 1) div (SSD_K + 1) that keeps
    the per-doc collect_list in _scrub_from_spans bounded."""
    n_spans = 8
    spans = [_uniq(f"sp{j}", 48) for j in range(n_spans)]
    fillers = [_uniq(f"fl{j}", 25) for j in range(n_spans + 1)]
    # canonical doc: sentinel-bounded plants so maximal runs stop exactly
    doc0 = "#".join([_uniq("zero", 30)] + spans + [_uniq("z2", 30)])
    doc1 = fillers[0] + "".join(
        s + f for s, f in zip(spans, fillers[1:])
    )
    rows = substring_scrub(_docs_df(spark, {0: doc0, 1: doc1})).collect()
    assert len(rows) == 1 and rows[0].doc_id == 1
    r = rows[0]
    assert r.n_spans == n_spans
    assert r.cleaned_text == "".join(fillers)
    assert r.chars_removed == sum(len(s) for s in spans)
    assert n_spans <= (len(doc1) + 1) // (SSD_K + 1)


def test_pack_guard_raises_on_oversized_doc(spark):
    """ADVICE r10 #1: a document with n_chars >= SSD_POS_BIG must FAIL the
    inventory job loudly (packed keep-first keys would silently collide
    across docs and the destructive dedup would excise wrong spans)."""
    import pytest

    from duckdb_ner_spark.operators.substring import SSD_POS_BIG

    big_doc = _uniq("big", SSD_POS_BIG)
    df = _docs_df(spark, {0: big_doc, 1: _uniq("ok", 120)})
    with pytest.raises(Exception, match="packed keep-first key"):
        substring_excise_spans(df).collect()


def test_packed_census_equals_hash_census(spark):
    """q_substring_packed's digest-free core: the packed-content census
    emits exactly the spans the md5 census emits on a planted corpus with
    multi-span docs, full-dup collapse, and an untouched unique doc — and
    a NUL character packs distinctly (cp+1 keeps real chars nonzero)."""
    from duckdb_ner_spark.operators.substring import packed_excise_spans

    s1, s2 = _uniq("s1", 72), _uniq("s2", 60)
    pre, mid, post = _uniq("pre", 80), _uniq("mid", 90), _uniq("post", 70)
    doc0 = _uniq("zero", 50) + "#" + s1 + "#" + _uniq("z2", 60) + "#" + s2 + "#"
    dup = _uniq("dupl", 150)
    # docs 5/6: differ ONLY by a NUL vs its absence inside the window —
    # must NOT be counted as duplicates of each other
    nul_a = _uniq("nul", 60) + "\x00" + _uniq("nul2", 60)
    nul_b = _uniq("nul", 60) + "~" + _uniq("nul2", 60)
    texts = {
        0: doc0,
        1: pre + s1 + mid + s2 + post,
        2: _uniq("solo", 200),
        3: dup,
        4: dup,
        5: nul_a,
        6: nul_b,
    }
    df = _docs_df(spark, texts)
    key = lambda r: (r.doc_id, r.span_seq, r.excise_start, r.excise_end)  # noqa: E731
    got = sorted(map(key, packed_excise_spans(df).collect()))
    want = sorted(map(key, substring_excise_spans(df).collect()))
    assert got == want and len(got) == 5
    # doc 5 is canonical (lower id) for the shared fillers; doc 6's two
    # spans are exactly the fillers and EXCLUDE position 61 — the one char
    # where '\x00' vs '~' differ, proving NUL packs distinctly
    doc6 = [(st, en) for d, _seq, st, en in got if d == 6]
    assert doc6 == [(1, 60), (62, 121)]
    assert all(d != 5 for d, *_ in got)


def test_packed_census_registry_equals_inventory(spark):
    """Registry-level: q_substring_packed == q_substring_dedup at sf0.001
    (three algorithms — md5, suffix-rank, packed — one relation)."""
    key = lambda r: tuple(r)  # noqa: E731
    a = sorted(map(key, QUERIES["q_substring_packed"](spark, SF_SMOKE).collect()))
    b = sorted(map(key, QUERIES["q_substring_dedup"](spark, SF_SMOKE).collect()))
    assert a == b and len(a) > 0


def test_packed_census_rejects_wide_codepoints(spark):
    """The single-byte-only pack must fail loudly on a multi-byte char in an
    eligible window (silent misordering would corrupt the census)."""
    import pytest

    from duckdb_ner_spark.operators.substring import packed_excise_spans

    texts = {0: _uniq("w", 30) + "é" + _uniq("w2", 30), 1: _uniq("x", 120)}
    df = _docs_df(spark, texts)
    with pytest.raises(Exception, match="non-ASCII window"):
        packed_excise_spans(df).collect()


def test_substring_incr_probe_planted(spark):
    """Ingest-probe semantics on a planted corpus: a batch doc quoting a
    corpus span is charged exactly the span's windows/chars, an exact
    mirror of a corpus doc is rejected at 10000 bp, and a unique batch doc
    admits with zeros."""
    from duckdb_ner_spark.operators.substring import (
        SSD_K,
        substring_ingest_probe,
        substring_pack_index,
    )

    s1 = _uniq("s1", 100)
    mirror = _uniq("mirr", 180)
    # corpus (even ids): canonical span carrier + the doc to be mirrored
    corpus = _docs_df(
        spark,
        {0: _uniq("zero", 40) + "#" + s1 + "#" + _uniq("z2", 40), 2: mirror},
    )
    pre, post = _uniq("pre", 70), _uniq("post", 60)
    batch = _docs_df(
        spark,
        {1: pre + s1 + post, 3: mirror, 5: _uniq("solo", 200)},
    )
    rows = {
        r.doc_id: r
        for r in substring_ingest_probe(
            batch, substring_pack_index(corpus)
        ).collect()
    }
    assert set(rows) == {1, 3, 5}
    quoted = rows[1]
    assert quoted.n_dup_windows == len(s1) - SSD_K + 1
    assert quoted.dup_chars == len(s1)
    n1 = len(pre) + len(s1) + len(post)
    assert quoted.n_windows == n1 - SSD_K + 1
    assert quoted.dup_bp == 10000 * len(s1) // n1
    assert quoted.verdict == ("reject" if quoted.dup_bp >= 5000 else "admit")
    assert rows[3].dup_bp == 10000 and rows[3].verdict == "reject"
    assert rows[3].dup_chars == len(mirror)
    assert rows[5].n_dup_windows == 0 and rows[5].dup_bp == 0
    assert rows[5].verdict == "admit"


def test_substring_incr_matches_python_recompute(spark):
    """Registry q_substring_incr vs an independent imperative recompute at
    sf0.001 (window membership, islands mass, bp arithmetic, verdict)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    k = SSD_K
    corpus_w = set()
    for r in docs:
        if r.doc_id % 2 == 0:
            for i in range(len(r.text) - k + 1):
                corpus_w.add(r.text[i : i + k])
    want = {}
    for r in docs:
        if r.doc_id % 2 == 1:
            t = r.text
            hits = [
                (i + 1, i + k)
                for i in range(len(t) - k + 1)
                if t[i : i + k] in corpus_w
            ]
            merged = []
            for st, en in hits:
                if merged and st <= merged[-1][1] + 1:
                    merged[-1][1] = max(merged[-1][1], en)
                else:
                    merged.append([st, en])
            dup_chars = sum(en - st + 1 for st, en in merged)
            bp = 10000 * dup_chars // len(t)
            want[r.doc_id] = (
                max(len(t) - k + 1, 0),
                len(hits),
                dup_chars,
                bp,
                "reject" if bp >= 5000 else "admit",
            )
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_chars, r.dup_bp, r.verdict)
        for r in QUERIES["q_substring_incr"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(v[4] == "reject" for v in want.values())  # non-vacuous


def _python_lcp_stats(texts: dict[int, str], k: int):
    """Brute-force suffix array + adjacent LCP: sort every (doc, pos)
    suffix lexicographically (ties by (doc, pos)), LCP of neighbors by
    character comparison, census positions via window membership."""
    sufs = [
        (texts[d][i:], d, i + 1)
        for d in sorted(texts)
        for i in range(len(texts[d]))
    ]
    sufs.sort()
    lcps = []
    for (sa, _, _), (sb, db, pb) in zip(sufs, sufs[1:]):
        n = 0
        for ca, cb in zip(sa, sb):
            if ca != cb:
                break
            n += 1
        lcps.append(n)
    lrs = max(lcps)
    hist = defaultdict(int)
    for v in lcps:
        hist[v.bit_length()] += 1
    # positions whose adjacent LCP >= k with a full window remaining
    pos_max = defaultdict(int)
    for idx, v in enumerate(lcps):
        for j in (idx, idx + 1):
            _, d, p = sufs[j]
            pos_max[(d, p)] = max(pos_max[(d, p)], v)
    dup40 = sum(
        1
        for (d, p), v in pos_max.items()
        if v >= k and p <= len(texts[d]) - k + 1
    )
    return lrs, lcps.count(lrs), dict(hist), dup40


def test_suffix_lcp_matches_bruteforce(spark):
    """suffix_adjacent_lcps vs a brute-force suffix sort + character LCP
    on a planted corpus exercising the hard cases: duplicate documents
    (identical suffixes — the tie-broken total order and the rem-capped
    lifting overshoot), a quoted span, and prefix-suffix pairs."""
    import os
    import tempfile

    from duckdb_ner_spark.operators.substring import suffix_adjacent_lcps

    s1 = _uniq("s1", 80)
    dup = _uniq("dupl", 120)
    texts = {
        0: _uniq("zero", 40) + "#" + s1 + "#",
        1: _uniq("pre", 50) + s1 + _uniq("post", 45),
        2: dup,
        3: dup,
        4: _uniq("solo", 90),
    }
    # suffix_adjacent_lcps loads through the catalog: stage the fixture
    # with the full documents field set (layout guard expects lang/source)
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="lcp_fixture_")
    (
        _docs_df(spark, texts)
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("fixture"))
        .write.mode("overwrite")
        .parquet(os.path.join(d, "documents.parquet"))
    )
    lcps = {
        ((r.a_doc, r.a_pos), (r.b_doc, r.b_pos)): r.lcp
        for r in suffix_adjacent_lcps(spark, d).collect()
    }
    sufs = [
        (texts[dd][i:], dd, i + 1)
        for dd in sorted(texts)
        for i in range(len(texts[dd]))
    ]
    sufs.sort()
    assert len(lcps) == len(sufs) - 1
    for (sa_, da, pa), (sb_, db_, pb) in zip(sufs, sufs[1:]):
        n = 0
        for ca, cb in zip(sa_, sb_):
            if ca != cb:
                break
            n += 1
        assert lcps[((da, pa), (db_, pb))] == n, ((da, pa), (db_, pb), n)


def test_suffix_lcp_registry_and_census_crosscheck(spark):
    """q_suffix_lcp at sf0.001: the output matches the brute-force stats,
    and n_pos_dup40 equals the packed census's independent count of
    positions inside duplicated 40-windows — a third derivation of the
    ExactSubstr census agreeing with the other two."""
    from pyspark.sql import functions as F

    from duckdb_ner_spark.operators.substring import packed_key_cols, packed_windows

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    texts = {r.doc_id: r.text for r in docs}
    lrs, n_at, hist, dup40 = _python_lcp_stats(texts, SSD_K)
    rows = QUERIES["q_suffix_lcp"](spark, SF_SMOKE).collect()
    assert all(r.lrs_len == lrs for r in rows)
    assert all(r.n_pairs_at_lrs == n_at for r in rows)
    assert all(r.n_pos_dup40 == dup40 for r in rows)
    assert {r.lcp_bits: r.n_pairs for r in rows} == hist
    # census side: every position whose packed 40-window content occurs
    # more than once (canonical occurrences INCLUDED)
    from pyspark.sql import Window

    w = Window.partitionBy(*packed_key_cols())
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    census_dup = (
        packed_windows(df)
        .select(F.count("*").over(w).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .count()
    )
    assert census_dup == dup40


def test_stream_substring_incr_matches_batch(spark):
    """Stream == batch for the substring admission gate at sf0.001: the
    streaming scorecard's window counts equal q_substring_incr's (two
    independent probe paths — stream-static broadcast join vs batch left
    semi + left join), and the stream's window-share verdict matches a
    recomputation from the batch counts."""
    stream = {
        r.doc_id: r
        for r in QUERIES["q_stream_substring_incr"](spark, SF_SMOKE).collect()
    }
    batch = {
        r.doc_id: r for r in QUERIES["q_substring_incr"](spark, SF_SMOKE).collect()
    }
    # batch covers every odd doc (zero-window docs included with 0s);
    # the stream emits only docs that produced windows
    assert set(stream) == {d for d, r in batch.items() if r.n_windows > 0}
    for d, s in stream.items():
        b = batch[d]
        assert (s.n_windows, s.n_dup_windows) == (b.n_windows, b.n_dup_windows), d
        want = "reject" if 2 * b.n_dup_windows >= b.n_windows else "admit"
        assert s.verdict == want, d
