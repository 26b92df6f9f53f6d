"""Round-5 operator tests: retrieval family (phrase/RRF/CDC-chunking) and
the leakage/containment/cluster-size/winsorize additions. Golden values are
pure-Python recomputations at sf0.001 (the house model)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def doc_rows(spark):
    return [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]


def test_phrase_search_matches_python_recompute(spark, doc_rows):
    from duckdb_ner_spark.operators.retrieval import PHRASE, PHRASE_TOP, q_phrase_search

    expect = {}
    for doc_id, text in doc_rows:
        ws = text.split(" ")
        hits = [
            i + 1
            for i in range(len(ws) - 1)
            if ws[i] == PHRASE[0] and ws[i + 1] == PHRASE[1]
        ]
        if hits:
            expect[doc_id] = (len(hits), hits[0])
    top = sorted(expect.items(), key=lambda kv: (-kv[1][0], kv[0]))[:PHRASE_TOP]
    expect_rows = [(d, n, p) for d, (n, p) in top]
    got = [
        (r.doc_id, r.n_matches, r.first_pos)
        for r in q_phrase_search(spark, SF_SMOKE).collect()
    ]
    assert got == expect_rows
    assert expect_rows, "corpus should contain the planted phrase"


def _cdc_segments(words: list[str]) -> list[list[str]]:
    """Reference content-defined chunker: boundary AFTER words whose md5
    starts with '0'."""
    segs, cur = [], []
    for w in words:
        cur.append(w)
        if hashlib.md5(w.encode()).hexdigest()[0] == "0":
            segs.append(cur)
            cur = []
    if cur:
        segs.append(cur)
    return segs


def test_cdc_chunk_matches_python_recompute(spark, doc_rows):
    from duckdb_ner_spark.operators.retrieval import q_cdc_chunk

    got = {
        r.doc_id: (r.n_chunks, r.n_words, r.max_chunk)
        for r in q_cdc_chunk(spark, SF_SMOKE).collect()
    }
    for doc_id, text in doc_rows[:50]:
        segs = _cdc_segments(text.split(" "))
        assert got[doc_id] == (
            len(segs),
            sum(len(s) for s in segs),
            max(len(s) for s in segs),
        )


def test_cdc_boundaries_stable_under_prefix_edit():
    """The property fixed-window chunking lacks: prepending content only
    changes chunks up to the first boundary — every later segment is
    byte-identical."""
    words = [f"w{i}" for i in range(200)]
    base = _cdc_segments(words)
    edited = _cdc_segments(["inserted", "paragraph", "here"] + words)
    # all base segments after the first boundary reappear verbatim
    base_tail = base[1:]
    edited_tails = [tuple(s) for s in edited]
    for seg in base_tail:
        assert tuple(seg) in edited_tails


def test_rrf_fusion_scores_and_ordering(spark):
    from duckdb_ner_spark.operators.retrieval import RRF_K, RRF_TOP, q_rrf_fusion

    rows = q_rrf_fusion(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= RRF_TOP
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        expect = (1.0 / (RRF_K + r.rb) if r.rb else 0.0) + (
            1.0 / (RRF_K + r.rc) if r.rc else 0.0
        )
        assert r.rrf == expect
    # fusion must actually mix: at least one doc carries both ranks
    assert any(r.rb is not None and r.rc is not None for r in rows)


def test_leakage_flags_planted_duplicate(spark):
    """A val doc that duplicates a train doc's text must band-collide with
    the train index (the leakage signal)."""
    from duckdb_ner_spark.operators.dedup import minhash_bands

    text = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different words about spark shuffles and parquet files here"
    df = spark.createDataFrame(
        [(1, text), (2, other), (100, text)], ["doc_id", "text"]
    )
    train = df.filter(F.col("doc_id") < 100)
    val = df.filter(F.col("doc_id") >= 100)
    idx = minhash_bands(train).select("band", "sig").distinct()
    leaky = (
        minhash_bands(val).join(idx, ["band", "sig"], "left_semi")
        .select("doc_id").distinct().collect()
    )
    assert [r.doc_id for r in leaky] == [100]


def test_containment_detects_planted_quote(spark):
    """A short doc fully contained in a long doc: containment ≈ 1 on the
    small side even though Jaccard is far below the near-dup threshold."""
    from duckdb_ner_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_cols,
    )
    from duckdb_ner_spark.operators.textprep import shingles_expr, words_col

    # Pinned configuration (verified against a pure-Python replay of the md5
    # min-hash banding): this 20-word quote + 30 fillers collides in exactly
    # one LSH band while Jaccard = 18/48 = 0.375 — under the 0.6 dedup
    # threshold, so symmetric near-dedup would never verify the pair.
    quote = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    long_doc = quote + " " + " ".join(f"filler{i}" for i in range(30))
    df = spark.createDataFrame([(1, long_doc), (2, quote)], ["doc_id", "text"])
    docs = (
        df.select("doc_id", words_col("text").alias("ws"))
        .select("doc_id", shingles_expr().alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    sigsh = docs.select("doc_id", "shingles", *minhash_cols())
    pairs = lsh_candidate_pairs(sigsh, "doc_id")
    x = sigsh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    y = sigsh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (
        pairs.join(x, "doc_a").join(y, "doc_b")
        .select(
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size(F.array_distinct("sh_a")).alias("na"),
            F.size(F.array_distinct("sh_b")).alias("nb"),
        )
        .collect()
    )
    assert len(out) == 1  # the quote shares its min-hashes with its source
    r = out[0]
    small = min(r.na, r.nb)
    assert r.inter == small  # full containment of the quote
    assert r.inter / max(r.na, r.nb) < 0.6  # Jaccard would have missed it


def test_cluster_sizes_consistent_with_components(spark):
    from collections import Counter

    from duckdb_ner_spark.operators.components import q_cluster_sizes, q_dedup_clusters

    comps = [r.comp for r in q_dedup_clusters(spark, SF_SMOKE).collect()]
    by_comp = Counter(comps)
    hist = Counter(by_comp.values())
    got = {
        r.cluster_size: (r.n_clusters, r.n_removable)
        for r in q_cluster_sizes(spark, SF_SMOKE).collect()
    }
    assert got == {
        sz: (n, n * (sz - 1)) for sz, n in hist.items()
    }


def test_winsorize_matches_python_recompute(spark):
    from duckdb_ner_spark.operators.sampling import q_winsorize

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("lang", "n_chars")
        .collect()
    )
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.n_chars)
    got = {r.lang: r for r in q_winsorize(spark, SF_SMOKE).collect()}
    for lang, xs in by_lang.items():
        xs_sorted = sorted(xs)
        n = len(xs_sorted)
        # PERCENTILE_DISC: smallest element whose cume_dist >= p
        import math

        lo = xs_sorted[math.ceil(0.05 * n) - 1]
        hi = xs_sorted[math.ceil(0.95 * n) - 1]
        win = [min(max(x, lo), hi) for x in xs]
        r = got[lang]
        assert (r.lo, r.hi, r.n_docs) == (lo, hi, n)
        assert r.sum_win == sum(win)
        assert r.mean_win == sum(win) / n


def test_tokenizer_fertility_matches_driver_tokenize(spark, doc_rows):
    """Distributed Arrow-batched fertility must equal a driver-side run of
    the SAME reference tokenizer (A7) — pins the UDF plumbing (batching,
    vocab singleton, NULL handling), since no SQL oracle can replay
    byte-level WordPiece."""
    from duckdb_ner_spark.ner.tokenizer import tokenize
    from duckdb_ner_spark.ner.vocab import Vocab
    from duckdb_ner_spark.operators.ner_queries import (
        FERTILITY_MAX_TOKENS,
        FERTILITY_VOCAB,
        q_tokenizer_fertility,
    )

    langs = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    vocab = Vocab.from_tokens(list(FERTILITY_VOCAB))
    agg: dict[str, list[int]] = {}
    for doc_id, text in doc_rows:
        lang = langs[doc_id]
        n_words = len(text.split(" "))
        n_pieces = len(tokenize(vocab, text, FERTILITY_MAX_TOKENS)) - 2
        a = agg.setdefault(lang, [0, 0, 0])
        a[0] += 1
        a[1] += n_words
        a[2] += n_pieces
    got = {r.lang: r for r in q_tokenizer_fertility(spark, SF_SMOKE).collect()}
    assert set(got) == set(agg)
    for lang, (n_docs, n_words, n_pieces) in agg.items():
        r = got[lang]
        assert (r.n_docs, r.n_words, r.n_pieces) == (n_docs, n_words, n_pieces)
        assert r.fertility == n_pieces / n_words
