"""Substring-family tests (operators/substring.py): the memorization audit's
duplicate character-shingle mass recomputed from raw text."""

from collections import Counter, defaultdict

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


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
