"""Source round-trip tests (operators/sources_queries.py): the text-lines
source must preserve the full payload, not just row counts."""

from collections import defaultdict

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


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
