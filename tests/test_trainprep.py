"""Training-data preparation tests (operators/trainprep.py): pure-Python
recomputes of rejection sampling and curriculum staging, independent of
both Spark and the DuckDB oracle."""

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


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


def test_bpe_apply_consistent_with_bpe_merges(spark):
    """Internal cross-check: the corpus-wide BPE token total after the
    final learned merge must equal q_bpe_merges' own n_tokens_after for
    that merge rank (same corpus, same segmentation), and the character
    baseline must equal sum(freq * len(word)) over the vocabulary."""
    from duckdb_ner_spark.operators.trainprep import BPE_MERGES

    apply_rows = QUERIES["q_bpe_apply"](spark, SF_SMOKE).collect()
    merges = {
        r.merge_rank: r.n_tokens_after
        for r in QUERIES["q_bpe_merges"](spark, SF_SMOKE).collect()
    }
    assert sum(r.bpe_tokens for r in apply_rows) == merges[BPE_MERGES]
    wf = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .collect()
    )
    assert sum(r.char_tokens for r in apply_rows) == sum(
        r.freq * len(r.w) for r in wf
    )
    for r in apply_rows:
        assert r.compression_bp == (10000 * r.bpe_tokens) // r.char_tokens
        assert r.bpe_tokens <= r.char_tokens
