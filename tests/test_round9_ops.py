"""Round-9 operator tests: pure-Python recompute of the bucketed MIN/MAX
retraction maintenance, independent of both Spark and the DuckDB oracle.
"""

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.operators.scalepatterns import (
    MINMAX_BUCKETS,
    MINMAX_MOD,
    MINMAX_REM,
)
from duckdb_ner_spark.plans.registry import QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def _fx(value: float) -> int:
    # shipped testdata values are exact cents, so Decimal HALF_UP equals
    # the in-plan ROUND(value*1e6) here (the non-cent divergence case is
    # covered by test_stream_cusum_non_cent_parity)
    return int(
        (Decimal(repr(value)) * 1_000_000).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
    )


def test_incr_minmax_matches_python_recompute(spark):
    """Maintained extrema, clean/dirty census, and the zero proof columns
    recomputed imperatively: clean buckets' pre-delete partials reused,
    dirty buckets recomputed from survivors only."""
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type", "user_id", "value")
        .collect()
    )
    pre = defaultdict(list)  # (type, bucket) -> all fx
    post = defaultdict(list)  # (type, bucket) -> surviving fx
    surv = defaultdict(list)  # type -> surviving fx
    for r in rows:
        b = r.user_id % MINMAX_BUCKETS
        fx = _fx(r.value)
        pre[(r.event_type, b)].append(fx)
        if r.user_id % MINMAX_MOD != MINMAX_REM:
            post[(r.event_type, b)].append(fx)
            surv[r.event_type].append(fx)
    dirty = {
        k
        for k, _v in pre.items()
        if any(
            u.user_id % MINMAX_MOD == MINMAX_REM
            and (u.event_type, u.user_id % MINMAX_BUCKETS) == k
            for u in rows
        )
    }
    want = {}
    for et in {k[0] for k in pre}:
        merged = []
        n_clean = n_dirty = 0
        for (t, b), vals in pre.items():
            if t != et:
                continue
            if (t, b) in dirty:
                n_dirty += 1
                if post[(t, b)]:
                    merged.append((min(post[(t, b)]), max(post[(t, b)])))
            else:
                n_clean += 1
                merged.append((min(vals), max(vals)))
        if not surv[et]:
            continue
        mn = min(m for m, _ in merged)
        mx = max(m for _, m in merged)
        want[et] = (
            n_clean,
            n_dirty,
            mn,
            mx,
            min(surv[et]),
            max(surv[et]),
            mn - min(surv[et]),
            mx - max(surv[et]),
        )
    got = {
        r.event_type: (
            r.n_clean_buckets,
            r.n_dirty_buckets,
            r.min_fx_maint,
            r.max_fx_maint,
            r.min_fx_rebuild,
            r.max_fx_rebuild,
            r.min_diff,
            r.max_diff,
        )
        for r in QUERIES["q_incr_minmax"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # maintenance must equal rebuild (the whole point), and the delete
    # path must have actually SAVED work: clean buckets dominate
    for v in got.values():
        assert v[6] == 0 and v[7] == 0
    assert sum(v[0] for v in got.values()) > sum(v[1] for v in got.values())


def test_semdedup_matches_numpy_recompute(spark):
    """SemDeDup census recomputed with NumPy: same trained cells (the
    test_pq_ops trainer twin), within-cell keep-first collapse at the
    fixed-point cosine threshold."""
    import duckdb
    import numpy as np

    from duckdb_ner_spark.operators.dedup import (
        SEMDEDUP_CELLS,
        SEMDEDUP_CELL_ITERS,
        SEMDEDUP_FX,
        SEMDEDUP_TAU_FX,
    )
    from tests.test_pq_ops import _grid, _train_lloyd

    X = _grid(SF_SMOKE)
    cents = _train_lloyd(X, SEMDEDUP_CELLS, SEMDEDUP_CELL_ITERS)
    dc = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cell = np.argmin(dc, axis=1)
    norms = np.sqrt((X.astype(float) ** 2).sum(axis=1))
    want = {}
    for c in range(SEMDEDUP_CELLS):
        sel = np.where(cell == c)[0]
        if not len(sel):
            continue
        dropped = 0
        V = X[sel].astype(float)
        G = V @ V.T
        for j in range(1, len(sel)):
            cos_fx = np.floor(
                np.abs(G[:j, j] / (norms[sel[:j]] * norms[sel[j]])) * SEMDEDUP_FX
                + 0.5
            ) * np.sign(G[:j, j])
            if (cos_fx >= SEMDEDUP_TAU_FX).any():
                dropped += 1
        want[c] = (len(sel), dropped, 10000 * dropped // len(sel))
    got = {
        r.cell: (r.n_members, r.n_dropped, r.drop_bp)
        for r in QUERIES["q_semdedup"](spark, SF_SMOKE).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == len(X)  # census covers corpus
    assert any(v[1] > 0 for v in got.values())  # the collapse found dups
