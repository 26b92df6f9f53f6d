"""Dedup-family tests (operators/dedup.py): SemDeDup's census recomputed
with NumPy and the prefix-filtered set-similarity join against all pairs,
independent of both Spark and the DuckDB oracle."""

import duckdb

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


def test_semdedup_matches_numpy_recompute(spark):
    """SemDeDup census recomputed with NumPy: same trained cells (the
    test_pq_ops trainer twin), within-cell keep-first collapse at the
    fixed-point cosine threshold."""
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


def _shingles(text: str, n: int = 3) -> set:
    ws = text.split(" ")
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def test_setsim_prefix_has_no_false_negatives(spark):
    """The PPJoin lemma in practice: the prefix-filtered join must return
    EXACTLY the all-pairs τ-Jaccard result — a lossy prefix (wrong ⌈τn⌉
    arithmetic, wrong global order, wrong length filter) shows up as a
    missing pair here."""
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    sets = {d: _shingles(t) for d, t in docs if len(_shingles(t)) > 0}
    ids = sorted(sets)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if union and 10 * inter >= 7 * union:
                expected[(a, b)] = (inter, union, (10000 * inter) // union)
    got = {
        (r.doc_a, r.doc_b): (r.inter_sz, r.union_sz, r.jaccard_bp)
        for r in QUERIES["q_setsim_prefix"](spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert expected, "smoke corpus must contain at least one τ-similar pair"


def test_record_linkage_matches_python_recompute(spark):
    """q_record_linkage vs a pure-Python blocked linkage (classic DP edit
    distance) over the same capped blocks."""
    from duckdb_ner_spark.operators.dedup import RL_BLOCK_CAP, RL_CLOSE_DIST

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    parts = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .select("p_partkey", "p_name")
        .collect()
    )
    blocks: dict[str, list] = {}
    for r in parts:
        blocks.setdefault(r.p_name.split(" ")[0], []).append(
            (r.p_partkey, r.p_name)
        )
    expect = {}
    for bk, recs in blocks.items():
        kept = sorted(recs)[:RL_BLOCK_CAP]
        ds = [
            lev(na, nb)
            for i, (ka, na) in enumerate(kept)
            for kb, nb in kept[i + 1 :]
        ]
        expect[bk] = (
            len(kept),
            len(ds),
            sum(1 for d in ds if d <= RL_CLOSE_DIST),
            min(ds) if ds else None,
        )
    got = {
        r.block_key: (r.n_records, r.n_pairs, r.n_close, r.min_dist)
        for r in QUERIES["q_record_linkage"](spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert any(v[1] > 0 for v in got.values()), "need multi-record blocks"
