"""Round-8 operator tests: the fused streaming ingest pipeline."""

from pyspark.sql import functions as F

from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


def test_sliced_documents_stream_runs_real_microbatches(spark):
    """stream_documents_sliced must stage N_DOC_SLICES doc_id-ordered
    slices with ascending mtimes and actually deliver them as SEPARATE
    micro-batches — the property that makes q_stream_pipeline's aggregate
    state genuinely cross-batch."""
    import glob
    import os

    from duckdb_ner_spark.streaming.ner_stream import (
        N_DOC_SLICES,
        stream_documents_sliced,
    )

    stream = stream_documents_sliced(spark, SF_SMOKE)
    import hashlib
    import tempfile

    tag = hashlib.md5(SF_SMOKE.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"docs_stream_sliced_{tag}")
    parts = sorted(glob.glob(os.path.join(stage, "*.parquet")))
    assert len(parts) == N_DOC_SLICES
    mtimes = [os.stat(p).st_mtime for p in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)

    seen = []

    def per_batch(df, epoch_id):
        seen.append((epoch_id, df.count()))

    q = (
        stream.writeStream.foreachBatch(per_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    assert len(seen) == N_DOC_SLICES, f"expected {N_DOC_SLICES} batches: {seen}"
    total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sum(n for _, n in seen) == total


def test_stream_pipeline_matches_batch_recompute(spark):
    """The fused stream (dedup probe -> gate -> scorecard across 4
    micro-batches) must equal an independent BATCH recompute of the same
    pipeline inside Spark — the in-engine half of the parity contract
    (the DuckDB oracle pins the cross-engine half)."""
    from duckdb_ner_spark.operators.dedup import N_BANDS, minhash_bands
    from duckdb_ner_spark.operators.textprep import shingles_expr, words_col
    from duckdb_ner_spark.operators.textstats import (
        GATE_DISTINCT_DEN,
        GATE_DISTINCT_NUM,
        GATE_MIN_WORDS,
    )

    got = {
        (r.lang, r.stage): (r.n_docs, r.total_chars, r.id_checksum)
        for r in QUERIES["q_stream_pipeline"](spark, SF_SMOKE).collect()
    }

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    idx = minhash_bands(corpus).select("band", "sig").distinct()
    new_bands = minhash_bands(docs.filter(F.col("doc_id") % 2 == 1))
    dup_ids = {
        r.doc_id
        for r in new_bands.join(idx, ["band", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    feat = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "n_chars", words_col("text").alias("ws"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.size("ws").alias("n_words"),
            F.size(F.array_distinct("ws")).alias("n_distinct"),
        )
        .collect()
    )
    expect: dict[tuple, list] = {}
    for r in feat:
        if r.doc_id in dup_ids:
            stage = "dup"
        elif r.n_words < GATE_MIN_WORDS:
            stage = "too_short"
        elif r.n_distinct * GATE_DISTINCT_DEN < GATE_DISTINCT_NUM * r.n_words:
            stage = "repetitive"
        else:
            stage = "keep"
        acc = expect.setdefault((r.lang, stage), [0, 0, 0])
        acc[0] += 1
        acc[1] += r.n_chars
        acc[2] += r.doc_id
    assert got == {k: tuple(v) for k, v in expect.items()}
    # non-vacuity: the pipeline must actually exercise every stage class
    stages = {s for _, s in got}
    assert "keep" in stages and ("dup" in stages or "too_short" in stages)
    assert N_BANDS == 4  # the probe shape the docstring documents


def test_lift_curve_matches_python_recompute(spark):
    """q_lift_curve vs a driver-side recompute of buckets, rates, and the
    integer cross-multiplied lift."""
    from duckdb_ner_spark.operators.stats import LIFT_MAX_BUCKET, LIFT_SCALE

    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .collect()
    )
    import datetime

    day2 = datetime.datetime(2024, 1, 2)
    users: dict[int, list] = {}
    for r in ev:
        u = users.setdefault(r.user_id, [0, 0])
        if r.ts < day2:
            u[0] += 1
        if r.event_type == "purchase" and r.ts >= day2:
            u[1] = 1
    buckets: dict[int, list] = {}
    tot_n, tot_pos = len(users), sum(v[1] for v in users.values())
    for cnt, conv in users.values():
        b = buckets.setdefault(min(cnt, LIFT_MAX_BUCKET), [0, 0])
        b[0] += 1
        b[1] += conv
    expect = {
        bk: (
            n,
            pos,
            (LIFT_SCALE * pos) // n,
            (LIFT_SCALE * pos * tot_n) // (n * tot_pos),
        )
        for bk, (n, pos) in buckets.items()
    }
    got = {
        r.bucket: (r.n_users, r.n_converted, r.rate_bp, r.lift_bp)
        for r in QUERIES["q_lift_curve"](spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert tot_pos > 0 and len(got) >= 3


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


def test_stream_index_growth_matches_sequential_recompute(spark):
    """q_stream_index_growth vs an exact driver-side sequential replay:
    same bands (Spark-computed, md5-identical), same slice rule, same
    probe-then-append rounds — pins the foreachBatch state threading
    (a batch must probe the index AS APPENDED by every earlier batch)."""
    from duckdb_ner_spark.operators.dedup import minhash_bands

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    per = (n + 3) // 4
    band_rows = minhash_bands(docs).collect()
    bands: dict[int, set] = {}
    for r in band_rows:
        bands.setdefault(r.doc_id, set()).add((r.band, r.sig))
    idx = set()
    for d, bs in bands.items():
        if d % 2 == 0:
            idx |= bs
    expect = []
    within_stream_rejects = 0
    for i in range(4):
        slice_ids = [
            d for d in range(i * per, min((i + 1) * per, n)) if d % 2 == 1
        ]
        banded = [d for d in slice_ids if d in bands]
        static_adm = {d for d in banded if not (bands[d] & idx)} if i == 0 else None
        hits = {d for d in banded if bands[d] & idx}
        adm = sorted(set(banded) - hits)
        if i > 0:
            # how many rejections are due to EARLIER STREAM admissions
            # (not the static corpus index) — the behavior this query adds
            base_idx = set()
            for d, bs in bands.items():
                if d % 2 == 0:
                    base_idx |= bs
            within_stream_rejects += sum(
                1 for d in hits if not (bands[d] & base_idx)
            )
        for d in adm:
            idx |= bands[d]
        expect.append(
            (i, len(slice_ids), len(banded), len(adm), sum(adm), len(idx))
        )
    got = [
        (r.batch_id, r.n_docs, r.n_banded, r.n_admitted, r.admitted_id_sum, r.index_size)
        for r in QUERIES["q_stream_index_growth"](spark, SF_SMOKE).collect()
    ]
    assert got == expect
    assert sum(e[2] - e[3] for e in expect) > 0, "no rejection ever fired"
    # the index must actually grow across batches (state really threads)
    sizes = [e[5] for e in expect]
    assert sizes == sorted(sizes) and sizes[-1] > sizes[0]


def test_bootstrap_ci_matches_python_recompute(spark):
    """q_bootstrap_ci vs a pure-Python Poisson-bootstrap replay: identical
    md5-threshold weights, fixed-point replicate means, and
    nearest-rank-discrete percentiles."""
    import hashlib

    from duckdb_ner_spark.operators.stats import BOOT_B, BOOT_FX, BOOT_THRESHOLDS

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    by_lang: dict[str, list] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append((r.doc_id, r.n_chars))
    expect = {}
    for lang, rows in by_lang.items():
        means = []
        for rep in range(BOOT_B):
            swx = sw = 0
            for doc_id, n_chars in rows:
                u = int(
                    hashlib.md5(f"boot|{rep}|{doc_id}".encode()).hexdigest()[:13],
                    16,
                )
                w = sum(1 for t in BOOT_THRESHOLDS if u >= t)
                swx += w * n_chars
                sw += w
            if sw > 0:
                means.append((BOOT_FX * swx) // sw)
        means.sort()

        def pdisc(q):
            import math

            return means[max(0, math.ceil(q * len(means)) - 1)]

        total = sum(c for _, c in rows)
        expect[lang] = (
            len(rows),
            (BOOT_FX * total) // len(rows),
            len(means),
            pdisc(0.05),
            pdisc(0.5),
            pdisc(0.95),
        )
    got = {
        r.lang: (
            r.n_docs,
            r.point_mean_fx,
            r.n_reps,
            r.boot_p05_fx,
            r.boot_p50_fx,
            r.boot_p95_fx,
        )
        for r in QUERIES["q_bootstrap_ci"](spark, SF_SMOKE).collect()
    }
    assert got == expect
    for lang, (_, point, n_reps, p05, p50, p95) in expect.items():
        assert n_reps == BOOT_B
        assert p05 <= p50 <= p95


def test_dsar_report_matches_python_recompute(spark):
    """q_dsar_report vs a driver-side recompute of the 0/1/2-hop subject
    row inventory and cents checksums."""
    from duckdb_ner_spark.operators.scalepatterns import DSAR_MOD, DSAR_REM

    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").collect()
    subs = {r.c_custkey for r in cust if r.c_custkey % DSAR_MOD == DSAR_REM}

    def cents(x):
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            (Decimal(repr(float(x))) * 100).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    crows = [r for r in cust if r.c_custkey in subs]
    orows = [r for r in orders if r.o_custkey in subs]
    okeys = {r.o_orderkey for r in orows}
    lrows = [r for r in li if r.l_orderkey in okeys]
    expect = {
        "customer": (
            len(crows),
            sum(r.c_custkey for r in crows),
            sum(cents(r.c_acctbal) for r in crows),
        ),
        "orders": (
            len(orows),
            sum(r.o_orderkey for r in orows),
            sum(cents(r.o_totalprice) for r in orows),
        ),
        "lineitem": (
            len(lrows),
            sum(r.l_orderkey * 10 + r.l_linenumber for r in lrows),
            sum(cents(r.l_extendedprice) for r in lrows),
        ),
    }
    got = {
        r.table_name: (r.n_rows, r.key_checksum, r.cents_checksum)
        for r in QUERIES["q_dsar_report"](spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert got["lineitem"][0] > 0, "2-hop rows must exist for the subjects"


def test_incr_agg_delete_retraction_equals_direct(spark):
    """The retraction-maintained state must equal a direct aggregate over
    survivors computed INDEPENDENTLY in Spark (the oracle pins the
    cross-engine half), and the retracted accounting must reconcile:
    maintained + retracted == full state per type."""
    from duckdb_ner_spark.operators.scalepatterns import (
        RETRACT_FX,
        RETRACT_MOD,
        RETRACT_REM,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "user_id", "event_type", "value"
    )
    fx = F.expr(f"CAST(ROUND(value * {RETRACT_FX}) AS BIGINT)")
    direct = {
        r.event_type: (r.n, r.s)
        for r in ev.filter(F.col("user_id") % RETRACT_MOD != RETRACT_REM)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(fx).alias("s"))
        .collect()
    }
    full = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(fx).alias("s"))
        .collect()
    }
    got = {
        r.event_type: (r.n_events, r.total_fx, r.n_retracted, r.retracted_fx)
        for r in QUERIES["q_incr_agg_delete"](spark, SF_SMOKE).collect()
    }
    assert {k: v[:2] for k, v in got.items()} == direct
    for k, (n, s, nr, sr) in got.items():
        assert (n + nr, s + sr) == full[k]
    assert sum(v[2] for v in got.values()) > 0, "no retraction ever fired"


def test_kcore_matches_python_recompute(spark):
    """q_kcore vs a pure-Python peel over the same day-1 edge list."""
    from duckdb_ner_spark.operators.components import day1_cooccurrence_graph
    from duckdb_ner_spark.operators.components import KCORE_K, KCORE_ROUNDS

    edges, _ = day1_cooccurrence_graph(spark, SF_SMOKE)
    es = [(r.u, r.v) for r in edges.collect()]
    alive = {n for e in es for n in e}
    expect = []
    for i in range(1, KCORE_ROUNDS + 1):
        ei = [(u, v) for u, v in es if u in alive and v in alive]
        deg: dict[int, int] = {}
        for u, v in ei:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        alive = {n for n, d in deg.items() if d >= KCORE_K}
        expect.append((i, len(alive), len(ei), sum(alive)))
    got = [
        (r.round, r.n_alive, r.n_edges_in, r.alive_id_sum)
        for r in QUERIES["q_kcore"](spark, SF_SMOKE)
        .orderBy("round")
        .collect()
    ]
    assert got == expect
    # peeling must actually remove something on this graph
    assert expect[-1][1] < len({n for e in es for n in e})
