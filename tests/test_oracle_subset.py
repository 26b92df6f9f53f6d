"""In-pytest DuckDB differential check over a representative query subset at
sf0.001 (the full corpus runs via tools/selfcheck.py / the driver's t2 gate;
this keeps a fast canary inside the test suite)."""

import pytest

from tests.conftest import SF_SMOKE

SUBSET = [
    "q_agg_group",
    "q_join_multi",
    "q_join_outer",
    "q_asof",
    "q_window_frame",
    "q_rollup",
    "q_subquery",
    "q_array",
    "q_json",
    "q_dedup_near",
    "q_sim_topk",
    "q_sessionize",
    "q_fingerprint",
    "q_multimodal",
    "q_fuzzy",
    "q_array_setops",
    "q_supplier_rev",
    "q_part_margin",
    "q_domain_cap",
    "q_line_dedup",
]


@pytest.mark.parametrize("name", SUBSET)
def test_matches_duckdb_oracle(spark, oracle_con, name):
    import __spark_entry__ as e
    from tools.selfcheck import normalize

    sdf = e.queries()[name](spark, SF_SMOKE).toPandas()
    odf = oracle_con.execute(e.oracle_sql()[name]).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert normalize(sdf) == normalize(odf)


def test_fixedpoint_sum_equals_decimal_sum(spark):
    """The fixed-point long fast path (operators/relational.fxsum) must be
    bit-identical to the decimal-sum slow path on arbitrary 2-decimal money
    data — negatives, NULLs, and exact .xx5 rounding midpoints included
    (products of 2-decimal values land exactly on midpoints, where double
    rounding would disagree)."""
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_ner_spark.operators.relational import _dec, _dec_rate, _r2d, fx100, fxsum

    rng = np.random.default_rng(7)
    price = np.round(rng.uniform(-1000, 90000, 5000), 2)
    disc = np.round(rng.uniform(0, 0.1, 5000), 2)
    rows = [
        (int(i) % 7, float(p), float(d))
        for i, (p, d) in enumerate(zip(price, disc))
    ]
    rows += [(k, None, None) for k in range(7)]  # NULL money values
    df = spark.createDataFrame(rows, "g int, price double, disc double")

    fx_rev = fx100("price") * (F.lit(100) - fx100("disc"))
    fast = df.groupBy("g").agg(
        fxsum(fx100("price"), 2).alias("s_price"),
        fxsum(fx_rev, 4).alias("s_rev"),
    )
    dec_rev = _dec("price") * (F.lit(1).cast("decimal(4,2)") - _dec_rate("disc"))
    slow = df.groupBy("g").agg(
        _r2d(F.sum(_dec("price"))).alias("s_price"),
        _r2d(F.sum(dec_rev)).alias("s_rev"),
    )
    f = {r["g"]: (r["s_price"], r["s_rev"]) for r in fast.collect()}
    s = {r["g"]: (r["s_price"], r["s_rev"]) for r in slow.collect()}
    assert f == s  # exact double equality, every group
