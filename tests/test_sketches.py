"""Sketch tests (operators/sketches.py): Count-Min and HyperLogLog rebuilt
cell by cell in pure Python from the same 60-bit md5 prefixes."""

from collections import Counter

import duckdb_ner_spark.operators  # noqa: F401 — populate the registry
from duckdb_ner_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE


def _h60(arg: str) -> int:
    # 60-bit md5 prefix: Spark conv(substr(md5(x),1,15),16,10) ==
    # DuckDB CAST('0x'||substr(md5(x),1,15) AS BIGINT).
    from hashlib import md5

    return int(md5(arg.encode()).hexdigest()[:15], 16)


def _trigrams(text: str):
    ws = text.split(" ")
    return [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]


def test_count_min_matches_python_recompute(spark):
    """CMS recomputed imperatively: build the d x w table by summation,
    point-estimate by min-over-rows, and check the query's top-K rows and
    the never-underestimates invariant."""
    from duckdb_ner_spark.operators.sketches import CMS_D, CMS_TOP, CMS_W

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("text").collect()
    wf = Counter()
    for r in docs:
        wf.update(_trigrams(r.text))
    sketch = [Counter() for _ in range(CMS_D)]
    bucket = {}
    for s, c in wf.items():
        for j in range(CMS_D):
            b = _h60(f"cms{j}|{s}") % CMS_W
            bucket[(s, j)] = b
            sketch[j][b] += c
    est = {s: min(sketch[j][bucket[(s, j)]] for j in range(CMS_D)) for s in wf}
    want = sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOP]
    got = QUERIES["q_count_min"](spark, SF_SMOKE).collect()
    assert [(r.shingle, r.true_count) for r in got] == want
    for r in got:
        assert r.cms_est == est[r.shingle]
        assert r.overcount == r.cms_est - r.true_count >= 0


def test_hll_registers_matches_python_recompute(spark):
    """HLL registers recomputed imperatively: split the 60-bit hash into
    (register, rest), rho = leading-zeros + 1 via bit_length, registers
    merge by max, and the fixed-point alpha-corrected estimate must match
    the query's single audit row exactly."""
    from duckdb_ner_spark.operators.sketches import (
        HLL_ALPHA_DEN,
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_REST_BITS,
        HLL_RHO_CAP,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("text").collect()
    distinct = set()
    for r in docs:
        distinct.update(_trigrams(r.text))
    reg = {}
    for s in distinct:
        hv = _h60(f"hll|{s}")
        j = hv >> HLL_REST_BITS
        rest = hv & ((1 << HLL_REST_BITS) - 1)
        rho = HLL_REST_BITS + 1 - (rest.bit_length() if rest else 0)
        reg[j] = max(reg.get(j, 0), rho)
    s_fx = sum(
        (1 << (HLL_RHO_CAP - rho)) if rho <= HLL_RHO_CAP else 0
        for rho in reg.values()
    ) + (HLL_M - len(reg)) * (1 << HLL_RHO_CAP)
    raw_est = (HLL_ALPHA_NUM * HLL_M * HLL_M * (1 << HLL_RHO_CAP)) // (
        HLL_ALPHA_DEN * max(s_fx, 1)
    )
    [row] = QUERIES["q_hll_registers"](spark, SF_SMOKE).collect()
    assert row.m == HLL_M
    assert row.n_registers_hit == len(reg)
    assert row.sum_rho == sum(reg.values())
    assert row.reg_checksum == sum((j + 1) * rho for j, rho in reg.items())
    assert row.raw_est == raw_est
    assert row.true_distinct == len(distinct)
    # the estimate should be within HLL theory's ballpark at m=64 (~13% rse)
    assert abs(row.raw_est - row.true_distinct) < 0.5 * row.true_distinct
