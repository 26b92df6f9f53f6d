"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's catalog reads (``region`` ... ``embeddings``)
as one single-row-group parquet file each, with the schemas and value shapes
the declared queries assume: 2-decimal money doubles, day-granular order and
ship dates, a 30-day event stream, a 30-word document corpus with 5% near
duplicates (a copy of an earlier text plus the word ``dup``) and a few exact
copies, and unit-norm 64-d embeddings spread uniformly over the sphere.
The README lists the statistics of the repo's test data that these shapes
were matched to.

Row counts follow the usual scale-factor rule (lineitem = 6M x sf); the two
corpus tables keep a 500-row floor so small scale factors still exercise them.
The same (sf, seed) always yields byte-identical values.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "key agg row scan slow fast table value part hash a the batch window spark "
    "order data column join small line customer query merge big filter sort "
    "stream group vector"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal doubles in [lo, hi] (exact cents, as the queries assume)."""
    cents = rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n)
    return np.round(cents / 100.0, 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _days(rng: np.random.Generator, lo_day: int, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (lo_day + rng.integers(0, n_days, n)) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Uniform on the unit sphere, with labels that carry no direction."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    vec = rng.standard_normal((n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })
    gaps = rng.exponential(30 * _US_PER_DAY / (n_ev + 1), n_ev).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def ensure_tables(out_dir: str, sf: float, seed: int) -> str:
    """Generate the tables into ``out_dir`` unless a complete set is there.
    Writes to a sibling temp dir and renames, so a killed run leaves no
    half-written set behind."""
    if os.path.isfile(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table) or 1)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def write_models(out_dir: str, seed: int) -> dict[str, str]:
    """Seeded NER models for ``ner_batch``, written in the engine's GGML
    container with the repo's own converter helpers:

    - ``tiny``: q_ner_bert's shape (2 layers, 32 wide, 4 heads);
    - ``base``: the reference's default hidden shape (6 layers, 256 wide,
      8 heads, 1536 FFN);
    - ``stub``: the committed JSON stub model (no forward pass).

    Both GGML models use the document vocabulary, 9 labels and 128 tokens.
    They are written on every call (well under a second), so they always
    match the checkout's own model writer."""
    import duckdb_ner_spark
    from duckdb_ner_spark.ner.ggml_format import write_ggml
    from tools.convert_model import random_model

    vocab = ["[CLS]", "[SEP]", *DOC_WORDS]
    shapes = {
        "tiny": dict(n_embd=32, n_head=4, n_layer=2),
        "base": dict(n_embd=256, n_head=8, n_layer=6, n_intermediate=1536),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for k, (name, shape) in enumerate(sorted(shapes.items())):
        path = os.path.join(out_dir, f"{name}.bin")
        hp, tensors = random_model(vocab, n_labels=9, n_max_tokens=128,
                                   seed=(2 * seed + k) % 2**32, **shape)
        write_ggml(path, hp, vocab, tensors)
        paths[name] = path
    paths["stub"] = os.path.join(
        os.path.dirname(duckdb_ner_spark.__file__), "resources", "doc_stub_model.json")
    return paths
