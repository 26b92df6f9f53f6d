"""GGML container + NumPy BERT backend tests (A8/A10 parity)."""

import json
import struct
from pathlib import Path

import numpy as np
import pytest

from duckdb_ner_spark.ner.ggml_format import read_ggml, write_ggml
from duckdb_ner_spark.ner.model import load_model, load_model_bytes
from tools.convert_model import STUB_VOCAB


@pytest.fixture(scope="module")
def tiny_model(tmp_path_factory):
    from tools.convert_model import random_model

    path = str(tmp_path_factory.mktemp("m") / "tiny.bin")
    hp, t = random_model(STUB_VOCAB, n_embd=32, n_head=4, n_layer=2, n_labels=9, n_max_tokens=64)
    write_ggml(path, hp, STUB_VOCAB, t)
    return path, hp, t


def test_roundtrip_f32(tiny_model):
    path, hp, t = tiny_model
    mf = read_ggml(Path(path).read_bytes())
    assert mf is not None
    assert mf.hparams["n_embd"] == 32 and mf.hparams["n_labels"] == 9
    assert mf.vocab[0] == "[CLS]"
    for name, arr in t.items():
        np.testing.assert_array_equal(mf.tensors[name], arr.astype(np.float32))


def test_roundtrip_f16_lossy(tiny_model, tmp_path):
    path, hp, t = tiny_model
    p16 = str(tmp_path / "tiny16.bin")
    hp16 = dict(hp, ftype=1)
    write_ggml(p16, hp16, read_ggml(Path(path).read_bytes()).vocab, t)
    mf = read_ggml(Path(p16).read_bytes())
    w = "encoder.layer.0.attention.self.query.weight"
    np.testing.assert_allclose(mf.tensors[w], t[w], atol=1e-3)
    # 1-D tensors stay f32 exactly (converter rule, convert_ner_to_ggml.py:77-82)
    np.testing.assert_array_equal(
        mf.tensors["embeddings.LayerNorm.weight"], t["embeddings.LayerNorm.weight"]
    )


def test_q4_0_dequant_modern():
    from duckdb_ner_spark.ner.ggml_format import _dequant_q4_0_modern

    # one block: f16 scale=2.0, 16 low nibbles then 16 high → (n-8)*2
    scale = np.float16(2.0).tobytes()
    nibbles = bytes((hi << 4) | lo for lo, hi in zip(range(16), range(16)))
    out = _dequant_q4_0_modern(scale + nibbles, 32)
    lows = [(n - 8) * 2.0 for n in range(16)]
    highs = [(n - 8) * 2.0 for n in range(16)]
    np.testing.assert_array_equal(out, np.array(lows + highs, dtype=np.float32))


def test_q4_0_dequant_legacy_interleaved():
    from duckdb_ner_spark.ner.ggml_format import _dequant_q4_0_legacy

    # bert.cpp-era block: f32 scale, pairwise interleave lo→y[2j], hi→y[2j+1]
    scale = np.float32(2.0).tobytes()
    nibbles = bytes((hi << 4) | lo for lo, hi in zip(range(16), range(16)))
    out = _dequant_q4_0_legacy(scale + nibbles, 32)
    expect = []
    for n in range(16):
        expect += [(n - 8) * 2.0, (n - 8) * 2.0]  # lo then hi of same byte
    np.testing.assert_array_equal(out, np.array(expect, dtype=np.float32))


def test_roundtrip_q4_0_both_layouts(tiny_model, tmp_path):
    """ftype=2 writes real q4_0 blocks (both historical layouts); read_ggml
    auto-detects each and dequantizes within one quantization step of the
    original weights (block step = scale; error bound step/2 + f16 scale
    rounding). 1-D tensors stay f32 exactly, as in every ggml converter."""
    path, hp, t = tiny_model
    vocab = read_ggml(Path(path).read_bytes()).vocab
    w = "encoder.layer.0.attention.self.query.weight"
    for legacy in (False, True):
        pq = str(tmp_path / f"tiny_q4_{legacy}.bin")
        write_ggml(pq, dict(hp, ftype=2), vocab, t, q4_legacy=legacy)
        mf = read_ggml(Path(pq).read_bytes())
        assert mf is not None, f"auto-detect failed (legacy={legacy})"
        arr = t[w].astype(np.float32)
        step = np.abs(arr.reshape(-1, 32)).max(axis=1) / 7.0  # coarsest scale
        tol = float(step.max()) * 0.6 + 1e-3
        np.testing.assert_allclose(mf.tensors[w], arr, atol=tol)
        # quantized read is NOT bit-equal to f32 (the lossy branch really ran)
        assert not np.array_equal(mf.tensors[w], arr)
        np.testing.assert_array_equal(
            mf.tensors["embeddings.LayerNorm.weight"], t["embeddings.LayerNorm.weight"]
        )


def test_bad_magic_rejected(tmp_path):
    # the reference's bundled placeholder spells 'ggml' in ASCII — wrong
    # byte order for the LE magic check → must NOT load
    p = str(tmp_path / "placeholder.bin")
    with open(p, "wb") as f:
        f.write(b"ggml\x00\x00\x00\x00")
    assert read_ggml(Path(p).read_bytes()) is None
    assert load_model(p) is None
    # correct magic but truncated → loader returns None, never raises
    p2 = str(tmp_path / "trunc.bin")
    with open(p2, "wb") as f:
        f.write(struct.pack("<I", 0x67676D6C))
    assert load_model(p2) is None


@pytest.mark.parametrize("case", ["missing", "directory", "nul_in_path"])
def test_unreadable_model_path_loads_nothing(case, tmp_path):
    """A path that cannot be read as a file maps to None (open raises
    OSError, or ValueError for an embedded NUL)."""
    path = {
        "missing": str(tmp_path / "absent.bin"),
        "directory": str(tmp_path),
        "nul_in_path": str(tmp_path / "model\x00.bin"),
    }[case]
    assert load_model(path) is None


def test_indivisible_heads_rejected(tmp_path):
    """n_embd % n_head != 0 would silently corrupt the multi-head reshape —
    the loader must map such a model to None (silent-failure contract)."""
    from tools.convert_model import random_model

    hp, t = random_model(STUB_VOCAB, n_embd=32, n_head=4, n_layer=1, n_labels=9, n_max_tokens=64)
    hp["n_head"] = 5  # 32 % 5 != 0
    p = str(tmp_path / "badheads.bin")
    write_ggml(p, hp, STUB_VOCAB, t)
    assert load_model(p) is None


def test_forward_pass_shapes_and_determinism(tiny_model):
    path, _, _ = tiny_model
    m = load_model(path)
    assert m is not None and m.n_max_tokens == 64
    ids = m.vocab.token_to_id
    toks = [ids["[CLS]"], ids["duck"], ids["labs"], ids["[SEP]"]]
    l1 = m.eval_tokens(toks)
    l2 = m.eval_tokens(toks)
    assert l1.shape == (4, 9)
    np.testing.assert_array_equal(l1, l2)
    # token identity matters: different tokens ⇒ different logit rows
    assert not np.allclose(l1[1], l1[2])


def test_position_matters(tiny_model):
    path, _, _ = tiny_model
    m = load_model(path)
    ids = m.vocab.token_to_id
    a = m.eval_tokens([ids["[CLS]"], ids["duck"], ids["labs"], ids["[SEP]"]])
    b = m.eval_tokens([ids["[CLS]"], ids["labs"], ids["duck"], ids["[SEP]"]])
    assert not np.allclose(a[1], b[2])  # position embeddings shift the result


def test_ggml_model_through_spark_udf(tiny_model, engine):
    """End-to-end: the reference's model format driving ner() on Spark."""
    path, _, _ = tiny_model
    engine.set_model_path(path)
    rows = engine.spark.sql(
        "SELECT ner('duck labs in amsterdam') AS e, ner('') AS empty"
    ).collect()
    # random weights ⇒ arbitrary (but valid) entities; the contract is
    # structural: list<struct<entity,label>> with labels from the BIO map
    from duckdb_ner_spark.ner.decode import LABEL_MAP

    for ent in rows[0].e:
        assert ent.label in LABEL_MAP
    assert rows[0].empty is not None
    engine.set_model_path(None)


_LOADABLE = ("f32", "f16", "q4_0_legacy", "q4_0_modern", "stub_json")


@pytest.mark.parametrize(
    "case", _LOADABLE + ("other_json", "bad_magic", "cut_mid_tensor")
)
def test_load_model_bytes_matches_load_model(case, tiny_model, tmp_path):
    """The broadcast path (bytes) and the path loader give the same model —
    or both None — on every format, quantized and malformed input included."""
    path, hp, t = tiny_model
    p = tmp_path / "model.bin"
    if case == "f32":
        p.write_bytes(Path(path).read_bytes())
    elif case == "f16":
        write_ggml(str(p), dict(hp, ftype=1), STUB_VOCAB, t)
    elif case.startswith("q4_0"):
        write_ggml(str(p), dict(hp, ftype=2), STUB_VOCAB, t, q4_legacy=case == "q4_0_legacy")
    elif case == "stub_json":
        p.write_bytes((Path(__file__).parent / "fixtures" / "stub_model.json").read_bytes())
    elif case == "other_json":
        p.write_text(json.dumps({"format": "ner-stub-v0", "vocab": STUB_VOCAB}))
    elif case == "bad_magic":
        p.write_bytes(b"ggml\x00\x00\x00\x00")
    else:  # cut_mid_tensor
        data = Path(path).read_bytes()
        p.write_bytes(data[: len(data) // 2])

    from_bytes, from_path = load_model_bytes(p.read_bytes()), load_model(str(p))
    if case not in _LOADABLE:
        assert from_bytes is None and from_path is None
        return
    assert from_bytes is not None and from_path is not None
    dims = ("n_max_tokens", "n_labels", "n_embd", "n_head", "n_layer")
    assert [getattr(from_bytes, d, None) for d in dims] == [
        getattr(from_path, d, None) for d in dims
    ]
    assert from_bytes.vocab == from_path.vocab
    ids = from_path.vocab.token_to_id
    rows = [
        [ids["[CLS]"], ids["duck"], ids["labs"], ids["[SEP]"]],
        [ids["[CLS]"], ids["sam"], ids["[SEP]"]],
    ]
    for a, b in zip(from_bytes.eval_tokens_batch(rows), from_path.eval_tokens_batch(rows)):
        np.testing.assert_array_equal(a, b)


_BAD_STUBS = {
    "not_an_object": b"[1,2]",
    "not_utf8": b'{"format": "ner-stub-v1", "vocab": ["\xff"]}',
    "too_deep": b"[" * 100_000,
    "no_vocab": b'{"format": "ner-stub-v1"}',
    "vocab_not_list": b'{"format": "ner-stub-v1", "vocab": 5}',
    "vocab_not_strings": b'{"format": "ner-stub-v1", "vocab": [[1, 2, 3]]}',
    "labels_not_object": b'{"format": "ner-stub-v1", "vocab": ["a"], "labels_by_token": [1]}',
    "label_not_number": b'{"format": "ner-stub-v1", "vocab": ["a"], "labels_by_token": {"a": "x"}}',
    "label_a_list": b'{"format": "ner-stub-v1", "vocab": ["a"], "labels_by_token": {"a": [1]}}',
    "n_labels_infinite": b'{"format": "ner-stub-v1", "vocab": ["a"], "n_labels": Infinity}',
    "n_labels_null": b'{"format": "ner-stub-v1", "vocab": ["a"], "n_labels": null}',
    "label_out_of_range": b'{"format": "ner-stub-v1", "vocab": ["a"], "labels_by_token": {"a": 9}}',
    "label_negative": b'{"format": "ner-stub-v1", "vocab": ["a"], "labels_by_token": {"a": -1}}',
    "no_labels": b'{"format": "ner-stub-v1", "vocab": ["a"], "n_labels": 0}',
}


@pytest.mark.parametrize("case", sorted(_BAD_STUBS))
def test_bad_stub_file_loads_nothing(case):
    assert load_model_bytes(_BAD_STUBS[case]) is None


@pytest.mark.parametrize("ftype, legacy", [(0, True), (1, True), (2, True), (2, False)],
                         ids=["f32", "f16", "q4_0_legacy", "q4_0_modern"])
def test_cut_or_bit_flipped_model_never_raises(ftype, legacy, tiny_model, tmp_path):
    """Every prefix (at a stride) and 300 seeded single-bit flips of a valid
    file either load or give None: the loader's narrowed handlers catch all
    that a bad file raises (short reads, misframes, missing tensors)."""
    import random

    _, hp, t = tiny_model
    p = tmp_path / "m.bin"
    write_ggml(str(p), dict(hp, ftype=ftype), STUB_VOCAB, t, q4_legacy=legacy)
    data = p.read_bytes()
    rng = random.Random(ftype * 2 + legacy)
    variants = [data[:i] for i in range(0, len(data), len(data) // 200)]
    for _ in range(300):
        b = bytearray(data)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        variants.append(bytes(b))
    loaded = [load_model_bytes(v) is not None for v in variants]
    assert 0 < sum(loaded) < len(variants)


def test_backend_programming_error_propagates(tiny_model, monkeypatch):
    """Only a bad file maps to None: an error of another class inside a
    backend constructor reaches the caller."""
    from duckdb_ner_spark.ner import bert_numpy
    from duckdb_ner_spark.ner.model import StubMapModel

    path, _, _ = tiny_model

    def broken(*args, **kwargs):
        raise AttributeError("backend bug")

    monkeypatch.setattr(bert_numpy.GgmlBertModel, "__init__", broken)
    with pytest.raises(AttributeError, match="backend bug"):
        load_model(path)
    monkeypatch.setattr(StubMapModel, "from_dict", broken)
    with pytest.raises(AttributeError, match="backend bug"):
        load_model(str(Path(__file__).parent / "fixtures" / "stub_model.json"))


def test_bad_model_file_gives_empty_lists_in_sql(engine, tmp_path):
    p = tmp_path / "list.json"
    p.write_bytes(_BAD_STUBS["not_an_object"])
    engine.set_model_path(str(p))
    try:
        row = engine.spark.sql("SELECT ner('sam is in new york') AS e").collect()[0]
    finally:
        engine.set_model_path(None)
    assert row.e == []


def test_q4_scale_overflow_raises_not_warns():
    """f32->f16 scale overflow must raise explicitly (VERDICT r11 #7) —
    previously it emitted a numpy RuntimeWarning and stored inf, which the
    dequant misframe guard rejected far from the cause."""
    import warnings

    import numpy as np
    import pytest

    from duckdb_ner_spark.ner import ggml_format as g

    big = (np.random.RandomState(0).randn(2, 64) * 1e38).astype(np.float32)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        with pytest.raises(ValueError, match="f16 range"):
            g._quant_q4_0_modern(big)
    assert not [w for w in rec if issubclass(w.category, RuntimeWarning)]
