"""Cross-row batched inference + broadcast model distribution tests."""

import os

import numpy as np
import pytest


@pytest.fixture(scope="module")
def ggml_path(tmp_path_factory):
    from duckdb_ner_spark.ner.ggml_format import write_ggml
    from tools.convert_model import STUB_VOCAB, random_model

    path = str(tmp_path_factory.mktemp("bm") / "tiny.bin")
    hp, t = random_model(STUB_VOCAB, n_embd=32, n_head=4, n_layer=2, n_labels=9, n_max_tokens=64)
    write_ggml(path, hp, STUB_VOCAB, t)
    return path


def _document_texts(n: int = 200, seed: int = 3) -> list[str]:
    """Seeded texts over the documents corpus words (incl. ``dup``, which
    the model vocabulary lacks): the empty text, 1-139 words (past
    q_ner_bert's 128-token cap), then 20 exact duplicates of earlier rows."""
    from duckdb_ner_spark.operators.ner_queries import BERT_DOC_VOCAB

    rng = np.random.RandomState(seed)
    words = np.array(BERT_DOC_VOCAB[2:] + ["dup"])
    texts = [""] + [
        " ".join(rng.choice(words, size=rng.randint(1, 140))) for _ in range(n - 21)
    ]
    return texts + [texts[i] for i in rng.randint(0, len(texts), size=20)]


def test_batched_eval_bit_identical_to_per_row(ggml_path, tmp_path):
    """q_ner_bert's rows-only pin: eval_tokens_batch equals eval_tokens
    bitwise, on hand-made rows and on document-length rows through two model
    shapes (so the GELU runs at two FFN widths)."""
    from duckdb_ner_spark.ner.ggml_format import write_ggml
    from duckdb_ner_spark.ner.model import load_model
    from duckdb_ner_spark.ner.tokenizer import tokenize
    from duckdb_ner_spark.operators.ner_queries import BERT_DOC_VOCAB
    from tools.convert_model import random_model

    m = load_model(ggml_path)
    ids = m.vocab.token_to_id
    rows = [
        [ids["[CLS]"], ids["duck"], ids["labs"], ids["[SEP]"]],
        [ids["[CLS]"], ids["new"], ids["york"], ids["[SEP]"]],        # same length
        [ids["[CLS]"], ids["sam"], ids["[SEP]"]],                      # different length
        [ids["[CLS]"], ids["duck"], ids["labs"], ids["[SEP]"]],       # duplicate
    ]
    batched = m.eval_tokens_batch(rows)
    for toks, lg in zip(rows, batched):
        np.testing.assert_array_equal(lg, m.eval_tokens(toks))

    texts = _document_texts()
    # q_ner_bert's own shape, then a wider FFN
    for shape in (dict(n_embd=32, n_head=4, seed=11),
                  dict(n_embd=64, n_head=8, n_intermediate=256, seed=5)):
        path = str(tmp_path / f"doc_{shape['n_embd']}.bin")
        hp, t = random_model(BERT_DOC_VOCAB, n_layer=2, n_labels=9, n_max_tokens=128, **shape)
        write_ggml(path, hp, BERT_DOC_VOCAB, t)
        m = load_model(path)
        rows = [tokenize(m.vocab, text, m.n_max_tokens) for text in texts]
        lengths = {len(r) for r in rows}
        assert len(lengths) >= 40 and 2 in lengths and m.n_max_tokens in lengths
        batched = m.eval_tokens_batch(rows)
        for toks, lg in zip(rows, batched):
            np.testing.assert_array_equal(lg, m.eval_tokens(toks))


def _spec_entities(texts, model, truncate):
    """The per-row reference port: tokenize, eval_tokens and
    decode_entities of each text (None for a null text)."""
    from duckdb_ner_spark.ner.decode import decode_entities
    from duckdb_ner_spark.ner.tokenizer import tokenize

    out = []
    for text in texts:
        if text is None:
            out.append(None)
            continue
        ids = tokenize(model.vocab, text, model.n_max_tokens)
        if not truncate and len(ids) >= model.n_max_tokens:
            raise ValueError("Input string exceeds model token limit and truncate=false")
        out.append(decode_entities(ids, model.eval_tokens(ids), model.vocab.id_to_token))
    return out


def _flat_entities(texts, model, truncate, offset=0):
    """The UDF body over ``texts`` as an Arrow batch (sliced at ``offset``)."""
    import pyarrow as pa

    from duckdb_ner_spark.functions.ner_udf import _ARROW_RESULT_TYPE, _ner_arrow

    arr = pa.array([None] * offset + list(texts), pa.string()).slice(offset)
    got = _ner_arrow(arr, model, truncate)
    assert got.type == _ARROW_RESULT_TYPE and len(got) == len(texts)
    return [None if row is None else [(e["entity"], e["label"]) for e in row]
            for row in got.to_pylist()]


def _one_piece_word(vocab):
    from duckdb_ner_spark.ner.tokenizer import tokenize

    return next(w for w in vocab.token_to_id
                if w not in ("[CLS]", "[SEP]") and len(tokenize(vocab, w, 8)) == 3)


@pytest.fixture(scope="module")
def flat_models(ggml_path, tmp_path_factory):
    """q_ner_bert's model, a tiny random model, the two stub files and a
    stub that exercises the BIO merge rules."""
    from duckdb_ner_spark.ner.ggml_format import write_ggml
    from duckdb_ner_spark.ner.model import StubMapModel, load_model
    from duckdb_ner_spark.operators.ner_queries import BERT_DOC_VOCAB
    from tools.convert_model import STUB_VOCAB, random_model

    bert = str(tmp_path_factory.mktemp("bert") / "q_ner_bert.bin")
    hp, t = random_model(BERT_DOC_VOCAB, n_embd=32, n_head=4, n_layer=2,
                         n_labels=9, n_max_tokens=128, seed=11)
    write_ggml(bert, hp, BERT_DOC_VOCAB, t)
    here = os.path.dirname(os.path.abspath(__file__))
    paths = {
        "q_ner_bert": bert,
        "tiny": ggml_path,
        "doc_stub": os.path.join(here, "..", "duckdb_ner_spark", "resources", "doc_stub_model.json"),
        "stub": os.path.join(here, "fixtures", "stub_model.json"),
    }
    models = {name: load_model(p) for name, p in paths.items()}
    # B-tags on a subword (merged), on consecutive words (split) and a bare
    # I-tag after O (starts an entity)
    models["bio_stub"] = StubMapModel.from_dict({
        "format": "ner-stub-v1", "vocab": STUB_VOCAB, "n_max_tokens": 32,
        "labels_by_token": {"duck": 5, "##db": 5, "labs": 6, "sam": 3,
                            "new": 7, "york": 7, "amsterdam": 8},
    })
    return models


_EDGE_ROWS = [
    None, "", "   ", " \t\n\r\x0b\x0c ", "\x0b",
    "€", "café naïve € duck", "x\u00a0y duck\u2003labs",     # non-ASCII; unicode spaces do not split
    "sam [CLS] new york [SEP] labs", "[SEP] [CLS]",
    "##db duck ##db ##  ## ##x", "duckdb ##spark",
    "x\x0by\x0cz w", "sam duckdb labs new york in amsterdam duckdb",
]


@pytest.mark.parametrize("name", ["q_ner_bert", "tiny", "doc_stub", "stub", "bio_stub"])
def test_flat_udf_body_matches_per_row_spec(flat_models, name):
    """The Arrow-batch UDF body equals the per-row spec row by row over the
    sf0.01 documents and edge rows; rows of n_max-3 .. n_max-1 pieces, and
    the documents, also with truncate off (the same ValueError)."""
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    model = flat_models[name]
    docs_path = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01", "documents.parquet")
    docs = pq.read_table(docs_path, columns=["text"]).column("text").to_pylist()
    word = _one_piece_word(model.vocab)
    n_max = model.n_max_tokens
    at_cap = {p: " ".join([word] * p) for p in (n_max - 3, n_max - 2, n_max - 1)}
    texts = _EDGE_ROWS + list(at_cap.values()) + docs
    want = _spec_entities(texts, model, True)
    assert sum(map(len, filter(None, want))) > (0 if name.endswith("stub") else 100)
    assert _flat_entities(texts, model, True) == want
    assert _flat_entities(texts[:40], model, True, offset=3) == want[:40]

    fits = _EDGE_ROWS + [at_cap[n_max - 3]]
    assert _flat_entities(fits, model, False) == _spec_entities(fits, model, False)
    for rows in ([at_cap[n_max - 2]], [None, at_cap[n_max - 1]]):
        for body in (_spec_entities, _flat_entities):
            with pytest.raises(ValueError, match="exceeds model token limit"):
                body(rows, model, False)
    try:
        want = _spec_entities(docs, model, False)
    except ValueError:
        with pytest.raises(ValueError, match="exceeds model token limit"):
            _flat_entities(docs, model, False)
    else:
        assert _flat_entities(docs, model, False) == want


def test_flat_udf_body_without_a_model():
    """No model: [] per non-null row, null per null row."""
    assert _flat_entities([None, "", "sam"], None, True) == [None, [], []]


def test_gelu_tanh_numerics():
    """The GELU is the float32 tanh formula: within 5e-7·max(1, |x|) of its
    float64 evaluation, equal to it at ±inf and NaN, and far enough from the
    erf GELU (up to 4.7e-4 apart) that swapping it in fails."""
    import math

    from duckdb_ner_spark.ner.bert_numpy import _GELU_C, _gelu_tanh

    special = [0.0, 1e-30, -1e-30, 1e4, -1e4, np.inf, -np.inf, np.nan]
    x = np.concatenate([np.linspace(-12, 12, 4801), special]).astype(np.float32)
    x64 = x.astype(np.float64)
    with np.errstate(invalid="ignore", over="ignore"):
        want = 0.5 * x64 * (1.0 + np.tanh(_GELU_C * (x64 + 0.044715 * x64**3)))
        erf_gelu = 0.5 * x64 * (1.0 + np.vectorize(math.erf)(x64 / math.sqrt(2.0)))
        got = _gelu_tanh(x)
    assert got.dtype == np.float32
    finite = np.isfinite(x64)
    bound = 5e-7 * np.maximum(1.0, np.abs(x64[finite]))

    def within(y):
        return bool(np.all(np.abs(y[finite] - want[finite]) <= bound))

    assert within(got.astype(np.float64))
    np.testing.assert_array_equal(got[~finite], want[~finite])
    assert not within(erf_gelu)


def test_broadcast_model_distribution(engine, ggml_path):
    """set_model_broadcast ships weights without a shared filesystem path."""
    spark = engine.spark
    engine.set_model_broadcast(ggml_path)
    rows = spark.sql("SELECT ner('duck labs in amsterdam') AS e").collect()
    assert rows[0].e is not None  # model loaded from broadcast bytes
    # path-based and broadcast-based registration must agree
    engine.set_model_path(ggml_path)
    rows2 = spark.sql("SELECT ner('duck labs in amsterdam') AS e").collect()
    assert rows[0].e == rows2[0].e
    engine.set_model_path(None)


def test_broadcast_json_stub(engine):
    import os

    stub = os.path.join(os.path.dirname(__file__), "fixtures", "stub_model.json")
    engine.set_model_broadcast(stub)
    row = engine.spark.sql("SELECT ner('sam is in new york') AS e").collect()[0]
    assert [(e.entity, e.label) for e in row.e] == [("sam", "PER"), ("new york", "LOC")]
    engine.set_model_path(None)


def test_q_ner_bert_model_write_is_atomic(spark, monkeypatch, tmp_path):
    """A writer killed mid-write leaves no file at q_ner_bert's model path
    (the loader would read a truncated one as "no model"), and the next
    build writes a loadable model."""
    import tempfile

    from duckdb_ner_spark.ner import ggml_format
    from duckdb_ner_spark.ner.model import load_model
    from duckdb_ner_spark.operators.ner_queries import q_ner_bert
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    final = tmp_path / "ner_bench_bert_v1.bin"
    write_ggml = ggml_format.write_ggml

    def killed_mid_write(path, *args):
        write_ggml(path, *args)
        os.truncate(path, os.path.getsize(path) // 2)
        raise OSError("killed mid-write")

    monkeypatch.setattr(ggml_format, "write_ggml", killed_mid_write)
    with pytest.raises(OSError, match="killed mid-write"):
        q_ner_bert(spark, SF_SMOKE)
    assert not final.exists()

    monkeypatch.setattr(ggml_format, "write_ggml", write_ggml)
    q_ner_bert(spark, SF_SMOKE)
    assert load_model(str(final)) is not None


@pytest.mark.parametrize(
    "user_core, corename, features, want",
    [
        ("Haswell", "Prescott", {"AVX512_SKX": True}, None),
        (None, "Haswell", {"AVX512_SKX": True}, None),
        (None, "SkylakeX", {"AVX512_SKX": True}, None),
        (None, None, {"AVX512_SKX": True}, None),
        (None, "Prescott", {"AVX512_SKX": True, "AVX2": True, "FMA3": True}, "SkylakeX"),
        (None, "Prescott", {"AVX512_SKX": False, "AVX2": True, "FMA3": True}, "Haswell"),
        (None, "Prescott", {"AVX2": True, "FMA3": False}, None),
        (None, "Prescott", {"AVX": True, "FMA3": True}, None),
        (None, "Prescott", {}, None),
    ],
    ids=["user_value_wins", "detected_core", "detected_skylakex", "no_openblas",
         "avx512_skx", "avx2_fma3", "avx2_without_fma3", "fma3_without_avx2", "no_simd"],
)
def test_worker_blas_core_selection(user_core, corename, features, want):
    from duckdb_ner_spark.session import worker_blas_core

    assert worker_blas_core(user_core, corename, features) == want


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: getOrCreate returns the conf."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, url):
        self.conf["spark.master"] = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize(
    "env_core, extra_conf, probe, want",
    [
        (None, {}, ("Prescott", {"AVX512_SKX": True}), "SkylakeX"),
        ("Haswell", {}, ("Prescott", {"AVX512_SKX": True}), None),
        (None, {"spark.executorEnv.OPENBLAS_CORETYPE": "Haswell"},
         ("Prescott", {"AVX512_SKX": True}), "Haswell"),
        (None, {}, ("SkylakeX", {"AVX512_SKX": True}), None),
        (None, {"spark.master": "spark://cluster:7077"},
         ("Prescott", {"AVX512_SKX": True}), None),
    ],
    ids=["fallback_core_replaced", "user_env_wins", "user_conf_wins",
         "detected_core_untouched", "non_local_master"],
)
def test_get_spark_sets_worker_blas_core(monkeypatch, env_core, extra_conf, probe, want):
    """get_spark's wiring of worker_blas_core: the user's environment and
    conf win, a detected core and a non-local master get nothing."""
    from duckdb_ner_spark import session

    builder = _RecordingBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    monkeypatch.setattr(session, "_driver_blas_probe", lambda: probe)
    if env_core is None:
        monkeypatch.delenv("OPENBLAS_CORETYPE", raising=False)
    else:
        monkeypatch.setenv("OPENBLAS_CORETYPE", env_core)
    conf = session.get_spark(extra_conf=extra_conf)
    assert conf.get(session.CONF_WORKER_BLAS_CORE) == want


def test_workers_load_the_chosen_blas_core(spark):
    """The core get_spark picks reaches the Python workers' OpenBLAS."""
    from duckdb_ner_spark.session import (
        CONF_WORKER_BLAS_CORE,
        blas_cores,
        chosen_worker_blas_core,
    )

    core = chosen_worker_blas_core({})
    if core is None:
        pytest.skip("the driver's OpenBLAS needs no core override here")
    assert spark.conf.get(CONF_WORKER_BLAS_CORE) == core
    assert blas_cores(spark)["workers"] == core


def test_batched_eval_bit_identical_under_worker_blas_core():
    """The ledgered pin, rerun in a process whose OpenBLAS loads the core the
    ner() workers run on."""
    import subprocess
    import sys

    from duckdb_ner_spark.session import chosen_worker_blas_core

    core = chosen_worker_blas_core({})
    if core is None:
        pytest.skip("the driver's OpenBLAS needs no core override here")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys, pytest\n"
        "from duckdb_ner_spark.session import openblas_corename\n"
        f"assert openblas_corename() == {core!r}, openblas_corename()\n"
        "sys.exit(pytest.main(['-q', '-p', 'no:cacheprovider', "
        "'tests/test_ner_batching.py::test_batched_eval_bit_identical_to_per_row']))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=root, capture_output=True, text=True,
        env={**os.environ, "OPENBLAS_CORETYPE": core, "OMP_NUM_THREADS": "1"},
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "1 passed" in proc.stdout


@pytest.fixture
def zip_hook(monkeypatch):
    """``install_zip_stat_check`` over a zipimporter that has the stdlib's
    ``invalidate_caches`` again (restored after the test)."""
    import zipimport

    from duckdb_ner_spark.session import install_zip_stat_check

    installed = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        getattr(installed, "__wrapped__", installed))
    return install_zip_stat_check


def _write_zip(path, modules):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0)), src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip of ``zmod_a`` first on ``sys.path``, and the list of the
    archive's directory reads (``zipimport._read_directory`` calls)."""
    import sys
    import zipimport

    if hasattr(zipimport.zipimporter, "_get_files"):
        pytest.skip("this stdlib invalidates zip directories lazily")
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a.py": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_zip_stat_check_skips_unchanged_archive(zip_hook, zip_on_path):
    import importlib

    archive, reads = zip_on_path
    assert zip_hook()
    assert importlib.import_module("zmod_a").X == 1
    importlib.invalidate_caches()
    assert reads, "an archive's first invalidation reads it"
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_zip_stat_check_rereads_rewritten_archive(zip_hook, zip_on_path, change):
    """A rewrite that changes only the size, or only the mtime, is re-read,
    and the module it adds imports."""
    import importlib

    archive, reads = zip_on_path
    zip_hook()
    importlib.import_module("zmod_a")
    importlib.invalidate_caches()
    before = os.stat(archive)
    if change == "size":
        _write_zip(archive, {"zmod_a.py": "X = 1\n", "zmod_b.py": "Y = 2\n"})
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    else:  # same-length name and content: same size
        _write_zip(archive, {"zmod_b.py": "Y = 2\n"})
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    after = os.stat(archive)
    assert (after.st_size == before.st_size) == (change == "mtime")
    assert (after.st_mtime_ns == before.st_mtime_ns) == (change == "size")
    reads.clear()
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("zmod_b").Y == 2


def test_zip_stat_check_installs_once(zip_hook):
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    assert zip_hook()
    assert not zip_hook()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original


def test_zip_stat_check_leaves_lazy_stdlib_alone(zip_hook, monkeypatch):
    import zipimport

    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    original = zipimport.zipimporter.invalidate_caches
    assert not zip_hook()
    assert zipimport.zipimporter.invalidate_caches is original


def test_ner_workers_reuse_unchanged_zip_directories(engine):
    """In a Python worker that has loaded ner()'s module, a second
    ``importlib.invalidate_caches()`` (PySpark's per-task call) reads no zip
    directory."""
    stub = os.path.join(os.path.dirname(__file__), "fixtures", "stub_model.json")
    engine.set_model_path(stub)
    try:
        engine.spark.sql("SELECT ner('sam is in new york') AS e").collect()
    finally:
        engine.set_model_path(None)

    def second_invalidation_reads(_):
        import importlib
        import sys
        import zipfile
        import zipimport

        # The module ner() unpickles, imported here too: the task may land
        # on a worker that ran no ner() task.
        import duckdb_ner_spark.functions.ner_udf  # noqa: F401

        if not any(os.path.isfile(p) and zipfile.is_zipfile(p) for p in sys.path):
            return None
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return reads

    reads = engine.spark.sparkContext.parallelize([0], 1).map(second_invalidation_reads).first()
    if reads is None:
        pytest.skip("the workers import nothing from a zip archive")
    assert reads == []
