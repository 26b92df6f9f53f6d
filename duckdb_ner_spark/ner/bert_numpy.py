"""Pure-NumPy BERT token-classification forward pass.

Functional re-expression of ``ner_eval`` (/root/reference/src/ner_model.cpp:
315-425): embeddings (word + type-0 + position) → LayerNorm → n_layer ×
{multi-head self-attention, residual, LN, GELU FFN, residual, LN} →
linear classifier → per-token logits.

Matches the reference's numerical choices:
- LayerNorm eps 1e-5 (ggml_norm default);
- GELU is ggml's tanh approximation, not erf;
- no attention mask (the reference never masks — single sequence, no pad);
- token_type is always 0 (src/ner_model.cpp:332-334);
- scale 1/sqrt(d_head) pre-softmax.

This runs batched rows inside the ``ner()`` Arrow UDF — unlike the
reference, which rebuilds a ggml graph per row (SURVEY.md §4.2), we amortize
weights across the Arrow batch. Parallelism comes from Spark tasks, not from
intra-op threads (the reference's 4 ggml threads): Spark starts Python workers
with ``OMP_NUM_THREADS`` = task cpus (1), which NumPy's OpenBLAS follows when
``OPENBLAS_NUM_THREADS`` is unset, so each task runs one BLAS thread.

That thread's GEMM kernel: NumPy's bundled OpenBLAS 0.3.23 does not know
newer CPUs (an AVX-512 Xeon with ``avx512_fp16``) and falls back to its
generic SSE3 ``Prescott`` kernel, 4–5× slower on one thread than the
``SkylakeX`` one. So on local masters ``session.get_spark`` gives the workers
an ``OPENBLAS_CORETYPE`` the CPU's ISA confirms (``SkylakeX`` or
``Haswell``), unless the user set one; the driver keeps the kernel it loaded.
Logits differ across kernels by float32 rounding only, so an entity can
differ only where a token's top two logits tie within that rounding.

Element-wise steps run in place (``out=`` and augmented assignments): the
same operations in the same order as the plain expressions, so the logits
are bit-identical to theirs, without a temporary per step.
"""

from __future__ import annotations

import numpy as np

from .ggml_format import GgmlModelFile
from .vocab import Vocab

_LN_EPS = 1e-5
_GELU_C = 0.7978845608028654  # sqrt(2/pi)


def _layernorm(x: np.ndarray, w: np.ndarray, b: np.ndarray) -> np.ndarray:
    """In place: overwrites and returns ``x``."""
    x -= x.mean(axis=-1, keepdims=True)
    var = (x * x).mean(axis=-1, keepdims=True)
    var += _LN_EPS
    x /= np.sqrt(var, out=var)
    x *= w
    x += b
    return x


def _gelu_tanh(x: np.ndarray) -> np.ndarray:
    """In place: overwrites and returns ``x``."""
    # x * x * x, not x**3: NumPy's power() has no fast path for a cube
    t = x * x
    t *= x
    t *= 0.044715
    t += x
    t *= _GELU_C
    np.tanh(t, out=t)
    t += 1.0
    x *= 0.5
    x *= t
    return x


def _softmax(x: np.ndarray) -> np.ndarray:
    """In place: overwrites and returns ``x``."""
    x -= x.max(axis=-1, keepdims=True)
    np.exp(x, out=x)
    x /= x.sum(axis=-1, keepdims=True)
    return x


def _linear(x: np.ndarray, wb: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
    # HF weight layout is (out, in): linear(x) = x @ W.T + b
    y = x @ wb[0].T
    y += wb[1]
    return y


def _length_groups(lengths: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """Row indices grouped by length, each group in row order: the batches
    of one mask-free forward pass each."""
    if not len(lengths):
        return []
    order = np.argsort(lengths, kind="stable")
    groups = np.split(order, np.flatnonzero(np.diff(lengths[order])) + 1)
    return [(int(lengths[g[0]]), g) for g in groups]


class GgmlBertModel:
    """Backend-protocol implementation over a parsed GGML file."""

    def __init__(self, mf: GgmlModelFile):
        hp = mf.hparams
        if hp["n_embd"] % max(hp["n_head"], 1) != 0:
            # the multi-head reshape requires divisibility (the reference's
            # ggml reshape_3d has the identical constraint); reject at load
            # so the silent-failure loader maps it to "no model"
            raise ValueError(
                f"n_embd={hp['n_embd']} not divisible by n_head={hp['n_head']}"
            )
        self.n_max_tokens = hp["n_max_tokens"]
        self.n_labels = hp["n_labels"]
        self.n_head = hp["n_head"]
        self.n_layer = hp["n_layer"]
        self.n_embd = hp["n_embd"]
        self.vocab = Vocab.from_tokens(mf.vocab)
        t = mf.tensors
        self.word_emb = t["embeddings.word_embeddings.weight"]
        self.type_emb = t["embeddings.token_type_embeddings.weight"]
        self.pos_emb = t["embeddings.position_embeddings.weight"]
        self.ln_e = (t["embeddings.LayerNorm.weight"], t["embeddings.LayerNorm.bias"])
        self.layers = []
        for i in range(self.n_layer):
            base = f"encoder.layer.{i}."
            self.layers.append(
                {
                    "q": (t[base + "attention.self.query.weight"], t[base + "attention.self.query.bias"]),
                    "k": (t[base + "attention.self.key.weight"], t[base + "attention.self.key.bias"]),
                    "v": (t[base + "attention.self.value.weight"], t[base + "attention.self.value.bias"]),
                    "o": (t[base + "attention.output.dense.weight"], t[base + "attention.output.dense.bias"]),
                    "ln_att": (t[base + "attention.output.LayerNorm.weight"], t[base + "attention.output.LayerNorm.bias"]),
                    "ff_i": (t[base + "intermediate.dense.weight"], t[base + "intermediate.dense.bias"]),
                    "ff_o": (t[base + "output.dense.weight"], t[base + "output.dense.bias"]),
                    "ln_out": (t[base + "output.LayerNorm.weight"], t[base + "output.LayerNorm.bias"]),
                }
            )
        self.cls = (t["classifier.weight"], t["classifier.bias"])

    def _forward(self, ids: np.ndarray) -> np.ndarray:
        """(B, n) int ids → (B, n, n_labels) logits. Mask-free: every row in
        a batch has the SAME length, so batched results are bit-identical to
        per-row evaluation (padding would perturb the softmax)."""
        b, n = ids.shape
        x = self.word_emb[ids] + self.type_emb[0]
        x += self.pos_emb[:n]
        x = _layernorm(x, *self.ln_e)

        d_head = self.n_embd // self.n_head
        for L in self.layers:
            # (B, n_head, n, d_head)
            q, k, v = (
                _linear(x, L[p]).reshape(b, n, self.n_head, d_head).transpose(0, 2, 1, 3)
                for p in ("q", "k", "v")
            )
            scores = q @ k.transpose(0, 1, 3, 2)
            scores /= np.sqrt(d_head)
            ctxv = (_softmax(scores) @ v).transpose(0, 2, 1, 3).reshape(b, n, self.n_embd)
            att = _linear(ctxv, L["o"])
            att += x
            x = _layernorm(att, *L["ln_att"])
            ff = _linear(_gelu_tanh(_linear(x, L["ff_i"])), L["ff_o"])
            ff += x
            x = _layernorm(ff, *L["ln_out"])

        return _linear(x, self.cls).astype(np.float32)

    def eval_tokens(self, token_ids: list[int]) -> np.ndarray:
        ids = np.asarray(token_ids, dtype=np.int64)[None, :]
        return self._forward(ids)[0]

    def eval_tokens_batch(self, token_lists: list[list[int]]) -> list[np.ndarray]:
        """Cross-row batching: one (B, n, d) pass per length group, results
        in input order."""
        lengths = np.fromiter(map(len, token_lists), np.int64, len(token_lists))
        out: list[np.ndarray | None] = [None] * len(token_lists)
        for _, rows in _length_groups(lengths):
            logits = self._forward(np.asarray([token_lists[i] for i in rows], dtype=np.int64))
            for j, i in enumerate(rows):
                out[i] = logits[j]
        return out

    def token_labels(self, ids: np.ndarray, offsets: np.ndarray) -> np.ndarray:
        """Each token's argmax label, row r being ``ids[offsets[r]:offsets[r+1]]``.
        The non-empty rows form the same length groups, in the same row order,
        as in ``eval_tokens_batch``, so every forward pass sees the same input."""
        labels = np.zeros(len(ids), dtype=np.int64)
        for n, rows in _length_groups(np.diff(offsets)):
            if n:
                at = offsets[rows, None] + np.arange(n)
                labels[at] = self._forward(ids[at]).argmax(axis=-1)
        return labels
