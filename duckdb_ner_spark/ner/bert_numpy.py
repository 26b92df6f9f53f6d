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
"""

from __future__ import annotations

import numpy as np

from .ggml_format import GgmlModelFile
from .vocab import Vocab

_LN_EPS = 1e-5
_GELU_C = 0.7978845608028654  # sqrt(2/pi)


def _layernorm(x: np.ndarray, w: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = ((x - mu) ** 2).mean(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + _LN_EPS) * w + b


def _gelu_tanh(x: np.ndarray) -> np.ndarray:
    # x * x * x, not x**3: NumPy's power() has no fast path for a cube
    return 0.5 * x * (1.0 + np.tanh(_GELU_C * (x + 0.044715 * (x * x * x))))


def _softmax(x: np.ndarray) -> np.ndarray:
    e = np.exp(x - x.max(axis=-1, keepdims=True))
    return e / e.sum(axis=-1, keepdims=True)


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
        # HF weight layout is (out, in): linear(x) = x @ W.T + b
        x = self.word_emb[ids] + self.type_emb[0] + self.pos_emb[:n]
        x = _layernorm(x, *self.ln_e)

        d_head = self.n_embd // self.n_head
        for L in self.layers:
            q = x @ L["q"][0].T + L["q"][1]
            k = x @ L["k"][0].T + L["k"][1]
            v = x @ L["v"][0].T + L["v"][1]
            # (B, n_head, n, d_head)
            q = q.reshape(b, n, self.n_head, d_head).transpose(0, 2, 1, 3)
            k = k.reshape(b, n, self.n_head, d_head).transpose(0, 2, 1, 3)
            v = v.reshape(b, n, self.n_head, d_head).transpose(0, 2, 1, 3)
            scores = _softmax((q @ k.transpose(0, 1, 3, 2)) / np.sqrt(d_head))
            ctxv = (scores @ v).transpose(0, 2, 1, 3).reshape(b, n, self.n_embd)
            att = ctxv @ L["o"][0].T + L["o"][1]
            x = _layernorm(att + x, *L["ln_att"])
            ff = _gelu_tanh(x @ L["ff_i"][0].T + L["ff_i"][1])
            ff = ff @ L["ff_o"][0].T + L["ff_o"][1]
            x = _layernorm(ff + x, *L["ln_out"])

        return (x @ self.cls[0].T + self.cls[1]).astype(np.float32)

    def eval_tokens(self, token_ids: list[int]) -> np.ndarray:
        ids = np.asarray(token_ids, dtype=np.int64)[None, :]
        return self._forward(ids)[0]

    def eval_tokens_batch(self, token_lists: list[list[int]]) -> list[np.ndarray]:
        """Cross-row batching: group rows by token length (mask-free), one
        (B, n, d) pass per group, results re-ordered to the input order."""
        by_len: dict[int, list[int]] = {}
        for i, toks in enumerate(token_lists):
            by_len.setdefault(len(toks), []).append(i)
        out: list[np.ndarray | None] = [None] * len(token_lists)
        for n, idxs in by_len.items():
            ids = np.asarray([token_lists[i] for i in idxs], dtype=np.int64)
            logits = self._forward(ids)
            for j, i in enumerate(idxs):
                out[i] = logits[j]
        return out
