"""Model backend protocol + the one loader, with the reference's failure
semantics.

The reference's loader (`ner_load_from_file`,
/root/reference/src/ner_model.cpp:292-298) returns nullptr on a missing or
bad file and NEVER raises; its bundled default model is a placeholder whose
magic check fails, so with no (valid) model configured every ``ner()`` call
returns ``[]`` for non-null rows (src/include/default_model.hpp:10-15,
src/ner_extension.cpp:68-76, test/sql/ner.test:21-51). We replicate exactly:
``load_model_bytes(data) -> Backend | None`` sniffs the format and builds the
backend, silent on every failure; ``load_model(path)`` reads the file once
and hands the bytes to it, so a path and a broadcast load the same way.

Backends:
- ``GgmlBertModel`` (``bert_numpy.py``) — the real backend: the reference's
  GGML container (f32 / f16 / q4_0) run as a NumPy BERT token classifier.
- ``StubMapModel`` — a JSON file mapping token → label index; emits one-hot
  logits per token. Hermetic + deterministic: the test vehicle, and the
  semantic analogue of the reference's convert-your-own-model flow.

Both implement ``token_labels`` (what the UDF calls: each token's argmax
label over a flat batch) and ``eval_tokens_batch``, and keep ``eval_tokens``
as the per-row reference both must match bit for bit.
"""

from __future__ import annotations

import json
from typing import Protocol

import numpy as np

from .vocab import Vocab


class Backend(Protocol):
    vocab: Vocab
    n_max_tokens: int
    n_labels: int

    def eval_tokens(self, token_ids: list[int]) -> np.ndarray:
        """[n_tokens] ids → [n_tokens, n_labels] float32 logits."""
        ...

    def eval_tokens_batch(self, token_lists: list[list[int]]) -> list[np.ndarray]:
        """``eval_tokens`` over many rows, in input order, bit-identical."""
        ...

    def token_labels(self, ids: np.ndarray, offsets: np.ndarray) -> np.ndarray:
        """Flat rows (row r is ``ids[offsets[r]:offsets[r+1]]``) → each
        token's argmax label, equal to ``eval_tokens(row).argmax(-1)``."""
        ...


class StubMapModel:
    """Deterministic token→label model (FIXTURES.md §3 contract)."""

    def __init__(self, vocab: Vocab, labels_by_id: dict[int, int], n_max_tokens: int, n_labels: int):
        self.vocab = vocab
        self._labels_by_id = labels_by_id
        self.n_max_tokens = n_max_tokens
        self.n_labels = n_labels
        self._label_of_id: np.ndarray | None = None

    @classmethod
    def from_dict(cls, spec: dict) -> "StubMapModel":
        """ValueError or TypeError on a spec of the wrong shape."""
        tokens = spec.get("vocab")
        if not isinstance(tokens, list) or not all(isinstance(t, str) for t in tokens):
            raise ValueError("stub vocab is not a list of strings")
        if not isinstance(spec.get("labels_by_token", {}), dict):
            raise ValueError("stub labels_by_token is not an object")
        vocab = Vocab.from_tokens(tokens)
        n_labels = int(spec.get("n_labels", 9))
        n_max_tokens = int(spec.get("n_max_tokens", 512))
        labels_by_id = {}
        for tok, label in spec.get("labels_by_token", {}).items():
            ids = [i for i, t in enumerate(spec["vocab"]) if t == tok]
            for i in ids:
                labels_by_id[i] = int(label)
        if n_labels < 1 or not all(0 <= lb < n_labels for lb in labels_by_id.values()):
            raise ValueError("stub label outside [0, n_labels)")
        return cls(vocab, labels_by_id, n_max_tokens, n_labels)

    def eval_tokens(self, token_ids: list[int]) -> np.ndarray:
        logits = np.zeros((len(token_ids), self.n_labels), dtype=np.float32)
        for t, tok in enumerate(token_ids):
            label = self._labels_by_id.get(tok, 0)
            logits[t, label] = 1.0
        return logits

    def eval_tokens_batch(self, token_lists: list[list[int]]) -> list[np.ndarray]:
        return [self.eval_tokens(t) for t in token_lists]

    def token_labels(self, ids: np.ndarray, offsets: np.ndarray) -> np.ndarray:
        """One table lookup: the argmax of each id's one-hot ``eval_tokens`` row."""
        if self._label_of_id is None:
            self._label_of_id = self.eval_tokens(range(len(self.vocab))).argmax(axis=-1)
        return self._label_of_id[ids]


# What a bad stub file raises: not UTF-8 or not JSON (ValueError), nested
# past the parser's depth (RecursionError), a wrong-shaped spec (ValueError),
# int() of a count or label that is not a number (TypeError, ValueError,
# OverflowError for Infinity).
_BAD_STUB = (ValueError, TypeError, OverflowError, RecursionError)


def load_model_bytes(data: bytes):
    """Silent-failure loader: a bad file → None (reference parity:
    test/sql/ner.test:39-51 expects SET to a bad path to succeed and the next
    ner() call to return []). Only the failure classes a bad file raises are
    caught; a programming error in a backend propagates.

    Formats, sniffed by magic: the reference's GGML container
    (magic 0x67676d6c LE — a file that merely *spells* 'ggml' in ASCII fails
    the check, exactly like the reference's bundled placeholder) and the JSON
    stub format."""
    if data[:4] == b"\x6c\x6d\x67\x67":  # struct LE of 0x67676d6c
        from .bert_numpy import GgmlBertModel
        from .ggml_format import read_ggml

        mf = read_ggml(data)
        try:
            return GgmlBertModel(mf) if mf is not None else None
        except (KeyError, ValueError):  # a tensor missing, heads indivisible
            return None
    try:
        spec = json.loads(data.decode("utf-8"))
        if not isinstance(spec, dict) or spec.get("format") != "ner-stub-v1":
            return None
        return StubMapModel.from_dict(spec)
    except _BAD_STUB:
        return None


def load_model(path: str | None):
    """``load_model_bytes`` over the file at ``path``; no path or an
    unreadable file (missing, a directory, a NUL in the path) → None."""
    if not path:
        return None
    try:
        with open(path, "rb") as f:
            data = f.read()
    except (OSError, ValueError):
        return None
    return load_model_bytes(data)
