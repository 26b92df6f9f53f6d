"""Whitespace + greedy-longest-match WordPiece tokenizer.

Behavioral port of ``ner_tokenize`` (/root/reference/src/ner_model.cpp:100-160).
Deliberately NOT a stock HuggingFace tokenizer — the reference's edge behavior
differs and is what its tests pin (SURVEY.md §7.4 #2):

- split on ASCII whitespace only; no lowercasing, no punctuation splitting
  (``Duck,DB`` is one word, :109-122);
- per word: greedy longest-prefix match against the FULL-WORD map for the
  first piece, then the SUBWORD map for every later piece (:135-151);
- matching runs over the word's UTF-8 BYTES, exactly like the reference's
  ``std::string`` arithmetic: an unmatched leading byte is skipped one BYTE
  at a time — no [UNK] token is emitted — and the word switches to the
  subword map (:152-155). Mid-UTF-8-sequence offsets are therefore reachable
  for non-ASCII input, and vocab tokens that coincide with continuation-byte
  sequences can match there, reproducing the reference byte-for-byte;
- output capped at ``n_max_tokens - 1`` before [SEP] is appended; the cap is
  checked before each word and before each piece (:128-138);
- [CLS] always first, [SEP] always last (even when truncated).

Perf: a word's piece stream is position-independent (the map resets to the
full-word map at each word start), so per-word results are memoized on the
vocab — real corpora repeat words heavily, and the cache turns the O(len²)
greedy scan into a dict hit for every repeat. The cache is bounded (cleared
past 2^20 entries) so a pathological corpus can't grow executor memory.

``tokenize`` is the per-row port and the spec; ``tokenize_batch`` is the
same tokenization over a whole Arrow batch, which the ``ner()`` UDF runs.
"""

from __future__ import annotations

import re
from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .vocab import Vocab

# The reference splits on C isspace(), which is ASCII-only; Python's
# str.split()/isspace() match unicode spaces, so pin the ASCII set explicitly.
_WORD_RE = re.compile(r"[^ \t\n\r\v\f]+")
# For Arrow, the other five of those bytes become " " before one literal
# split on " ": about 5x faster than splitting on the regex
# "[ \t\n\r\x0b\x0c]+", and the empty words both leave are dropped. Not
# pc.ascii_split_whitespace: pyarrow 16 returns ["x", "y", "z w"] for
# "x\x0by\x0cz w".
_OTHER_SPACES = "\t\n\r\x0b\x0c"

_WORD_CACHE_MAX = 1 << 20


def split_words(text: str) -> list[str]:
    return _WORD_RE.findall(text)


def _wordpiece_bytes(vocab: Vocab, wb: bytes) -> list[int]:
    """Greedy longest-prefix WordPiece over the word's UTF-8 bytes."""
    out: list[int] = []
    i, n = 0, len(wb)
    token_map = vocab.token_bytes_to_id
    while i < n:
        j = n
        found = False
        while j > i:
            tok_id = token_map.get(wb[i:j])
            if tok_id is not None:
                out.append(tok_id)
                i = j
                token_map = vocab.subword_bytes_to_id
                found = True
                break
            j -= 1
        if not found:
            token_map = vocab.subword_bytes_to_id
            i += 1  # skip one unknown BYTE (ner_model.cpp:152-155) — no [UNK]
    return out


def _tokenize_word(vocab: Vocab, word: str) -> list[int]:
    cache = vocab.word_cache
    ids = cache.get(word)
    if ids is None:
        ids = _wordpiece_bytes(vocab, word.encode("utf-8"))
        if len(cache) >= _WORD_CACHE_MAX:
            cache.clear()
        cache[word] = ids
    return ids


def tokenize(vocab: Vocab, text: str, n_max_tokens: int) -> list[int]:
    """Return token ids: [CLS] + wordpieces + [SEP], reference-truncated."""
    tokens: list[int] = [vocab.cls_id]
    cap = n_max_tokens - 1

    for word in split_words(text):
        if len(tokens) >= cap:
            break
        for tid in _tokenize_word(vocab, word):
            if len(tokens) >= cap:
                break
            tokens.append(tid)
    tokens.append(vocab.sep_id)
    return tokens


def offsets_of(lengths: np.ndarray) -> np.ndarray:
    """``len(lengths) + 1`` int64 offsets: item i spans ``[o[i], o[i+1])``."""
    out = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out[1:])
    return out


def tokenize_batch(vocab: Vocab, texts: pa.Array, n_max_tokens: int) -> tuple[np.ndarray, np.ndarray]:
    """``tokenize`` over an Arrow string batch: one flat id array and
    ``len(texts) + 1`` row offsets; a null row has no tokens. Row by row
    equal to ``tokenize`` of each non-null text. The one Python loop runs
    over the batch's distinct words (``_tokenize_word``); the rest is
    offset arithmetic."""
    n = len(texts)
    spaced = texts
    for space in _OTHER_SPACES:
        spaced = pc.replace_substring(spaced, space, " ")
    words = pc.split_pattern(spaced, " ")
    flat = words.flatten()
    nonempty = pc.greater(pc.binary_length(flat), 0)
    word_row = pc.list_parent_indices(words).filter(nonempty).to_numpy()
    enc = pc.dictionary_encode(flat.filter(nonempty))
    pieces = [_tokenize_word(vocab, w) for w in enc.dictionary.to_pylist()]
    n_pieces = np.fromiter(map(len, pieces), np.int64, len(pieces))
    piece_ids = np.fromiter(chain.from_iterable(pieces), np.int64, int(n_pieces.sum()))

    # every word occurrence copies its distinct word's run of piece ids
    word = enc.indices.to_numpy()
    occ_len = n_pieces[word]
    occ_off = offsets_of(occ_len)
    src = np.arange(occ_off[-1]) + np.repeat(offsets_of(n_pieces)[word] - occ_off[:-1], occ_len)
    stream = piece_ids[src]
    row_pieces = occ_off[np.searchsorted(word_row, np.arange(n + 1))]

    # ([CLS] + pieces)[:n_max_tokens - 1] + [SEP], [CLS] kept even at n_max_tokens < 2
    kept = np.minimum(np.diff(row_pieces), max(n_max_tokens - 2, 0))
    valid = pc.is_valid(texts).to_numpy(zero_copy_only=False)
    offsets = offsets_of(np.where(valid, kept + 2, 0))
    ids = np.empty(offsets[-1], dtype=np.int64)
    if len(ids):  # an all-null batch needs no [CLS]/[SEP], like tokenize
        ids[offsets[:-1][valid]] = vocab.cls_id
        ids[offsets[1:][valid] - 1] = vocab.sep_id
    piece_row = np.repeat(np.arange(n), np.diff(row_pieces))
    k = np.arange(row_pieces[-1]) - row_pieces[piece_row]
    keep = k < kept[piece_row]
    ids[(offsets[piece_row] + 1 + k)[keep]] = stream[keep]
    return ids, offsets
