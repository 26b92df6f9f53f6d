"""Per-token argmax + BIO decode + WordPiece merge.

Behavioral port of the entity-reconstruction loop in
/root/reference/src/ner_extension.cpp:119-167. The quirks below are load-
bearing (the reference's tests pin them; SURVEY.md A11-A12):

- label scheme: index 0 = O, odd = B-X, even>0 = I-X; class names via
  ``LABEL_MAP`` (src/ner_extension.cpp:97);
- group id ``(best+1)//2``: B-X and I-X of one class share a group (:141-144);
- continue the current entity iff same group AND (I-tag OR the token is a
  ``##`` subword) (:147) — a B-tag starts a NEW entity even mid-class;
- a bare I-tag after O *starts* an entity (no preceding B required);
- subwords concatenate with no space, full words join with one space (:149);
- the entity's label is the label of its FIRST token (:156);
- [CLS]/[SEP] are skipped without touching the merge state (:133-136);
- a trailing open entity is flushed after the loop (:165-167).

``decode_entities`` is the per-row port and the spec; ``decode_batch`` is
the same decode over a whole Arrow batch, which the ``ner()`` UDF runs.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .tokenizer import offsets_of
from .vocab import Vocab

LABEL_MAP = ("O", "MISC", "MISC", "PER", "PER", "ORG", "ORG", "LOC", "LOC")


def decode_entities(
    token_ids: Sequence[int],
    logits: np.ndarray,
    id_to_token,
) -> list[tuple[str, str]]:
    """(token ids, [n_tokens, n_labels] logits) → [(entity_text, label)]."""
    best = np.asarray(logits).argmax(axis=-1)

    entities: list[tuple[str, str]] = []
    cur_text = ""
    cur_label = ""
    last_group = 0

    for t, tok_id in enumerate(token_ids):
        best_label = int(best[t])
        token_str = id_to_token(tok_id)
        if token_str in ("[CLS]", "[SEP]"):
            continue

        is_subword = len(token_str) > 2 and token_str.startswith("##")
        clean = token_str[2:] if is_subword else token_str

        group = 0 if best_label == 0 else (best_label + 1) // 2

        if group != 0:
            if group == last_group and (best_label % 2 == 0 or is_subword):
                cur_text += ("" if is_subword else " ") + clean
            else:
                if last_group != 0:
                    entities.append((cur_text, cur_label))
                cur_text = clean
                cur_label = LABEL_MAP[best_label]
        else:
            if last_group != 0:
                entities.append((cur_text, cur_label))
        last_group = group

    if last_group != 0:
        entities.append((cur_text, cur_label))
    return entities


def _decode_tables(vocab: Vocab) -> tuple[np.ndarray, np.ndarray, pa.Array, pa.Array]:
    """Per token id: is it [CLS]/[SEP], is it a ``##`` subword, and its
    text pieces (ids ``0..V-1`` the clean text, ``V..2V-1`` the same after
    one space); then ``LABEL_MAP`` as Arrow. Built once per vocab, not at
    import: a first ``pa.array`` call imports pandas."""
    if vocab.decode_tables is None:
        strs = [vocab.id_to_token(i) for i in range(len(vocab))]
        special = np.array([s in ("[CLS]", "[SEP]") for s in strs], dtype=bool)
        subword = np.array([len(s) > 2 and s.startswith("##") for s in strs], dtype=bool)
        clean = [s[2:] if sub else s for s, sub in zip(strs, subword)]
        pieces = pa.array(clean + [" " + c for c in clean], pa.string())
        vocab.decode_tables = (special, subword, pieces, pa.array(LABEL_MAP, pa.string()))
    return vocab.decode_tables


def decode_batch(
    vocab: Vocab, ids: np.ndarray, labels: np.ndarray, offsets: np.ndarray
) -> tuple[pa.Array, pa.Array, np.ndarray]:
    """``decode_entities`` over a flat batch: row r's token ids and argmax
    labels are ``ids[offsets[r]:offsets[r+1]]`` and ``labels[...]``.
    Returns every entity's text and label, in row order, and
    ``len(offsets)`` per-row entity offsets. The merge state is computed
    for all tokens at once: a token continues the open entity iff its
    group is nonzero and equals the previous kept token's group in the
    same row, and it is an I-tag or a subword; any other nonzero-group
    token starts one."""
    special, subword, pieces, label_names = _decode_tables(vocab)
    n_rows = len(offsets) - 1
    row = np.repeat(np.arange(n_rows), np.diff(offsets))
    keep = ~special[ids]
    ids, labels, row = ids[keep], labels[keep], row[keep]

    group = (labels + 1) // 2
    prev = np.zeros_like(group)
    prev[1:] = np.where(row[1:] == row[:-1], group[:-1], 0)
    sub = subword[ids]
    in_entity = group != 0
    cont = in_entity & (group == prev) & ((labels % 2 == 0) | sub)
    start = in_entity & ~cont

    # an entity's text: its first piece clean, then "" + clean for a
    # subword and " " + clean for a word
    spaced = (cont & ~sub)[in_entity]
    text_pieces = pieces.take(ids[in_entity] + len(special) * spaced)
    starts = np.flatnonzero(start[in_entity])
    per_entity = pa.ListArray.from_arrays(
        pa.array(np.append(starts, len(text_pieces)), pa.int32()), text_pieces
    )
    texts = pc.binary_join(per_entity, "")
    names = label_names.take(labels[start])
    return texts, names, offsets_of(np.bincount(row[start], minlength=n_rows))
