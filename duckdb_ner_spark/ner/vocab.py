"""WordPiece vocabulary with the reference's two-map layout.

Parity target: /root/reference/src/ner_model.cpp:180-192 (vocab load) and
:436-446 (id→token with [UNK] fallback). Tokens are stored in id order; a
token spelled ``##xyz`` routes to the *subword* map keyed WITHOUT the ``##``
prefix, while the id→string direction keeps the prefix (the BIO decoder uses
the prefix to detect subwords, src/ner_extension.cpp:141-142).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Vocab:
    token_to_id: dict[str, int] = field(default_factory=dict)
    subword_token_to_id: dict[str, int] = field(default_factory=dict)
    _id_to_token: dict[int, str] = field(default_factory=dict)
    # UTF-8-byte-keyed twins of the two maps, built lazily: the tokenizer
    # matches over word BYTES to reproduce the reference's std::string
    # semantics (ner_model.cpp:135-155) exactly for non-ASCII input.
    _token_bytes: dict[bytes, int] | None = field(default=None, repr=False)
    _subword_bytes: dict[bytes, int] | None = field(default=None, repr=False)
    # word → token-id-list memo used by tokenizer._tokenize_word.
    word_cache: dict[str, list[int]] = field(default_factory=dict, repr=False)
    # per-id arrays built once by decode.decode_batch.
    decode_tables: tuple | None = field(default=None, repr=False, compare=False)

    @property
    def token_bytes_to_id(self) -> dict[bytes, int]:
        if self._token_bytes is None:
            self._token_bytes = {t.encode("utf-8"): i for t, i in self.token_to_id.items()}
        return self._token_bytes

    @property
    def subword_bytes_to_id(self) -> dict[bytes, int]:
        if self._subword_bytes is None:
            self._subword_bytes = {
                t.encode("utf-8"): i for t, i in self.subword_token_to_id.items()
            }
        return self._subword_bytes

    @classmethod
    def from_tokens(cls, tokens: list[str]) -> "Vocab":
        v = cls()
        for i, word in enumerate(tokens):
            if len(word) > 2 and word.startswith("##"):
                v.subword_token_to_id[word[2:]] = i
            else:
                v.token_to_id[word] = i
            v._id_to_token[i] = word
        return v

    def __len__(self) -> int:
        return len(self._id_to_token)

    def id_to_token(self, idx: int) -> str:
        return self._id_to_token.get(idx, "[UNK]")

    @property
    def cls_id(self) -> int:
        return self.token_to_id["[CLS]"]

    @property
    def sep_id(self) -> int:
        return self.token_to_id["[SEP]"]
