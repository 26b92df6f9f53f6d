"""Model conversion tool — analogue of the reference's
scripts/convert_ner_to_ggml.py (A17): produce a GGML-container model this
engine (and the reference) can load.

Modes:
- ``--random``: a seeded random tiny model (n_embd/heads/layers from flags) —
  for tests and demos; vocab from a word list file or the built-in stub.
- ``--checkpoint <dir>``: convert a REAL on-disk BertForTokenClassification
  checkpoint directory (config.json + vocab.txt + model.safetensors or
  weights .npz) with NumPy only — no torch/transformers. The safetensors
  container is parsed directly (the format is a public spec: u64-LE header
  length, JSON tensor index, raw little-endian buffers), and the tensor-name
  mapping is the reference converter's exactly: strip the ``bert.`` prefix,
  drop ``embeddings.position_ids``
  (scripts/convert_ner_to_ggml.py:64-71).
- ``--hf <model_id>``: same conversion but pulling the checkpoint through
  transformers. Requires torch+transformers — NOT present in this
  environment; gated behind an import-try. ``--checkpoint`` is the
  torch-free equivalent for a checkpoint already on disk (e.g. a downloaded
  dslim/bert-base-NER snapshot, the reference's recommended model).

Usage: python tools/convert_model.py --random out.bin [--embd 32 --heads 4
       --layers 2 --labels 9]
       python tools/convert_model.py --checkpoint /path/to/ckpt out.bin
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_ner_spark.ner.ggml_format import HPARAM_NAMES, random_model, write_ggml  # noqa: E402

# safetensors dtype strings -> numpy dtypes (little-endian on disk).
# BF16 has no numpy dtype: widened via a <<16 bit-shift into float32 below.
_ST_DTYPES = {
    "F64": np.dtype("<f8"),
    "F32": np.dtype("<f4"),
    "F16": np.dtype("<f2"),
    "I64": np.dtype("<i8"),
    "I32": np.dtype("<i4"),
    "I16": np.dtype("<i2"),
    "I8": np.dtype("i1"),
    "U8": np.dtype("u1"),
    "BOOL": np.dtype("?"),
}


def read_safetensors(path: str) -> dict[str, np.ndarray]:
    """Parse a .safetensors file with NumPy only (no safetensors package):
    8-byte LE header length, JSON header {name: {dtype, shape,
    data_offsets:[begin,end]}}, then one contiguous buffer. Offsets are
    relative to the end of the header."""
    with open(path, "rb") as f:
        (hlen,) = struct.unpack("<Q", f.read(8))
        header = json.loads(f.read(hlen).decode("utf-8"))
        buf = f.read()
    out = {}
    for name, spec in header.items():
        if name == "__metadata__":
            continue
        begin, end = spec["data_offsets"]
        raw = buf[begin:end]
        shape = tuple(spec["shape"])
        if spec["dtype"] == "BF16":
            u16 = np.frombuffer(raw, dtype="<u2")
            arr = (u16.astype(np.uint32) << 16).view(np.float32).reshape(shape)
        else:
            dt = _ST_DTYPES.get(spec["dtype"])
            if dt is None:
                raise ValueError(f"unsupported safetensors dtype {spec['dtype']}")
            arr = np.frombuffer(raw, dtype=dt).reshape(shape)
        out[name] = arr
    return out


def write_safetensors(path: str, tensors: dict[str, np.ndarray]) -> None:
    """Minimal safetensors writer (float32/float16/int64) — used to build
    real-architecture checkpoint fixtures for the torch-free conversion
    test without shipping binary blobs in the repo."""
    inv = {np.dtype(v): k for k, v in _ST_DTYPES.items()}
    header, bufs, off = {}, [], 0
    for name, arr in tensors.items():
        arr = np.ascontiguousarray(arr)
        dt = inv.get(arr.dtype.newbyteorder("<"))
        if dt is None:
            raise ValueError(f"unsupported dtype {arr.dtype}")
        raw = arr.astype(arr.dtype.newbyteorder("<")).tobytes()
        header[name] = {
            "dtype": dt,
            "shape": list(arr.shape),
            "data_offsets": [off, off + len(raw)],
        }
        bufs.append(raw)
        off += len(raw)
    hjson = json.dumps(header).encode("utf-8")
    with open(path, "wb") as f:
        f.write(struct.pack("<Q", len(hjson)))
        f.write(hjson)
        for raw in bufs:
            f.write(raw)


def convert_checkpoint(ckpt_dir: str, out: str, ftype: int) -> None:
    """Torch-free conversion of an on-disk BertForTokenClassification
    checkpoint directory. Same hparam extraction and tensor-name mapping as
    convert_hf / the reference converter."""
    with open(os.path.join(ckpt_dir, "config.json")) as f:
        cfg = json.load(f)
    n_labels = cfg.get("num_labels") or len(cfg.get("id2label") or ()) or 9
    hp = dict(
        n_vocab=cfg["vocab_size"], n_max_tokens=cfg["max_position_embeddings"],
        n_embd=cfg["hidden_size"], n_intermediate=cfg["intermediate_size"],
        n_head=cfg["num_attention_heads"], n_layer=cfg["num_hidden_layers"],
        ftype=ftype, n_labels=n_labels,
    )
    with open(os.path.join(ckpt_dir, "vocab.txt"), encoding="utf-8") as f:
        # rstrip CR too (a CRLF vocab.txt would otherwise leave '\r' on
        # every token and silently break all WordPiece lookups), and keep
        # blank lines POSITIONAL — token id i must stay row i of the
        # embedding matrix; dropping a blank line would shift every
        # subsequent id (r5 code-review finding)
        vocab = [line.rstrip("\r\n") for line in f]
    if vocab and vocab[-1] == "":
        vocab.pop()  # artifact of a trailing newline, not a token
    st = os.path.join(ckpt_dir, "model.safetensors")
    npz = os.path.join(ckpt_dir, "weights.npz")
    if os.path.exists(st):
        raw = read_safetensors(st)
    elif os.path.exists(npz):
        raw = dict(np.load(npz))
    else:
        raise SystemExit(f"no model.safetensors or weights.npz in {ckpt_dir}")
    tensors = {}
    for name, t in raw.items():
        clean = name[5:] if name.startswith("bert.") else name
        if clean == "embeddings.position_ids":
            continue
        tensors[clean] = np.asarray(t, dtype=np.float32).squeeze()
    write_ggml(out, hp, vocab, tensors)

STUB_VOCAB = [
    "[CLS]", "[SEP]", "duck", "##db", "labs", "is", "in", "amsterdam",
    "new", "york", "sam", "spark", "customer", "row", "window", "table",
]


def convert_hf(model_id: str, out: str, ftype: int) -> None:  # pragma: no cover
    try:
        import torch  # noqa: F401
        from transformers import AutoModelForTokenClassification, AutoTokenizer
    except ImportError:
        raise SystemExit("torch/transformers not available in this environment")
    tok = AutoTokenizer.from_pretrained(model_id)
    model = AutoModelForTokenClassification.from_pretrained(model_id)
    cfg = model.config.to_dict()
    hp = dict(
        n_vocab=cfg["vocab_size"], n_max_tokens=cfg["max_position_embeddings"],
        n_embd=cfg["hidden_size"], n_intermediate=cfg["intermediate_size"],
        n_head=cfg["num_attention_heads"], n_layer=cfg["num_hidden_layers"],
        ftype=ftype, n_labels=cfg["num_labels"],
    )
    vocab = [w for w, _ in sorted(tok.get_vocab().items(), key=lambda kv: kv[1])]
    tensors = {}
    for name, t in model.state_dict().items():
        clean = name[5:] if name.startswith("bert.") else name
        if clean == "embeddings.position_ids":
            continue
        tensors[clean] = t.squeeze().numpy()
    write_ggml(out, hp, vocab, tensors)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--random", action="store_true")
    p.add_argument("--hf")
    p.add_argument("--checkpoint", help="on-disk checkpoint dir (torch-free)")
    p.add_argument("--embd", type=int, default=32)
    p.add_argument("--heads", type=int, default=4)
    p.add_argument("--layers", type=int, default=2)
    p.add_argument("--labels", type=int, default=9)
    p.add_argument("--max-tokens", type=int, default=128)
    p.add_argument("--ftype", type=int, default=0)
    p.add_argument("--seed", type=int, default=7)
    a = p.parse_args()
    if a.checkpoint:
        convert_checkpoint(a.checkpoint, a.out, a.ftype)
    elif a.hf:
        convert_hf(a.hf, a.out, a.ftype)
    else:
        hp, t = random_model(STUB_VOCAB, a.embd, a.heads, a.layers, a.labels, a.max_tokens, a.seed)
        hp["ftype"] = a.ftype
        write_ggml(a.out, hp, STUB_VOCAB, t)
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()
