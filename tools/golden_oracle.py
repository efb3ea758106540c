#!/usr/bin/env python3
"""Independent float64 forward pass over the golden NER model fixture.

Reads src/test/resources/graft/ner/golden_converter_model.bin with its own
parser (not the Scala loader), runs the BERT token classifier in float64
numpy, and writes the logits of a few fixed token-id sequences, and each
token's argmax label, to src/test/resources/graft/ner/golden_oracle_logits.txt,
which GoldenOracleSpec compares the Scala encoder against. A token whose
two largest logits are closer than LABEL_MARGIN gets no label ("-"): its
argmax is a rounding decision, not the network's.

The network and its constants come from the reference semantics of the
encoder (SURVEY.md A1.4, reference src/ner_model.cpp:315-425), not from
graft.ner.BertEncoder:
  embeddings = word + token_type[0] + position (counted within the document)
  -> LayerNorm (eps 1e-5)
  -> per layer: Q, K, V projections; per head softmax(q k^T / sqrt(d_head)) v;
     output projection + residual -> LayerNorm; FFN with the tanh GELU
     approximation + residual -> LayerNorm
  -> linear classifier.
Linear weights are HF row-major [out, in] (y = W x + b); the container
stores dims innermost first. F16 and Q4_0 tensors are decoded to float64
(Q4_0: per 32 values an f16 scale d, then 16 bytes whose low nibbles are
values 0..15 and high nibbles values 16..31, value = (q - 8) * d).
Tensors the encoder does not read (pooler.*) are ignored.

Deterministic: rerunning it reproduces the committed file byte for byte.
Usage: python3 tools/golden_oracle.py
"""
import os
import struct

import numpy as np

RES = os.path.join(os.path.dirname(__file__), "..", "src/test/resources/graft/ner")
MODEL = os.path.join(RES, "golden_converter_model.bin")
OUT = os.path.join(RES, "golden_oracle_logits.txt")

LN_EPS = 1e-5
LABEL_MARGIN = 1e-3

# token ids into the fixture's 16-entry vocab ([CLS] = 2, [SEP] = 3); the
# last sequence fills the 16-token context window
CASES = [
    [2, 4, 5, 3],
    [2, 12, 13, 3],
    [2, 14, 6, 7, 8, 9, 15, 3],
    [2, 10, 11, 12, 13, 14, 4, 5, 6, 7, 8, 9, 15, 1, 0, 3],
]


def read_model(path):
    with open(path, "rb") as f:
        buf = f.read()
    pos = 0

    def ints(n):
        nonlocal pos
        v = struct.unpack_from("<%di" % n, buf, pos)
        pos += 4 * n
        return v

    magic, = ints(1)
    assert magic == 0x67676D6C, "bad magic"
    keys = ["n_vocab", "n_max_tokens", "n_embd", "n_intermediate", "n_head",
            "n_layer", "f16", "n_labels"]
    hp = dict(zip(keys, ints(8)))
    for _ in range(hp["n_vocab"]):
        n, = ints(1)
        pos += n
    tensors = {}
    while pos < len(buf):
        n_dims, name_len, ftype = ints(3)
        dims = ints(n_dims)  # innermost first
        name = buf[pos:pos + name_len].decode("utf-8")
        pos += name_len
        numel = int(np.prod(dims))
        if ftype == 0:
            data = np.frombuffer(buf, "<f4", numel, pos).astype(np.float64)
            pos += 4 * numel
        elif ftype == 1:
            data = np.frombuffer(buf, "<f2", numel, pos).astype(np.float64)
            pos += 2 * numel
        elif ftype == 2:
            blocks = numel // 32
            raw = np.frombuffer(buf, np.uint8, blocks * 18, pos).reshape(blocks, 18)
            pos += blocks * 18
            d = raw[:, :2].copy().view("<f2").astype(np.float64)  # (blocks, 1)
            q = raw[:, 2:]
            vals = np.concatenate([(q & 0xF), (q >> 4)], axis=1).astype(np.float64)
            data = ((vals - 8.0) * d).reshape(-1)
        else:
            raise ValueError("ftype %d" % ftype)
        # numpy shape is outermost first
        tensors[name] = data.reshape(tuple(reversed(dims)))
    return hp, tensors


def layer_norm(x, g, b):
    mean = x.mean(axis=-1, keepdims=True)
    var = ((x - mean) ** 2).mean(axis=-1, keepdims=True)
    return (x - mean) / np.sqrt(var + LN_EPS) * g + b


def gelu(x):
    return 0.5 * x * (1.0 + np.tanh(np.sqrt(2.0 / np.pi) * (x + 0.044715 * x ** 3)))


def softmax(x):
    e = np.exp(x - x.max(axis=-1, keepdims=True))
    return e / e.sum(axis=-1, keepdims=True)


def forward(hp, t, ids):
    n = len(ids)
    d_head = hp["n_embd"] // hp["n_head"]

    def linear(x, name):
        return x @ t[name + ".weight"].T + t[name + ".bias"]

    h = (t["embeddings.word_embeddings.weight"][ids]
         + t["embeddings.token_type_embeddings.weight"][0]
         + t["embeddings.position_embeddings.weight"][:n])
    h = layer_norm(h, t["embeddings.LayerNorm.weight"], t["embeddings.LayerNorm.bias"])
    for i in range(hp["n_layer"]):
        p = "encoder.layer.%d." % i
        q = linear(h, p + "attention.self.query")
        k = linear(h, p + "attention.self.key")
        v = linear(h, p + "attention.self.value")
        att = np.zeros_like(h)
        for hd in range(hp["n_head"]):
            s = slice(hd * d_head, (hd + 1) * d_head)
            att[:, s] = softmax(q[:, s] @ k[:, s].T / np.sqrt(d_head)) @ v[:, s]
        h1 = layer_norm(linear(att, p + "attention.output.dense") + h,
                        t[p + "attention.output.LayerNorm.weight"],
                        t[p + "attention.output.LayerNorm.bias"])
        ff = linear(gelu(linear(h1, p + "intermediate.dense")), p + "output.dense")
        h = layer_norm(ff + h1, t[p + "output.LayerNorm.weight"],
                       t[p + "output.LayerNorm.bias"])
    return linear(h, "classifier")


def main():
    hp, t = read_model(MODEL)
    lines = ["# float64 logits of golden_converter_model.bin, written by "
             "tools/golden_oracle.py",
             "# one block per case: 'ids:', one row of n_labels logits per token,",
             "# then 'labels:' with each token's argmax ('-' where the top two",
             "# logits are closer than %g)" % LABEL_MARGIN]
    for ids in CASES:
        assert len(ids) <= hp["n_max_tokens"]
        lines.append("ids: " + " ".join(map(str, ids)))
        logits = forward(hp, t, ids)
        for row in logits:
            lines.append(" ".join("%.9e" % v for v in row))
        labels = []
        for row in logits:
            top2 = np.sort(row)[-2:]
            labels.append(str(int(np.argmax(row))) if top2[1] - top2[0] >= LABEL_MARGIN else "-")
        lines.append("labels: " + " ".join(labels))
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote %s (%d cases)" % (OUT, len(CASES)))


if __name__ == "__main__":
    main()
