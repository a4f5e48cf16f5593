"""Seeded inputs for the benchmark: the text and vector corpus of
llm_dedup and the faults the pipeline workloads inject into the raw
JSONL that the program's own generator writes.

Everything here is plain Python/NumPy/pyarrow; none of it calls into the
program, so the program only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_LANGS = ["en", "de", "es", "fr", "zh"]


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int, order_seed: int) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` shaped like the
    repository's test tables (sf0.001 to sf0.1), as measured on them:
    10-99 words per document drawn uniformly from a 30-word vocabulary;
    5 % of documents are a copy of another with " dup" appended (3-shingle
    Jaccard ~0.98 to their source, ~0.03 between unrelated documents);
    lang 40 % en and 15 % each de/es/fr/zh; source ``src{doc_id % 20}``;
    i.i.d. Gaussian unit vectors in 64 dimensions (top-5 cosine ~0.3) with
    labels 0-9 unrelated to them. Content depends on ``seed`` only;
    ``order_seed`` permutes the rows."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
                     "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                     "source": [f"src{i % 20}" for i in range(n_docs)],
                     "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vecs = rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({"vec_id": np.arange(n_vecs, dtype=np.int64),
                     "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                     "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    order = np.random.default_rng(order_seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("documents", docs), ("embeddings", embs)):
        pq.write_table(table.take(order.permutation(table.num_rows)), os.path.join(out_dir, f"{name}.parquet"))


# --- fault injection --------------------------------------------------------

# One mutation per validation rule of functions/validate.py, in rule order.
_MUTATIONS = (
    lambda o: o.__setitem__("total_amount", 0.0),
    lambda o: o.__setitem__("order_id", ""),
    lambda o: o.__setitem__("items", []),
    lambda o: o.__setitem__("subtotal", round(o["subtotal"] + 7.5, 2)),
)


def inject_faults(lines: list[str], seed: int, invalid_share: float, corrupt_share: float
                  ) -> tuple[list[str], set[int], int]:
    """Mutate a seeded share of order lines (cycling through the four
    validation rules) and insert a seeded share of malformed lines.
    Returns (lines, indices of the mutated input lines, n_corrupt)."""
    rnd = random.Random(seed)
    bad = sorted(rnd.sample(range(len(lines)), max(1, round(len(lines) * invalid_share))))
    out = list(lines)
    for k, i in enumerate(bad):
        order = json.loads(out[i])
        _MUTATIONS[k % 4](order)
        out[i] = json.dumps(order)
    n_corrupt = max(1, round(len(lines) * corrupt_share))
    for k in range(n_corrupt):
        out.insert(rnd.randrange(len(out) + 1),
                   f'{{"order_id": "ORD-TRUNC-{k}", "total_amount": ' if k % 2 else f"garbage-{seed}-{k}")
    return out, set(bad), n_corrupt


def lines_digest(lines) -> str:
    """Order-insensitive digest of JSONL lines: sum of per-line md5
    prefixes modulo 2**64."""
    acc = 0
    for line in lines:
        acc = (acc + int(hashlib.md5(line.encode()).hexdigest()[:16], 16)) % (1 << 64)
    return f"{acc:016x}"
