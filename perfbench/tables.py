"""Seeded generator for the two tables the ``entry_queries`` workload reads.

Writes ``<dir>/documents.parquet`` and ``<dir>/embeddings.parquet`` with the
schema of the repository's test data (``doc_id, text, lang, source,
n_chars`` and ``vec_id, embedding float[64], label``), shaped after its sf0.1
tables as measured there (see README.md, "entry_queries tables"):

* ``documents``: 5000 rows by default; 10-100 tokens a document, uniform,
  drawn uniformly from a 31-word vocabulary; ``lang`` 41% ``en`` and the rest
  split evenly over ``de``, ``es``, ``fr`` and ``zh``; 20 sources in turn.
  About 9.5% of the documents sit in planted near-duplicate groups of 2-4
  (mostly 2): each member is a copy of the group's base text with one token
  appended or the last token dropped (about 2.5% of them unchanged), so
  every member is also a prefix slice of the longest one;
* ``embeddings``: 2 rows for every 5 documents; independent unit Gaussian
  vectors (no planted near-copies, as in the test data) and a label 0-9.

:func:`write_tables` returns ``doc_id -> group`` for the planted groups: the
ground truth of the MinHash clustering (``dedup_clusters``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data table row column key value part order line customer query "
    "scan join sort merge hash group agg filter window stream batch spark "
    "vector fast slow big small dup"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64
MIN_TOKENS, MAX_TOKENS = 10, 100
# groups of 2, 3 and 4 members in the test data's proportions (223 : 9 : 1)
GROUP_SIZES, GROUP_P = [2, 3, 4], [223 / 233, 9 / 233, 1 / 233]
GROUPED_SHARE = 0.095
UNCHANGED_P = 0.025


def _documents(rng, n: int) -> tuple[dict, dict[int, str]]:
    """Documents with planted groups; returns (columns, doc_id -> group)."""
    words = np.array(WORDS)

    def body(length: int) -> list[str]:
        return list(words[rng.integers(0, len(WORDS), size=length)])

    texts = [body(int(k)) for k in rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)]
    truth: dict[int, str] = {}
    order = iter(rng.permutation(n))
    placed, g = 0, 0
    while placed < GROUPED_SHARE * n - 2:
        size = int(rng.choice(GROUP_SIZES, p=GROUP_P))
        ids = [int(next(order)) for _ in range(size)]
        base = texts[ids[0]][: MAX_TOKENS - 1]
        texts[ids[0]] = base
        for i in ids[1:]:
            edit = rng.random()
            if edit < UNCHANGED_P:
                texts[i] = list(base)
            elif edit < (1 + UNCHANGED_P) / 2 or len(base) <= MIN_TOKENS:
                texts[i] = base + body(1)
            else:
                texts[i] = base[:-1]
        for i in ids:
            truth[i] = f"g{g}"
        placed += size
        g += 1
    text = [" ".join(t) for t in texts]
    cols = {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }
    return cols, truth


def _embeddings(rng, n: int) -> dict:
    v = rng.standard_normal((n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = v.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    }


def write_tables(out_dir: str, n_docs: int, seed: int) -> tuple[dict[int, str], dict[str, int]]:
    """Write ``documents`` (``n_docs`` rows) and ``embeddings`` (2 rows per 5
    documents); returns (doc truth, table rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 20260101])
    n_emb = max(1, n_docs * 2 // 5)
    doc_cols, truth = _documents(rng, n_docs)
    tables = {"documents": doc_cols, "embeddings": _embeddings(rng, n_emb)}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return truth, {"documents": n_docs, "embeddings": n_emb}
