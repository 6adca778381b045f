"""``functions`` layer: per-document CPU of the Python/NumPy kernels.

Times each kernel with ``time.process_time`` on one thread over a fixed
sample of the ``batch_mixed`` corpus (the same ``gen_row`` pages, chosen by
the corpus's interleave permutation), the way
``scripts/microbench_kernels.py`` does. Each kernel runs three times and the
fastest pass counts. Results are microseconds per document, except
``substring``, which is per containment candidate (the planted CONTAIN pairs
of the sample: a 30-45% slice and the page it was cut from).
"""

from __future__ import annotations

import time

import numpy as np


def _best_us(fn, items, repeat: int = 3) -> float:
    best = float("inf")
    for _ in range(repeat):
        t0 = time.process_time()
        fn(items)
        best = min(best, time.process_time() - t0)
    return best / max(1, len(items)) * 1e6


def run(corpus_pages: int, seed: int, sample: int = 400) -> dict[str, float]:
    from infoscience_imports_spark.config import DedupConfig
    from infoscience_imports_spark.functions.minhash import minhash_signature, perm_params
    from infoscience_imports_spark.functions.shingles import shingle_hashes, token_hashes
    from infoscience_imports_spark.functions.simhash import simhash64
    from infoscience_imports_spark.functions.substring import contains_substring
    from infoscience_imports_spark.functions.text import extract_text_py, normalize_text_py
    from infoscience_imports_spark.operators.signatures import band_keys
    from infoscience_imports_spark.sources.synthetic import _class_of, _interleave_prime, _vocab, gen_row

    cfg = DedupConfig()
    n = corpus_pages
    vocab = _vocab(seed)
    prime = _interleave_prime(n)
    step = max(1, n // sample)
    ids = [(j * prime) % n for j in range(0, n, step)][:sample]
    htmls = [gen_row(i, n, seed, vocab)["html"] for i in ids]
    extracted = [extract_text_py(h) for h in htmls]
    texts = [normalize_text_py(t) for t in extracted]
    toks = [t.split() for t in texts]
    a, b = perm_params(cfg)

    def shingle(items):
        memo: dict[str, int] = {}
        return [shingle_hashes(token_hashes(t, memo), cfg.shingle_k) for t in items]

    shingles = shingle(toks)
    memo: dict[str, int] = {}
    heads = [token_hashes(t, memo)[:12] for t in toks]

    def minhash(items):
        sigs = [minhash_signature(s, a, b) for s in items]
        return band_keys(np.stack(sigs), cfg.lsh_bands)

    # planted containment pairs: member 1 of a CONTAIN group is a slice of member 0
    pairs = []
    for i in range(n - 1):
        name, _g, member = _class_of(i, n)
        if name == "CONTAIN" and member == 0 and _class_of(i + 1, n)[0] == "CONTAIN":
            big, small = (normalize_text_py(gen_row(k, n, seed, vocab)["text"]) for k in (i, i + 1))
            pairs.append((small, big))
            if len(pairs) >= 200:
                break

    return {
        "kernel.extract_us": _best_us(lambda xs: [extract_text_py(h) for h in xs], htmls),
        "kernel.normalize_us": _best_us(lambda xs: [normalize_text_py(t) for t in xs], extracted),
        "kernel.shingle_us": _best_us(shingle, toks),
        "kernel.minhash_us": _best_us(minhash, shingles),
        "kernel.simhash_us": _best_us(lambda xs: [simhash64(h) for h in xs], heads),
        "kernel.substring_us": _best_us(lambda xs: [contains_substring(s, g) for s, g in xs], pairs),
    }
