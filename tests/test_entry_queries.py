"""Driver-contract tests: entry() smoke + Spark-vs-DuckDB parity subset.

Full parity (every oracle at sf0.001 and sf0.01) runs via
``python scripts/check_parity.py``; here a representative subset keeps the
suite fast while still catching contract regressions.
"""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from scripts.check_parity import TABLES, value_hash

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "dedup_exact_groups",
    "decontaminate_docs",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "embedding_neardup_lsh",
    "dedup_simhash_title",
    "text_fingerprints",
    "containment_substring",
    "text_lang_id",
    "text_quality",
    "text_topgrams",
    "ann_cosine_topk",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_sessionize",
    "orders_running_window",
    "nation_rollup",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"cluster_id", "n_docs", "members"}
    for r in rows:
        assert r["n_docs"] > 1 and len(r["members"]) == r["n_docs"]


def test_every_query_has_callable_and_most_have_oracles():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)
    # the vast majority must be SQL-checkable (weaker rows-only is exceptional)
    assert len(oracles) >= len(qs) - 4


@pytest.mark.parametrize("name", SUBSET)
def test_parity_subset(spark, duck, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    sdf = fn(spark, SF_DIR)
    rows = [tuple(r) for r in sdf.collect()]
    odf = duck.sql(sql)
    orows = [tuple(r) for r in odf.fetchall()]
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(rows) == len(orows)
    assert value_hash(rows, sdf.columns) == value_hash(orows, odf.columns)


def test_prefix_filter_exact_at_float_boundary(spark, tmp_path):
    """J(A,B) exactly at the threshold must survive the prefix/length
    filters even when the threshold*size double rounds up (0.8*10 >
    8.0): 12-token A gives 8 shingles, A+2 tokens gives 10, J = 8/10."""
    import __spark_entry__ as E

    toks_a = [f"w{i:02d}" for i in range(12)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks_a)), (2, " ".join(toks_a + ["x1", "x2"]))],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = E._bruteforce_jaccard_pairs(spark, str(tmp_path), threshold=0.8).collect()
    assert [(r["id1"], r["id2"], r["jaccard"]) for r in out] == [(1, 2, 0.8)]


def test_prefix_filter_matches_bruteforce_across_thresholds(spark, tmp_path):
    """The prefix-filtered AllPairs plan must equal an independent pandas
    brute force (same frozen shingle kernels) at every threshold — guards
    the prefix-length/length-filter arithmetic, not just one operating
    point."""
    import itertools

    import numpy as np

    import __spark_entry__ as E
    from infoscience_imports_spark.functions.shingles import text_shingles
    from infoscience_imports_spark.functions.text import normalize_text_py

    rng = np.random.default_rng(7)
    vocab = [f"t{i:02d}" for i in range(30)]
    texts = []
    for i in range(24):
        n = int(rng.integers(6, 40))
        toks = [vocab[int(x)] for x in rng.integers(0, len(vocab), n)]
        texts.append((i, " ".join(toks)))
        if i % 3 == 0:  # planted near-dup: drop/flip a couple of tokens
            mod = list(toks)
            if len(mod) > 7:
                mod[-1] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append((100 + i, " ".join(mod)))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    sh = {}
    for i, t in texts:
        arr = text_shingles(normalize_text_py(t), 5)
        if arr.size:
            sh[i] = set(arr.tolist())

    for thr in (0.5, 0.6, 0.7, 0.75, 0.8, 0.9):
        expected = set()
        for a, b in itertools.combinations(sorted(sh), 2):
            inter = len(sh[a] & sh[b])
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= thr:
                expected.add((a, b))
        got = {
            (r["id1"], r["id2"])
            for r in E._bruteforce_jaccard_pairs(spark, str(tmp_path), threshold=thr).collect()
        }
        assert got == expected, (thr, got ^ expected)


def test_t_par_unknown_size_adds_no_repartition(spark, tmp_path, monkeypatch):
    """The `_t_par` gate fails closed: a table whose size probe reads 0
    bytes (empty or unlistable path) is returned as scanned, while the same
    small table measured at its real size still gets the repartition."""
    import os

    import __spark_entry__ as E

    spark.range(10).write.parquet(str(tmp_path / "t.parquet"))

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert "Repartition" in plan(E._t_par(spark, str(tmp_path), "t", key="id"))
    monkeypatch.setattr(os.path, "getsize", lambda _p: 0)
    assert "Repartition" not in plan(E._t_par(spark, str(tmp_path), "t", key="id"))
    monkeypatch.setattr(os, "walk", lambda _p: iter(()))
    assert "Repartition" not in plan(E._t_par(spark, str(tmp_path), "t"))
