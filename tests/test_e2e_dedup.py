"""End-to-end cluster-assignment tests against an independent brute-force oracle.

Per FIXTURES.md §1: the oracle is O(n^2) exact Jaccard (tuple shingles — no
hashing, so it is implementation-independent) + containment + exact-text +
SimHash-title rules, closed with union-find. Asserts dup-pair recall >= 0.99
(BASELINE.json metric) and exact agreement with planted classes.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from infoscience_imports_spark.config import DedupConfig
from infoscience_imports_spark.functions.simhash import hamming64, simhash64
from infoscience_imports_spark.functions.shingles import token_hashes
from infoscience_imports_spark.functions.text import normalize_text_py, extract_text_py
from infoscience_imports_spark.plans.pipeline import DedupPipeline
from infoscience_imports_spark.sources.catalog import CheckpointStore
from infoscience_imports_spark.sources.synthetic import pipeline_input, true_pairs


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _tuple_shingles(text: str, k: int = 5) -> set:
    toks = text.split()
    if not toks:
        return set()
    if len(toks) < k:
        return {tuple(toks)}
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


@pytest.fixture(scope="module")
def pipeline_run(spark, tiny_pages):
    cfg = DedupConfig()
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix="wh-e2e-"))
    pipe = DedupPipeline(spark, store, cfg, input_fingerprint="e2e200")
    pipe.run(pipeline_input(tiny_pages))
    return pipe, cfg


def _oracle_clusters(rows, cfg):
    """Independent dup graph: exact, jaccard>=thr, substring, simhash<=r."""
    uf = UnionFind()
    docs = []
    for r in rows:
        norm = normalize_text_py(extract_text_py(bytes(r["html"])))
        toks = norm.split()
        docs.append(
            {
                "id": r["doc_id"],
                "norm": norm,
                "sh": _tuple_shingles(norm, cfg.shingle_k),
                "title_fp": simhash64(token_hashes(toks[:12])),
            }
        )
        uf.find(r["doc_id"])
    n = len(docs)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = docs[i], docs[j]
            if a["norm"] == b["norm"]:
                uf.union(a["id"], b["id"])
                continue
            inter = len(a["sh"] & b["sh"])
            if inter:
                jac = inter / (len(a["sh"]) + len(b["sh"]) - inter)
                if jac >= cfg.jaccard_threshold:
                    uf.union(a["id"], b["id"])
                    continue
                small, big = (a, b) if len(a["sh"]) <= len(b["sh"]) else (b, a)
                if (
                    len(small["sh"]) > 0
                    and inter / len(small["sh"]) >= cfg.containment_threshold
                    and small["norm"] in big["norm"]
                ):
                    uf.union(a["id"], b["id"])
                    continue
            if hamming64(a["title_fp"], b["title_fp"]) <= cfg.simhash_hamming_max:
                uf.union(a["id"], b["id"])
    return {d["id"]: uf.find(d["id"]) for d in docs}


def test_recall_vs_planted_truth(spark, tiny_pages, pipeline_run):
    pipe, _ = pipeline_run
    clusters = pipe.clusters()
    tp = true_pairs(tiny_pages)
    j = (
        tp.join(
            clusters.withColumnRenamed("doc_id", "id1").withColumnRenamed("cluster_id", "c1"),
            "id1",
        ).join(
            clusters.withColumnRenamed("doc_id", "id2").withColumnRenamed("cluster_id", "c2"),
            "id2",
        )
    )
    stats = j.agg(
        F.avg((F.col("c1") == F.col("c2")).cast("double")).alias("recall"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert stats["n"] > 50
    assert stats["recall"] >= 0.99


def test_unique_docs_stay_singletons(spark, tiny_pages, pipeline_run):
    pipe, _ = pipeline_run
    clusters = pipe.clusters()
    uniq = tiny_pages.filter(F.col("dup_class") == "UNIQUE").select(
        F.xxhash64("url").alias("doc_id")
    )
    merged = (
        uniq.join(clusters, "doc_id")
        .groupBy("cluster_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert merged == 0


def test_cluster_assignments_match_bruteforce_oracle(spark, tiny_pages, pipeline_run):
    pipe, cfg = pipeline_run
    rows = tiny_pages.select(
        F.xxhash64("url").alias("doc_id"), "html"
    ).collect()
    oracle = _oracle_clusters(rows, cfg)

    got = {r["doc_id"]: r["cluster_id"] for r in pipe.clusters().collect()}
    assert set(got) == set(oracle)

    # compare as partitions (cluster-id choice is min-id in both — compare sets)
    def parts(assign):
        inv = {}
        for k, v in assign.items():
            inv.setdefault(v, set()).add(k)
        return {frozenset(v) for v in inv.values()}

    oracle_parts = parts(oracle)
    got_parts = parts(got)
    # recall: every oracle co-pair must be co-clustered in got
    oracle_pairs = {
        (min(a, b), max(a, b))
        for grp in oracle_parts
        for a in grp
        for b in grp
        if a < b
    }
    got_pairs = {
        (min(a, b), max(a, b))
        for grp in got_parts
        for a in grp
        for b in grp
        if a < b
    }
    missed = oracle_pairs - got_pairs
    extra = got_pairs - oracle_pairs
    recall = 1 - len(missed) / max(1, len(oracle_pairs))
    assert recall >= 0.99, f"missed {len(missed)} of {len(oracle_pairs)}"
    assert not extra, f"pipeline merged {len(extra)} pairs the oracle would not"


def test_determinism_two_runs_identical(spark, tiny_pages):
    cfg = DedupConfig()
    outs = []
    for run in range(2):
        store = CheckpointStore(spark, tempfile.mkdtemp(prefix=f"wh-det{run}-"))
        pipe = DedupPipeline(spark, store, cfg, input_fingerprint="det200")
        pipe.run(pipeline_input(tiny_pages).repartition(4 if run == 0 else 7))
        outs.append(sorted((r["doc_id"], r["cluster_id"]) for r in pipe.clusters().collect()))
    assert outs[0] == outs[1]


def test_cc_fast_path_matches_distributed(spark):
    """The size-gated driver union-find and the large-star/small-star
    iteration must produce identical assignments (same min-root rule)."""
    from infoscience_imports_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 30), (5, 4), (100, 3), (11, 12), (12, 1000)],
        "id1 long, id2 long",
    )
    fast = sorted(
        tuple(r) for r in connected_components(edges, DedupConfig()).collect()
    )
    forced = DedupConfig(cc_local_max_edges=0, salt_min_edges=0)
    dist = sorted(tuple(r) for r in connected_components(edges, forced).collect())
    assert fast == dist
    assert fast[0] == (1, 1)


def test_grouped_pair_recall_matches_explicit_join(spark, tiny_pages, pipeline_run):
    """grouped_pair_recall must equal the quadratic true_pairs join exactly —
    it is the production-soak scorer, where the explicit join is infeasible
    (HOT is C(100k, 2) pairs at 2M pages)."""
    from infoscience_imports_spark.sources.synthetic import grouped_pair_recall

    pipe, _ = pipeline_run
    clusters = pipe.clusters()
    tp = true_pairs(tiny_pages)
    j = (
        tp.join(
            clusters.withColumnRenamed("doc_id", "id1").withColumnRenamed("cluster_id", "c1"),
            "id1",
        ).join(
            clusters.withColumnRenamed("doc_id", "id2").withColumnRenamed("cluster_id", "c2"),
            "id2",
        )
    )
    n_true = j.count()
    n_hit = j.filter(F.col("c1") == F.col("c2")).count()
    r, n = grouped_pair_recall(tiny_pages, clusters)
    assert n == n_true
    assert abs(r - n_hit / max(1, n_true)) < 1e-12

    # and on an adversarial split assignment (group halves in two clusters)
    ids = tiny_pages.select(
        F.xxhash64("url").alias("doc_id"), "group_key", "dup_class"
    )
    split = ids.select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(2)) == 0, F.xxhash64("group_key"))
        .otherwise(F.xxhash64("group_key") + 1)
        .alias("cluster_id"),
    )
    j2 = (
        tp.join(split.withColumnRenamed("doc_id", "id1").withColumnRenamed("cluster_id", "c1"), "id1")
        .join(split.withColumnRenamed("doc_id", "id2").withColumnRenamed("cluster_id", "c2"), "id2")
    )
    want = j2.filter(F.col("c1") == F.col("c2")).count() / max(1, j2.count())
    got, _ = grouped_pair_recall(tiny_pages, split)
    assert abs(got - want) < 1e-12


def test_width_scale_widens_groups_and_dedups_clean(spark):
    """width_scale multiplies planted group widths (the dup-heavier mix for
    the production-gate soak) without breaking class semantics: the pipeline
    still reaches recall 1.0 and UNIQUE docs stay singletons."""
    from infoscience_imports_spark.sources.synthetic import (
        generate_web_pages,
        grouped_pair_recall,
    )

    pages = generate_web_pages(spark, 400, seed=13, width_scale=3).cache()
    sizes = {
        r["n"]
        for r in pages.filter(~F.col("dup_class").isin("UNIQUE", "HOT"))
        .groupBy("group_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sizes <= {6, 9}, sizes  # pair classes -> 2*3, CHAIN -> 3*3
    wh = tempfile.mkdtemp(prefix="ws-")
    pipe = DedupPipeline(
        spark, CheckpointStore(spark, wh), DedupConfig(shuffle_partitions=8)
    )
    pipe.run(pipeline_input(pages))
    r, n = grouped_pair_recall(pages, pipe.clusters())
    assert n > 0 and r == 1.0
    pages.unpersist()


def test_candidate_pairs_no_self_pairs_on_duplicate_bucket_rows(spark):
    """Regression (round-5 ADVICE): duplicate (band, bucket, doc_id) input
    rows must not produce id1 == id2 self-pairs from the array-based pair
    generator — the replaced self-join's strict doc_id< filter suppressed
    them, and the rewrite's contract must match under any input."""
    from infoscience_imports_spark.operators.lsh import candidate_pairs

    rows = [
        (0, "b0", 1), (0, "b0", 1), (0, "b0", 2),   # dup row for doc 1
        (1, "b1", 3), (1, "b1", 3),                  # bucket with ONLY a dup row
        (2, "b2", 4),
    ]
    buckets = spark.createDataFrame(rows, "band int, bucket string, doc_id bigint")
    got = {(r["id1"], r["id2"]) for r in candidate_pairs(buckets).collect()}
    assert got == {(1, 2)}, got


def _bucket_pairs_reference(rows, cap):
    """Brute force per bucket: all pairs at <= cap docs, else the star
    against the bucket's min and max doc_id."""
    from collections import defaultdict
    from itertools import combinations

    members = defaultdict(set)
    for band, bucket, doc in rows:
        members[(band, bucket)].add(doc)
    pairs = set()
    for docs in members.values():
        if len(docs) <= cap:
            pairs |= set(combinations(sorted(docs), 2))
        else:
            pairs |= {
                (min(d, h), max(d, h)) for d in docs for h in (min(docs), max(docs)) if d != h
            }
    return pairs


@pytest.mark.parametrize("hot", [False, True], ids=["no_hot_bucket", "hot_bucket"])
def test_candidate_pairs_matches_bruteforce_on_every_hot_slice_path(spark, hot):
    """All three probe branches give the brute-force pair set: no hot
    bucket (direct pairing), a hot slice under ``hot_collect_limit`` (a
    JVM-side literal, no Python-built RDD) and one above it (the plan
    subtree, forced with ``hot_collect_limit=0``). The exact mode pairs
    every bucket all-vs-all at any size, with no star and no join."""
    import random
    from collections import Counter

    from infoscience_imports_spark.operators.lsh import all_key_pairs, candidate_pairs

    cap = 4
    rnd = random.Random(7)
    rows = [(band, rnd.randrange(40), doc) for doc in range(60) for band in range(3)]
    sizes = Counter((band, bucket) for band, bucket, _ in rows)
    # keep the cold table under the cap, then plant one bucket above it
    rows = [r for r in rows if sizes[r[:2]] <= cap]
    if hot:
        rows += [(9, 0, doc) for doc in range(100, 100 + 3 * cap)]
    # a parquet scan: the only in-memory relation a plan can then hold is
    # the hot-slice literal itself
    path = tempfile.mkdtemp(prefix="cand-buckets-")
    spark.createDataFrame(rows, "band int, bucket long, doc_id bigint").write.mode(
        "overwrite"
    ).parquet(path)
    buckets = spark.read.parquet(path)
    want = _bucket_pairs_reference(rows, cap)
    assert want

    for limit in (100_000, 0):
        out = candidate_pairs(buckets, DedupConfig(bucket_cap=cap, hot_collect_limit=limit))
        got = [(r["id1"], r["id2"]) for r in out.collect()]
        assert len(got) == len(set(got))
        assert set(got) == want, (hot, limit)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan
        if not hot:
            assert "Join" not in plan, plan
        else:
            assert ("LocalRelation" in plan) == bool(limit), plan

    exact = all_key_pairs(buckets)
    got = [(r["id1"], r["id2"]) for r in exact.collect()]
    assert len(got) == len(set(got))
    assert set(got) == _bucket_pairs_reference(rows, cap=len(rows))
    assert "Join" not in exact._jdf.queryExecution().optimizedPlan().toString()
    shutil.rmtree(path)


def test_pipeline_and_deep_compactor_build_the_same_edges(spark):
    """The batch edges stage and an unscoped deep compaction compose the
    fuzzy rule families in one place (operators/edges.py), so on the same
    corpus they must link the same pairs: both keep the min doc_id per
    content digest, so their representatives match. A scope covering every
    doc must not change the pair set either."""
    from infoscience_imports_spark.operators import lsh
    from infoscience_imports_spark.operators.edges import rule_edges
    from infoscience_imports_spark.sources.synthetic import generate_web_pages
    from infoscience_imports_spark.streaming.incremental import IncrementalNearDedup

    cfg = DedupConfig(shuffle_partitions=8)
    pages = pipeline_input(generate_web_pages(spark, 300, seed=19, interleave=True)).cache()
    store = CheckpointStore(spark, tempfile.mkdtemp(prefix="wh-parity-"))
    pipe = DedupPipeline(spark, store, cfg, input_fingerprint="parity300")
    pipe.run(pages)
    batch_pairs = {
        (r["id1"], r["id2"])
        for r in store.read("edges", pipe.fingerprint("edges"))
        .filter(F.col("rule") != "exact")
        .collect()
    }
    assert {"minhash", "contain", "simhash"} <= {
        r["rule"] for r in store.read("edges", pipe.fingerprint("edges")).collect()
    }

    inc = IncrementalNearDedup(spark, tempfile.mkdtemp(prefix="stream-parity-"), cfg)
    inc.process_batch(pages, 0)
    deep_pairs = {(r["id1"], r["id2"]) for r in inc._deep_edges().distinct().collect()}
    assert deep_pairs == batch_pairs

    state = spark.read.parquet(inc.docsig_dir).cache()
    texts = state.select("doc_id", "text_norm")
    buckets = lsh.band_buckets(state, cfg)

    def pairs(scope):
        edges, _, _ = rule_edges(state, texts, buckets, cfg, scope)
        return {(r["id1"], r["id2"]) for r in edges.select("id1", "id2").distinct().collect()}

    assert pairs(state.select("doc_id")) == pairs(None) == deep_pairs
    state.unpersist()
