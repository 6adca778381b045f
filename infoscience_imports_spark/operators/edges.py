"""The fuzzy rule families of the dedup cascade, composed once.

Reference semantics: an exact-key pass, then fuzzy passes, with verified
links merged into clusters (``deduplicator.py:117-139``). The exact pass is
:func:`~.verify.exact_edges`; this module builds the fuzzy ones — MinHash
LSH, bottom-k containment and SimHash — as signature-based candidate
generation plus one verification step. Both the batch pipeline's edges stage
(``plans/pipeline.py``) and the streaming deep compactor
(``streaming/incremental.py``) call :func:`rule_edges`, so the two can never
route, scope or gate a family differently.

Lives apart from ``verify.py`` because ``containment`` imports ``verify``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..caching import persist_tracked
from ..config import DedupConfig
from ..session import job_description
from . import containment as cont
from . import lsh
from . import verify


def _touched_keys(keys: DataFrame, scope: DataFrame) -> DataFrame:
    """Key rows of every (band, bucket) a scope doc touches. Key derivation
    is a narrow column explode; the semi-join prunes BEFORE the pairing
    aggregation, so the candidate shuffle is O(touched buckets)."""
    touched = (
        keys.join(scope, on="doc_id", how="left_semi").select("band", "bucket").distinct()
    )
    return keys.join(touched, on=["band", "bucket"], how="left_semi")


def _involving(pairs: DataFrame, scope: DataFrame) -> DataFrame:
    """Pairs with at least one side in ``scope`` (old-old pairs in a touched
    bucket were verified by the pass that set the deep watermark)."""
    p1 = pairs.join(scope.select(F.col("doc_id").alias("id1")), on="id1", how="left_semi")
    p2 = pairs.join(scope.select(F.col("doc_id").alias("id2")), on="id2", how="left_semi")
    return p1.unionByName(p2).distinct()


def rule_edges(
    reps: DataFrame,
    texts: DataFrame,
    buckets: DataFrame,
    cfg: DedupConfig,
    scope: DataFrame | None = None,
    n_docs_hint: int | None = None,
) -> tuple[DataFrame, int, bool]:
    """Verified fuzzy + SimHash edges ``(id1, id2, jaccard, rule)``.

    ``reps`` carries the signature columns of the docs to link (doc_id,
    bottomk, n_shingles, simhash64), ``texts`` their (doc_id, text_norm) and
    ``buckets`` the MinHash (doc_id, band, bucket) rows. Returns the edges
    plus ``(n_cands, small)``: the gated candidate count and whether it fell
    under ``cfg.broadcast_pair_limit`` (the broadcast-verify branch).

    ``scope`` (a frame of doc_ids) restricts the output to pairs involving a
    scope doc: MinHash and SimHash pairing runs only over the (band, bucket)
    keys scope docs touch, and containment uses the stored-shingle probe
    form (:func:`~.containment.containment_candidates_scoped`).
    ``n_docs_hint`` sizes the unscoped containment Bloom filter without a
    count job.
    """
    sim_keys = lsh.simhash_band_keys(reps, cfg)
    if scope is not None:
        scope = scope.select("doc_id")
        buckets = _touched_keys(buckets, scope)
        sim_keys = _touched_keys(sim_keys, scope)

    # NB: one unified candidate_pairs over a banded union of both LSH
    # families was tried (round 3) and REVERTED: the per-family subtrees
    # below evaluate concurrently inside the single gated count job
    # (independent stages of one job fill idle cores), and the union
    # serialized that work through one longer shuffle chain — measured
    # edges 8.2 s -> 11.0 s at 20k pages. Shuffle COUNT is not the
    # bottleneck here; concurrent stage occupancy is.
    #
    # The three family CONSTRUCTORS each run bounded eager driver jobs
    # (hot-slice probe collects; the containment Bloom treeReduce)
    # before the gated count job ever starts. Serially those probes
    # measured 0.96 + 0.88 + 1.35 s at 20k pages on 32 cores — none of
    # them fills the machine, so they back-fill each other from a small
    # thread pool (guide §2.6 "overlap independent jobs").
    # inheritable_thread_target propagates the caller's job group to
    # the pool threads, keeping bench fingerprint attribution intact.
    def _build_minhash():
        return lsh.candidate_pairs(buckets, cfg).select(
            "id1", "id2", F.lit("minhash").alias("rule")
        )

    def _build_contain():
        if scope is None:
            cands = cont.containment_candidates(reps, texts, cfg, n_docs_hint=n_docs_hint)
        else:
            cands = cont.containment_candidates_scoped(reps, texts, scope, cfg)
        return cands.select(
            F.col("small_id").alias("id1"),
            F.col("big_id").alias("id2"),
            F.lit("contain").alias("rule"),
        )

    def _build_simhash():
        return lsh.candidate_pairs(sim_keys, cfg).select(
            "id1", "id2", F.lit("simhash").alias("rule")
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_mh = pool.submit(inheritable_thread_target(_build_minhash))
        f_ct = pool.submit(inheritable_thread_target(_build_contain))
        f_sh = pool.submit(inheritable_thread_target(_build_simhash))
        minhash_pairs = f_mh.result()
        contain_cand = f_ct.result()
        sim_pairs = f_sh.result()
    # ONE gated candidate frame for all three fuzzy rules: a single
    # persist+count job evaluates the minhash/containment/simhash
    # candidate subtrees concurrently (independent stages of one job fill
    # idle cores), where per-rule gates would chain three serial jobs.
    cands = minhash_pairs.unionByName(contain_cand).unionByName(sim_pairs)
    if scope is not None:
        cands = _involving(cands, scope)
    cands = persist_tracked(cands)
    with job_description(cands.sparkSession, "rule_edges: gated candidate count"):
        n_cands = cands.count()
    small = n_cands <= cfg.broadcast_pair_limit
    fz_pairs = cands.filter(F.col("rule") != "simhash")
    sh_pairs = cands.filter(F.col("rule") == "simhash").select("id1", "id2")
    if small:
        fz_pairs = fz_pairs.hint("broadcast")
    # both fuzzy rules verify in ONE kernel pass over ONE pair of text
    # joins (operators/verify.py verify_tagged_pairs)
    fuzzy = verify.verify_tagged_pairs(fz_pairs, texts, cfg, pregated=True)
    simhash = lsh.hamming_edges(sh_pairs, reps, cfg, gated=small).select(
        "id1",
        "id2",
        (F.lit(1.0) - F.col("hamming") / F.lit(64.0)).alias("jaccard"),
        F.lit("simhash").alias("rule"),
    )
    return fuzzy.unionByName(simhash), n_cands, small
