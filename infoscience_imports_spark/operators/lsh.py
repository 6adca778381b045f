"""Stage 3 — LSH banding, bucketing, and candidate-pair generation.

Web-scale analogue of the reference's fuzzy candidate search (title +
year±1 Solr query per record, ``clients/dspace_client_wrapper.py:95-116``):
instead of one remote lookup per row, signatures are banded (b=32 x r=4) and
docs sharing any band bucket become candidate pairs — one shuffle keyed by
(band, bucket) groups each bucket into a bounded array whose C(c,2)
combinations are emitted map-side (no self-join; round 4).

Skew story (north_rule: "salted keys to defuse hot-bucket skew"):
  - buckets are counted first; buckets <= cap pair all-vs-all (pair
    generation is quadratic only within a bucket);
  - hot buckets (boilerplate pages land here) switch to bounded-degree *star
    pairing* against the ``hub_count`` smallest doc_ids — this preserves
    connectivity for the components stage (what dedup needs) without the
    O(c^2) blowup;
  - AQE skew-join splitting stays on for residual imbalance.

Also hosts the SimHash band path for short title-like fields: Manku-style
block-combination tables (radius+3 blocks, keys over every 3-combination of
block values) make the band-key match an exact superset of the Hamming ball
with ~32-bit keys — random collisions stay ~corpus^2/2^32 instead of the
corpus^2/2^16 blowup of single 16-bit bands — and a JVM-side
``bit_count(xor) <= radius`` filter removes the false positives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig, DEFAULT_CONFIG
from ..session import job_description


def band_buckets(signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """signatures -> (doc_id, band, bucket) — one row per (doc, band).

    Fast path: the signature kernel pre-computes the band keys
    (``bands`` column, operators/signatures.py ``band_keys``), so this stage
    is a pure narrow-column explode. Fallback (snapshots written before the
    column existed): key = xxhash64(band index, the r signature values),
    computed JVM-side from the stored ``minhash`` array.
    """
    if "bands" in signatures.columns:
        return signatures.select(
            "doc_id", F.posexplode("bands").alias("band", "bucket")
        )
    r = cfg.lsh_rows
    bucket_cols = F.array(
        *[
            F.xxhash64(F.lit(i), F.slice(F.col("minhash"), i * r + 1, r))
            for i in range(cfg.lsh_bands)
        ]
    )
    return signatures.select(
        "doc_id", F.posexplode(bucket_cols).alias("band", "bucket")
    )


def pair_combinations_expr(col: str = "members") -> Column:
    """C(n,2) ordered pairs from a SORTED DISTINCT array column, emitted
    map-side by higher-order functions (no join, no shuffle beyond the
    aggregation that built the array). ``struct(id1, id2)`` rows with
    id1 < id2 guaranteed by the sort + strict slice offset. Shared by
    :func:`candidate_pairs` and the pipeline's bounded
    ``duplicate_pairs()`` recall frame."""
    return F.expr(
        f"flatten(transform({col}, (x, i) -> "
        f"transform(slice({col}, i + 2, size({col})), "
        "y -> struct(x AS id1, y AS id2))))"
    )


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(band, bucket, doc_id) -> distinct (id1, id2) with id1 < id2.

    Hot-bucket detection uses ONE stats pass (count + min/max doc_id per
    bucket) whose hot slice is **broadcast** once, carrying the hub ids with
    it. Hot buckets degrade to star pairing against their min/max doc_id
    hubs (map-side broadcast join + inline hub explode over the RAW bucket
    table — no partitioning requirement, so no exchange). Non-hot buckets
    are provably <= ``bucket_cap`` docs after the anti-join, so intra-bucket
    pairing needs no join at all: each bucket collects into a BOUNDED array
    and the C(c,2) combinations are emitted map-side by higher-order
    functions (round 4 — this replaced a shuffle-hash SELF-JOIN: the join's
    per-partition hash relation over the full bucket table was both the
    memory hazard at web scale and wasted bytes locally; the array form is
    spill-friendly ObjectHashAggregate and measured shuffle write/read
    96.8/126.8 MB -> 60.7/60.7 MB on the same 50k-page corpus with CPU
    parity within host noise — interleaved A/B series in BENCH/BASELINE.md,
    pair-set identity checked at 50k and 200k pages).

    The earlier lazy ``localCheckpoint`` of a pre-repartitioned bucket table
    was REMOVED in the same change: its LogicalRDD erases output
    partitioning, so every consumer re-exchanged anyway — the checkpoint
    paid a disk round-trip to defeat its own purpose (visible as an extra
    ENSURE_REQUIREMENTS exchange in the round-3 plan captures).

    NOT fully lazy: the hot-slice probe below runs a bounded Spark job
    (limit+1 collect) at plan-construction time. Callers building
    speculative plans pay that probe even if the returned frame is never
    executed; it is one stats aggregation over the bucket table. With no
    hot bucket, every bucket pairs directly; a hot slice of at most
    ``hot_collect_limit`` rows becomes a literal, a larger one a subtree.
    """
    # NB (round 6): persisting this repartitioned frame so the probe job and
    # the caller's action share the exchange was tried and REVERTED — the
    # interleaved A/B read 7.5 s vs 6.8 s per edges stage WITH the persist
    # (cache build + AQE-less cached subtree cost more than the re-exchange
    # of these narrow rows saves). Numbers in OPTIMIZATION_r06.md.
    pre = buckets.repartition("band", "bucket")
    stats = pre.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bsize"),
        F.min("doc_id").alias("h1"),
        F.max("doc_id").alias("h2"),
    )
    hot = stats.filter(F.col("bsize") > cfg.bucket_cap).select("band", "bucket", "h1", "h2")
    # The hot slice has TWO broadcast consumers (the anti-join + the star
    # join). Left as a plan subtree, each broadcast build re-aggregates and
    # re-shuffles the full bucket table — and bucket keys are near-unique on
    # non-duplicate content, so the partial agg barely compresses that
    # shuffle (measured round 3: one full-table stats exchange per consumer,
    # zero reuse). One bounded collect turns both into literal broadcasts;
    # corpora with a pathological hot-bucket count (measured, not guessed:
    # limit+1 probe) keep the subtree form — driver memory is bounded
    # either way.
    with job_description(buckets.sparkSession, "candidate_pairs: hot-bucket probe"):
        hot_rows = hot.limit(cfg.hot_collect_limit + 1).collect()
    if hot_rows and len(hot_rows) <= cfg.hot_collect_limit:
        # pandas -> Arrow: a JVM-side local relation (a list of Rows would
        # be a PythonRDD that every broadcast build re-runs)
        import pandas as pd

        hot = buckets.sparkSession.createDataFrame(
            pd.DataFrame.from_records(hot_rows, columns=hot.columns), schema=hot.schema
        )

    # no hot bucket: every bucket is bounded, so no anti-join and no star join
    small = pre if not hot_rows else pre.join(
        F.broadcast(hot.select("band", "bucket")), on=["band", "bucket"], how="left_anti"
    )
    # Non-hot buckets hold <= bucket_cap docs (the anti-join guarantees it),
    # so intra-bucket pairing needs no join: collect each bucket into a
    # BOUNDED array (<= cap elements — a mega-bucket can never reach this
    # aggregate) and emit the C(c,2) combinations map-side with higher-order
    # functions. The explicit repartition feeds the collect_list agg its
    # required partitioning in ONE exchange; Catalyst pushes the broadcast
    # anti-join below it, so the exchange carries only cold-bucket rows.
    # collect_set, not collect_list: duplicate (band, bucket, doc_id) input
    # rows would otherwise place a doc next to itself in the sorted array
    # and the strict i < j combination emits an id1 == id2 self-pair — a
    # bogus edge that verifies at jaccard 1.0. The replaced self-join's
    # doc_id < doc_id filter suppressed these; the set keeps the rewrite's
    # contract identical to the join under any input (and is still bounded:
    # |set| <= |list| <= bucket_cap).
    members = F.sort_array(F.collect_set("doc_id"))
    pair_expr = pair_combinations_expr()
    small_pairs = (
        small.groupBy("band", "bucket")
        .agg(members.alias("members"))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.id1", "p.id2")
    )
    if not hot_rows:
        return small_pairs.distinct()

    # hot buckets: star pairing against the two hubs carried in the broadcast
    # stats slice — map-side join + inline hub explode, no second aggregation
    big_pairs = (
        buckets.join(F.broadcast(hot), on=["band", "bucket"])
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.array("h1", "h2"))).alias("hub_id"),
        )
        .filter(F.col("doc_id") != F.col("hub_id"))
        .select(
            F.least("doc_id", "hub_id").alias("id1"),
            F.greatest("doc_id", "hub_id").alias("id2"),
        )
    )

    return small_pairs.union(big_pairs).distinct()


def simhash_blocks(n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) of ``n_blocks`` contiguous slices covering 64 bits."""
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    return list(zip(offsets, widths))


def simhash_band_pairs(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Raw SimHash band candidates (id1, id2) — before the Hamming filter.

    Block-combination tables (Manku, Jain, Sarma, "Detecting Near-Duplicates
    for Web Crawling", WWW'07 — public literature): the fingerprint is cut
    into ``b = radius + 3`` blocks, and each doc is keyed under every
    C(b, 3) combination of 3 block values. Any pair within Hamming radius r
    damages at most r blocks, leaving >= 3 intact — so some 3-combo key
    matches exactly (pigeonhole) and the scheme is an exact superset of the
    Hamming ball; :func:`hamming_edges` removes the false positives.

    Why not single 16-bit bands: a 16-bit key space has only 65,536 buckets,
    so *random* collisions grow with corpus^2 / 2^16 — measured 3.3x
    candidate growth for 2x corpus at 400k pages, and certain death at
    10^9+. Three-block keys carry ~32 bits: random collisions ~ corpus^2 /
    2^32 stay negligible until ~10^5x more docs, at the price of C(b,3)
    rows per doc (20 for radius 3) through one narrow explode.
    """
    # same capped pairing as the MinHash path (identical boilerplate titles
    # form mega-buckets; star pairing keeps them connected without O(c^2))
    return candidate_pairs(simhash_band_keys(signatures, cfg), cfg)


def simhash_band_keys(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, band, bucket) SimHash block-combination key rows."""
    from itertools import combinations

    r = max(1, cfg.simhash_hamming_max)
    b = r + 3
    blocks = [
        F.shiftrightunsigned(F.col("simhash64"), off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in simhash_blocks(b)
    ]
    # combo index is mixed into the key so tables don't collide;
    # shiftrightunsigned keeps the top block well-defined for negative int64
    keys = F.array(
        *[
            F.xxhash64(F.lit(ci), blocks[i], blocks[j], blocks[k])
            for ci, (i, j, k) in enumerate(combinations(range(b), 3))
        ]
    )
    return signatures.select("doc_id", F.posexplode(keys).alias("band", "bucket"))


def hamming_edges(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    gated: bool = False,
) -> DataFrame:
    """(id1, id2) band candidates -> (id1, id2, hamming) within the radius.

    ``gated=True`` marks the pair list as measured-small (the caller counted
    it under ``cfg.broadcast_pair_limit``): both sim lookups then stream the
    signature scan through broadcast hash joins with zero shuffles. The
    second hint is safe under the same gate because the joined frame is
    never larger than the pair list it extends. Large pair lists fall back
    to shuffle joins.
    """
    sims = signatures.select("doc_id", "simhash64")
    if gated:
        pairs = pairs.hint("broadcast")
    with_s1 = pairs.join(
        sims.select(F.col("doc_id").alias("id1"), F.col("simhash64").alias("s1")), on="id1"
    )
    if gated:
        with_s1 = with_s1.hint("broadcast")
    return (
        with_s1
        .join(sims.select(F.col("doc_id").alias("id2"), F.col("simhash64").alias("s2")), on="id2")
        .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .filter(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("id1", "id2", "hamming")
    )


def simhash_candidate_pairs(
    signatures: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """SimHash path: distinct (id1, id2) with Hamming(simhash) <= radius.

    Exact within ``cfg.simhash_hamming_max`` by the block-combination
    pigeonhole (:func:`simhash_band_pairs`). Standalone form
    (queries/tests): gates its own pair list; ``operators/edges.py``
    ``rule_edges`` gates one unioned candidate frame instead and calls
    :func:`hamming_edges` directly.
    """
    from .verify import gate_broadcast_info

    pairs, gated = gate_broadcast_info(
        simhash_band_pairs(signatures, cfg), cfg.broadcast_pair_limit
    )
    return hamming_edges(pairs, signatures, cfg, gated=gated)
