"""Stage 3 — LSH banding, bucketing, and candidate-pair generation.

Web-scale analogue of the reference's fuzzy candidate search (title +
year±1 Solr query per record, ``clients/dspace_client_wrapper.py:95-116``):
instead of one remote lookup per row, signatures are banded (b=32 x r=4) and
docs sharing any band bucket become candidate pairs.

"Ids that share a key become pairs" has ONE implementation here,
:func:`_key_pairs`: one shuffle keyed by the group key collects each group
into a sorted id set whose C(c,2) combinations are emitted map-side, then
one ``distinct`` (no self-join — group on the non-unique key instead of
expanding it through a join, as in the 3D hash join, CIDR 2022). Two entry
points:
  - :func:`candidate_pairs`, connectivity mode for clustering: buckets
    <= ``bucket_cap`` pair all-vs-all; hot buckets (boilerplate pages land
    here) switch to bounded-degree *star pairing* against their min/max
    doc_id hubs — this preserves connectivity for the components stage
    (what dedup needs) without the O(c^2) blowup;
  - :func:`all_key_pairs`, exact mode: every group pairs all-vs-all, for
    callers whose output must be every co-keyed pair (the sign-LSH embedding
    candidates, the AllPairs prefix postings).
AQE skew-join splitting stays on for residual imbalance.

Also hosts the SimHash band path for short title-like fields: Manku-style
block-combination tables (radius+3 blocks, keys over every 3-combination of
block values) make the band-key match an exact superset of the Hamming ball
with ~32-bit keys — random collisions stay ~corpus^2/2^32 instead of the
corpus^2/2^16 blowup of single 16-bit bands — and a JVM-side
``bit_count(xor) <= radius`` filter removes the false positives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def _key_pairs(
    rows: DataFrame, keys: list[str], star_pairs: DataFrame | None = None
) -> DataFrame:
    """(keys..., doc_id) rows -> distinct (id1, id2), id1 < id2, for every
    two ids that share a key — the one group-then-combine body.

    Each group collects into ``sort_array(collect_set(doc_id))`` (one
    exchange keyed by the group; spill-friendly ObjectHashAggregate) and the
    combinations are emitted map-side: one row per member ``x`` carrying the
    strictly later members as ``id2`` candidates, so a row holds at most
    c-1 ids — never the C(c,2) array of a whole group. collect_set, not
    collect_list: a duplicate (key, doc_id) input row would otherwise put a
    doc next to itself in the sorted array and emit an id1 == id2 self-pair
    (a bogus edge that verifies at jaccard 1.0). ``star_pairs`` (already
    ordered id1 < id2) joins the same final ``distinct``.
    """
    pairs = (
        rows.groupBy(*keys)
        .agg(F.sort_array(F.collect_set("doc_id")).alias("members"))
        .select(F.posexplode("members").alias("i", "id1"), "members")
        .select(
            "id1",
            F.explode(
                F.slice("members", F.col("i") + 2, F.size("members"))
            ).alias("id2"),
        )
    )
    if star_pairs is not None:
        pairs = pairs.union(star_pairs)
    return pairs.distinct()


def all_key_pairs(rows: DataFrame) -> DataFrame:
    """Exact mode: (key columns..., doc_id) -> distinct (id1, id2) with
    id1 < id2 for every two ids sharing a key, at any group size.

    Every column other than ``doc_id`` is the key. Lazy: launches no job.
    Output is O(sum c^2) by definition, so callers bound the group sizes
    they feed (the sign-LSH density gate, the AllPairs prefix filter).
    """
    return _key_pairs(rows, [c for c in rows.columns if c != "doc_id"])


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(band, bucket, doc_id) -> distinct (id1, id2) with id1 < id2.

    Hot-bucket detection uses ONE stats pass (count + min/max doc_id per
    bucket) whose hot slice is **broadcast** once, carrying the hub ids with
    it. Hot buckets degrade to star pairing against their min/max doc_id
    hubs (map-side broadcast join + inline hub explode over the RAW bucket
    table — no partitioning requirement, so no exchange). Non-hot buckets
    are provably <= ``bucket_cap`` docs after the anti-join, so intra-bucket
    pairing needs no join at all: each bucket collects into a BOUNDED array
    and the C(c,2) combinations are emitted map-side by :func:`_key_pairs`
    (round 4 — this replaced a shuffle-hash SELF-JOIN: the join's
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
    # so intra-bucket pairing needs no join: each bucket collects into a
    # BOUNDED array (<= cap elements — a mega-bucket can never reach this
    # aggregate) whose combinations are emitted map-side (_key_pairs). The
    # explicit repartition feeds that aggregate its required partitioning in
    # ONE exchange; Catalyst pushes the broadcast anti-join below it, so the
    # exchange carries only cold-bucket rows.
    if not hot_rows:
        return _key_pairs(small, ["band", "bucket"])

    # hot buckets: star pairing against the two hubs carried in the broadcast
    # stats slice — map-side join + inline hub explode, no second aggregation
    star_pairs = (
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
    return _key_pairs(small, ["band", "bucket"], star_pairs)


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
