"""``batch_mixed``: ``DedupPipeline.run`` over a seeded planted corpus.

Setup generates ``--pages`` pages with ``generate_web_pages(interleave=True)``
(the default class mix, truth columns kept) and writes them to parquet; the
timed code reads only that file. One untimed pipeline run over a separate
300-page corpus warms the JVM and the Python workers. (A fresh JVM keeps
speeding up over its first few pipeline runs; a full-size warm-up run or a
second one did not make the timed run measurably steadier, so the cheapest
warm-up stays.)

Timed run: ``run(resume=False)`` into a fresh warehouse, back to back for
``--seconds``. ``result_s`` is the median wall of one run.

Traced run (Spark event log on from the start): one reference run without
spans, then

* ``plans.pipeline`` - ``run(stages=(s,), resume=True)`` stage by stage,
  each under its own job group;
* ``sources.catalog`` - on-disk size of each stage snapshot;
* ``operators`` - the candidate, verify and components operators called on
  those snapshots, each forced with a count under its own job group;
* ``streaming.incremental`` - a stream probe: a sixteenth of the corpus fed to
  a fresh ``IncrementalNearDedup`` as ``--stream-batches`` micro-batches
  (split by a hash of ``url``), then ``compact(deep=True)``;
* ``functions`` - the kernel sample of :mod:`kernels`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from run import STAGES, dir_bytes

WARM_PAGES = 300
STREAM_SHARE = 16  # the stream probe takes pages with pmod(xxhash64(url), 16) == 0


def quality(b, corpus, clusters) -> dict:
    """Planted-pair recall and precision of a (doc_id, cluster_id) frame, and
    the count of UNIQUE pages sharing a cluster, all in linear space."""
    from infoscience_imports_spark.sources.synthetic import grouped_pair_recall

    if b.args.plant == "unique_merge":
        # gate self-test: put the second UNIQUE page into the first one's cluster
        u = (
            corpus.filter(F.col("dup_class") == "UNIQUE")
            .select(F.xxhash64("url").alias("doc_id"))
            .orderBy("doc_id")
            .limit(2)
            .collect()
        )
        first = clusters.filter(F.col("doc_id") == u[0][0]).collect()[0]["cluster_id"]
        clusters = clusters.withColumn(
            "cluster_id",
            F.when(F.col("doc_id") == u[1][0], F.lit(first)).otherwise(F.col("cluster_id")),
        )
    recall, true_pairs = grouped_pair_recall(corpus, clusters)
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "group_key", "dup_class")
    j = truth.join(clusters.select("doc_id", "cluster_id"), on="doc_id")

    def pairs(c):
        return c * (c - F.lit(1)) / F.lit(2)

    hit = (
        j.filter(F.col("dup_class") != "UNIQUE")
        .groupBy("group_key", "cluster_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(pairs(F.col("c"))))
        .collect()[0][0]
    ) or 0.0
    row = (
        j.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.sum((F.col("dup_class") == "UNIQUE").cast("int")).alias("uniq"),
        )
        .agg(
            F.sum(pairs(F.col("size"))).alias("co"),
            F.sum(F.when(F.col("size") > 1, F.col("uniq")).otherwise(0)).alias("bad"),
        )
        .collect()[0]
    )
    co = float(row["co"] or 0.0)
    return {
        "pair_recall": recall,
        "pair_precision": hit / co if co else 1.0,
        "true_pairs": true_pairs,
        "unique_merged": int(row["bad"] or 0),
    }


def _check_quality(b, q: dict) -> None:
    b.check("pair_recall>=0.99", q["pair_recall"] >= 0.99, value=q["pair_recall"])
    b.check("no_unique_merged", q["unique_merged"] == 0, value=q["unique_merged"])


def _check_operators(b, m: dict, verified, edges, components) -> None:
    """The operators, called again on the traced run's snapshots, must agree
    with what the pipeline wrote: the candidate families sum to the gated
    candidate count; every fuzzy (minhash, contain) edge is a verified pair,
    and every verified pair is an edge; the components are the snapshot's
    clusters of two or more."""
    n_cands = m["op.minhash_cands"] + m["op.contain_cands"] + m["op.simhash_cands"]
    b.check("op_cands==gate.candidate_pairs", n_cands == m["gate.candidate_pairs"],
            value=n_cands, expected=m["gate.candidate_pairs"])
    pair = ["id1", "id2"]
    fuzzy = edges.filter(F.col("rule").isin("minhash", "contain")).select(*pair)
    if b.args.plant == "lost_edge":
        # gate self-test: the re-derived verify loses one fuzzy edge
        verified = verified.join(fuzzy.orderBy(*pair).limit(1), on=pair, how="left_anti")
    lost = fuzzy.join(verified, on=pair, how="left_anti").count()
    b.check("fuzzy_edges_verified", lost == 0, value=lost, expected=0)
    extra = verified.join(edges.select(*pair), on=pair, how="left_anti").count()
    b.check("verified_pairs_are_edges", extra == 0, value=extra, expected=0)
    n_clusters, largest = (
        components.groupBy("cluster_id").count().filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)), F.max("count")).collect()[0]
    )
    b.check("op.clusters==components", m["op.clusters"] == n_clusters,
            value=m["op.clusters"], expected=n_clusters)
    b.check("op.largest_cluster==components", m["op.largest_cluster"] == (largest or 0),
            value=m["op.largest_cluster"], expected=largest or 0)


def run(b, queries: list[str]) -> dict[str, float]:
    from infoscience_imports_spark.config import DedupConfig
    from infoscience_imports_spark.plans.pipeline import DedupPipeline
    from infoscience_imports_spark.sources.catalog import CheckpointStore
    from infoscience_imports_spark.sources.synthetic import generate_web_pages, pipeline_input

    n = b.args.pages
    cfg = DedupConfig(shuffle_partitions=max(2 * b.cpus, 8))
    corpus_path = os.path.join(b.work, "input", "corpus")

    def materialize(path: str) -> None:
        generate_web_pages(b.spark, n, seed=b.seed, interleave=True).write.parquet(
            os.path.join(path, "corpus")
        )

    base_s = b.setup(materialize)
    corpus = b.spark.read.parquet(corpus_path)
    pages = pipeline_input(corpus)
    t0 = time.monotonic()
    warm_path = os.path.join(b.work, "input", "warm")
    generate_web_pages(b.spark, WARM_PAGES, seed=b.seed + 7919, interleave=True).write.parquet(warm_path)
    wh = os.path.join(b.work, "warm")
    DedupPipeline(b.spark, CheckpointStore(b.spark, wh), cfg, input_fingerprint="warmup").run(
        pipeline_input(b.spark.read.parquet(warm_path)), resume=False
    )
    warm_s = time.monotonic() - t0
    shutil.rmtree(wh, ignore_errors=True)
    n_rows, html_bytes = corpus.agg(F.count(F.lit(1)), F.sum(F.octet_length("html"))).collect()[0]
    b.record["input"] = {"pages": n_rows, "html_bytes": html_bytes, "parquet_bytes": dir_bytes(corpus_path)}
    b.record["setup"]["warmup_s"] = warm_s

    last: dict = {}

    def one_run(i: int) -> None:
        wh_i = os.path.join(b.work, "wh", str(i))
        pipe = DedupPipeline(b.spark, CheckpointStore(b.spark, wh_i), cfg, input_fingerprint=f"run{i}")
        res = pipe.run(pages, resume=False)
        b.op()
        if last:
            shutil.rmtree(last["wh"], ignore_errors=True)
        last.update(wh=wh_i, pipe=pipe, res=res)

    walls = b.closed_loop(one_run)
    b.record["pipeline"] = {
        "timings": last["res"].timings,
        "rows": last["res"].rows,
        "gates": dict(last["pipe"].metrics),
    }
    q = quality(b, corpus, last["pipe"].clusters())
    b.record["quality"] = q
    _check_quality(b, q)
    result_s = statistics.median(walls)
    b.record["pages_per_s"] = n_rows / result_s
    if not b.trace:
        return {
            "setup_s": base_s + warm_s,
            "result_s": result_s,
            "peak_py_pss_mb": b.record["peak_mem_mb"]["py_pss"],
            "pair_recall": q["pair_recall"],
            "pair_precision": q["pair_precision"],
        }
    return traced(b, queries, cfg, corpus_path, html_bytes, result_s)


def traced(b, queries, cfg, corpus_path: str, html_bytes: int, ref_wall: float) -> dict[str, float]:
    import kernels
    from run import per_layer_units
    from spans import engine_totals, shuffle_mb

    from infoscience_imports_spark.operators import components as comp
    from infoscience_imports_spark.operators import lsh, verify
    from infoscience_imports_spark.operators.containment import containment_candidates
    from infoscience_imports_spark.plans.pipeline import DedupPipeline
    from infoscience_imports_spark.sources.catalog import CheckpointStore
    from infoscience_imports_spark.sources.synthetic import pipeline_input
    from infoscience_imports_spark.streaming.incremental import IncrementalNearDedup

    m = {k: 0.0 for k in per_layer_units(queries)}
    sp = b.spans
    spark = b.spark
    pages = pipeline_input(spark.read.parquet(corpus_path))
    wh = os.path.join(b.work, "traced")
    store = CheckpointStore(spark, wh)
    pipe = DedupPipeline(spark, store, cfg, input_fingerprint="traced")
    with sp.span("batch_mixed"):
        with sp.span("plans.pipeline.DedupPipeline.run"):
            for s in STAGES:
                with sp.span(f"stage.{s}", spark):
                    res = pipe.run(pages, stages=(s,), resume=True)
                m[f"stage.{s}_s"] = res.timings[s]
                m[f"stage.{s}_rows"] = res.rows[s]
        m["gate.candidate_pairs"] = pipe.metrics["candidate_pairs"]
        m["gate.verify_broadcast"] = float(pipe.metrics["verify_broadcast_gated"])
        store_bytes = 0
        with sp.span("sources.catalog.CheckpointStore"):
            for s in STAGES:
                nbytes = dir_bytes(os.path.join(wh, s))
                store_bytes += nbytes
                m[f"store.{s}_mb"] = nbytes / 1e6
        m["store.bytes_per_input_byte"] = store_bytes / html_bytes

        fp = pipe.fingerprint
        sig = store.read("signatures", fp("signatures"))
        reps = DedupPipeline._representatives(sig)
        with sp.span("operators", spark):
            rep_texts = (
                store.read("extract", fp("extract"))
                .join(reps.select("doc_id"), on="doc_id", how="left_semi")
                .select("doc_id", "text_norm")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            rep_texts.count()
            cands = {}
            builders = {
                "minhash": lambda: lsh.candidate_pairs(store.read("buckets", fp("buckets")), cfg),
                "contain": lambda: containment_candidates(
                    reps, rep_texts, cfg, n_docs_hint=store.rows("signatures", fp("signatures"))
                ).select(F.col("small_id").alias("id1"), F.col("big_id").alias("id2")),
                "simhash": lambda: lsh.simhash_band_pairs(reps, cfg),
            }
            for fam, build in builders.items():
                with sp.span(f"op.{fam}", spark) as rec:
                    cands[fam] = build().select("id1", "id2").persist(StorageLevel.MEMORY_AND_DISK)
                    m[f"op.{fam}_cands"] = cands[fam].count()
                m[f"op.{fam}_s"] = rec["end"] - rec["start"]
            tagged = cands["minhash"].withColumn("rule", F.lit("minhash")).unionByName(
                cands["contain"].withColumn("rule", F.lit("contain"))
            )
            with sp.span("op.verify", spark) as rec:
                verified = (
                    verify.verify_tagged_pairs(tagged, rep_texts, cfg)
                    .select("id1", "id2")
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                n_verified = verified.count()
            m["op.verify_s"] = rec["end"] - rec["start"]
            m["op.verify_yield"] = n_verified / max(1, m["op.minhash_cands"] + m["op.contain_cands"])
            edges = store.read("edges", fp("edges"))
            for rule, cnt in edges.groupBy("rule").count().collect():
                m[f"op.edges_{rule}"] = cnt
            with sp.span("op.components", spark) as rec:
                sizes = comp.connected_components(edges.select("id1", "id2"), cfg).groupBy(
                    "cluster_id"
                ).count()
                n_clusters, largest = sizes.agg(F.count(F.lit(1)), F.max("count")).collect()[0]
            m["op.components_s"] = rec["end"] - rec["start"]
            m["op.clusters"] = n_clusters
            m["op.largest_cluster"] = largest or 0
        _check_operators(b, m, verified, edges, store.read("components", fp("components")))
        for df in [rep_texts, verified, *cands.values()]:
            df.unpersist()

        with sp.span("streaming.incremental"):
            stream_pages = pipeline_input(
                spark.read.parquet(corpus_path).filter(
                    F.pmod(F.xxhash64("url"), F.lit(STREAM_SHARE)) == 0
                )
            )
            stream_bytes = stream_pages.agg(F.sum(F.octet_length("html"))).collect()[0][0]
            state = os.path.join(b.work, "stream")
            inc = IncrementalNearDedup(spark, state, cfg)
            nb = b.args.stream_batches
            batch_walls = []
            for k in range(nb):
                batch = stream_pages.filter(F.pmod(F.xxhash64("url"), F.lit(nb)) == k)
                with sp.span(f"stream.batch{k}", spark) as rec:
                    inc.process_batch(batch, k)
                batch_walls.append(rec["end"] - rec["start"])
            with sp.span("stream.compact", spark):
                cm = inc.compact(deep=True)
            m["stream.edges_rows"] = spark.read.parquet(inc.edge_dir).count()
            state_bytes = dir_bytes(state)
        m["stream.first_batch_s"] = batch_walls[0]
        second = batch_walls[nb // 3 : 2 * nb // 3] or batch_walls[:1]
        third = batch_walls[2 * nb // 3 :]
        m["stream.batch_growth"] = statistics.median(third) / statistics.median(second)
        m["stream.deep_merged"] = cm["merged"]
        m["stream.state_mb"] = state_bytes / 1e6
        m["stream.state_bytes_per_input_byte"] = state_bytes / stream_bytes
        b.record["stream"] = {"batch_walls_s": batch_walls, "compact": cm, "input_html_bytes": stream_bytes}

        with sp.span("functions"):
            m.update(kernels.run(b.args.pages, b.seed))

    gm = b.group_metrics()
    b.record["groups"] = gm
    for s in STAGES:
        g = gm.get(f"stage.{s}", {})
        cpu = g.get("executor_cpu_sec", 0.0)
        m[f"stage.{s}_cpu_s"] = cpu
        m[f"stage.{s}_shuffle_mb"] = shuffle_mb(g)
        m[f"stage.{s}_tasks"] = g.get("tasks", 0)
        m[f"stage.{s}_jobs"] = g.get("jobs", 0)
        m[f"stage.{s}_util"] = cpu / (m[f"stage.{s}_s"] * b.cpus)
    batches = [gm.get(f"stream.batch{k}", {}) for k in range(nb)]
    m["stream.batch_jobs"] = statistics.median(g.get("jobs", 0) for g in batches)
    m["stream.batch_cpu_s"] = statistics.median(g.get("executor_cpu_sec", 0.0) for g in batches)
    m["stream.batch_shuffle_mb"] = statistics.median(shuffle_mb(g) for g in batches)
    gc = gm.get("stream.compact", {})
    m["stream.compact_jobs"] = gc.get("jobs", 0)
    m["stream.compact_cpu_s"] = gc.get("executor_cpu_sec", 0.0)
    m["stream.compact_shuffle_mb"] = shuffle_mb(gc)
    m.update(engine_totals(gm))
    m["trace.overhead"] = sum(sp.duration(f"stage.{s}") for s in STAGES) / ref_wall - 1.0
    return m
