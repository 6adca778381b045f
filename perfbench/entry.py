"""``entry_queries``: one pass over the ``queries()`` entries that call
package operators (``run.ENTRY_QUERIES``).

Setup writes the two tables of :mod:`tables` (``--docs`` documents) for the
run's seed.
Then every query runs once, collected and compared with its ``oracle_sql()``
DuckDB twin by the order-insensitive value hash of
``scripts/check_parity.py``; the DuckDB twins run in a background thread
meanwhile (the ``dedup_clusters`` twin is derived, see
:func:`_oracle_answers`). That parity pass is also the warm-up: it compiles
every plan shape before the timed passes, and its Spark time counts toward
``setup_s``.

Timed run: passes over the queries, each query sunk to ``noop`` and followed
by ``release_caches()``, back to back for ``--seconds``. ``result_s`` is the
median pass wall. ``pair_recall``/``pair_precision`` score the parity pass's
``dedup_clusters`` answer against the planted documents.

Traced run: one untraced reference pass, then one pass with each query in its
own span and job group (``query.<name>_s``, ``query.<name>_shuffle_mb``),
and the kernel sample of :mod:`kernels`.
"""

from __future__ import annotations

import os
import statistics
import time


TABLES = ["documents", "embeddings"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cluster_quality(truth: dict[int, str], rows) -> dict:
    """Planted-pair recall/precision of ``dedup_clusters`` rows (doc_id,
    cluster_id); documents absent from the answer are singletons."""
    cluster = {int(d): int(c) for d, c in rows}
    per_group: dict[str, dict[int, int]] = {}
    for doc, group in truth.items():
        cl = per_group.setdefault(group, {})
        key = cluster.get(doc, -1 - doc)
        cl[key] = cl.get(key, 0) + 1
    hit = sum(c * (c - 1) // 2 for cl in per_group.values() for c in cl.values())
    true = sum(g * (g - 1) // 2 for g in (sum(cl.values()) for cl in per_group.values()))
    sizes: dict[int, int] = {}
    for c in cluster.values():
        sizes[c] = sizes.get(c, 0) + 1
    co = sum(s * (s - 1) // 2 for s in sizes.values())
    return {
        "pair_recall": hit / true if true else 1.0,
        "pair_precision": hit / co if co else 1.0,
        "true_pairs": true,
    }


def min_label_clusters(pairs) -> list[tuple[int, int]]:
    """(doc_id, cluster_id) after four rounds of min-label propagation over
    the undirected ``pairs``, as the dedup_clusters oracle SQL computes it:
    every vertex starts with its own id, and each round gives it the least of
    its label and its neighbours' labels of the round before."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {v: v for v in adj}
    for _ in range(4):
        label = {v: min(label[v], *(label[n] for n in adj[v])) for v in adj}
    return list(label.items())


def _oracle_answers(sf_dir: str, queries: list[str]) -> dict[str, tuple[list, list]]:
    """(columns, rows) of every query's ``oracle_sql()`` twin on DuckDB.

    The dedup_clusters twin unrolls four rounds of min-label propagation over
    the dedup_ngram_jaccard pairs as nested CTEs, which DuckDB 1.0 evaluates
    again for every reference: ~3 min on one thread at 5000 documents. Its
    answer is taken instead as the same four rounds over the answer of the
    dedup_ngram_jaccard twin (the same pairs, j >= 0.70)."""
    import duckdb

    import __spark_entry__ as entry_mod

    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    # one thread: the oracles overlap the Spark pass and must not starve it
    con.execute("SET threads = 1")

    def answer(name: str) -> tuple[list, list]:
        rel = con.sql(oracles[name])
        return rel.columns, rel.fetchall()

    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {name: answer(name) for name in queries if name != "dedup_clusters"}
        if "dedup_clusters" in queries:
            cols, rows = out.get("dedup_ngram_jaccard") or answer("dedup_ngram_jaccard")
            i1, i2 = cols.index("id1"), cols.index("id2")
            out["dedup_clusters"] = (
                ["doc_id", "cluster_id"],
                min_label_clusters((r[i1], r[i2]) for r in rows),
            )
        return out
    finally:
        con.close()


def parity_pass(b, queries, sf_dir: str, truth) -> tuple[float, dict]:
    """Collect every query and compare it with its DuckDB twin, which runs in
    a background thread meanwhile; returns (Spark seconds, dedup quality).

    This pass is also the warm-up. The queries run one at a time: running
    them four at a time left the first timed pass ~35% slower."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entry_mod
    from scripts.check_parity import value_hash

    qs = entry_mod.queries()
    spark_s = 0.0
    answers = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(_oracle_answers, sf_dir, queries)
        for name in queries + ([] if "dedup_clusters" in queries else ["dedup_clusters"]):
            t0 = time.monotonic()
            sdf = qs[name](b.spark, sf_dir)
            answers[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])
            spark_s += time.monotonic() - t0
            entry_mod.release_caches()
        expected = oracle.result()
    for name in queries:
        cols, rows = answers[name]
        if b.args.plant == "query_result" and name == queries[0]:
            # gate self-test: a wrong answer (one row lost or one row invented)
            rows = rows[:-1] if rows else [tuple([None] * len(cols))]
        ocols, orows = expected[name]
        ok = len(rows) == len(orows) and sorted(cols) == sorted(ocols)
        ok = ok and value_hash(rows, cols) == value_hash(orows, ocols)
        b.check(f"parity.{name}", ok, rows=len(rows), oracle_rows=len(orows))
    return spark_s, cluster_quality(truth, answers["dedup_clusters"][1])


def run(b, queries: list[str]) -> dict[str, float]:
    import __spark_entry__ as entry_mod
    import tables

    state: dict = {}

    def materialize(path: str) -> None:
        state["truth"], state["rows"] = tables.write_tables(path, b.args.docs, b.seed)
        state["dir"] = path

    base_s = b.setup(materialize)
    sf_dir = state["dir"]
    b.record["input"] = {
        "table_rows": state["rows"],
        "bytes": sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES),
        "queries": queries,
    }
    warm_s, q = parity_pass(b, queries, sf_dir, state["truth"])
    b.record["setup"]["warmup_s"] = warm_s
    b.record["quality"] = q
    b.check("dedup_clusters_recall>=0.99", q["pair_recall"] >= 0.99, value=q["pair_recall"])

    qs = entry_mod.queries()
    per_query: dict[str, list[float]] = {n: [] for n in queries}

    def one_pass(_i: int) -> None:
        for name in queries:
            t0 = time.monotonic()
            _noop(qs[name](b.spark, sf_dir))
            per_query[name].append(time.monotonic() - t0)
            entry_mod.release_caches()
            b.op()

    walls = b.closed_loop(one_pass)
    result_s = statistics.median(walls)
    b.record["queries_s"] = result_s
    b.record["query_walls_s"] = per_query
    if not b.trace:
        return {
            "setup_s": base_s + warm_s,
            "result_s": result_s,
            "peak_py_pss_mb": b.record["peak_mem_mb"]["py_pss"],
            "pair_recall": q["pair_recall"],
            "pair_precision": q["pair_precision"],
        }
    return traced(b, queries, qs, sf_dir, result_s)


def traced(b, queries, qs, sf_dir: str, ref_wall: float) -> dict[str, float]:
    import kernels
    from run import per_layer_units
    from spans import engine_totals, shuffle_mb

    import __spark_entry__ as entry_mod

    m = {k: 0.0 for k in per_layer_units(queries)}
    sp = b.spans
    spark = b.spark
    with sp.span("entry_queries"):
        with sp.span("__spark_entry__.queries") as whole:
            for name in queries:
                with sp.span(f"query.{name}", spark) as rec:
                    _noop(qs[name](spark, sf_dir))
                entry_mod.release_caches()
                m[f"query.{name}_s"] = rec["end"] - rec["start"]
        with sp.span("functions"):
            m.update(kernels.run(b.args.pages, b.seed))
    gm = b.group_metrics()
    b.record["groups"] = gm
    for name in queries:
        m[f"query.{name}_shuffle_mb"] = shuffle_mb(gm.get(f"query.{name}", {}))
    m.update(engine_totals(gm))
    m["trace.overhead"] = (whole["end"] - whole["start"]) / ref_wall - 1.0
    return m
