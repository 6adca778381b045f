"""Extra benchmarks for the optimization rounds (guide §1.4 noop isolation).

NOT the driver contract — ``bench.py`` is the frozen measurement harness.
This file exists so optimization work can time individual queries quickly
(min-of-N, noop sink, same session conf as bench.py) and dump
``.explain("formatted")`` plans to ``plans/r06/`` without paying bench.py's
probe-gate/warmup protocol on every iteration.

Usage::

    python bench_extra.py [--sf-dir DIR] [--repeats N] [--queries a,b,c]
                          [--plans-dir plans/r06 --plans-suffix before]
                          [--pipeline] [--all]

Prints one JSON line with per-query seconds (min over repeats).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from infoscience_imports_spark.config import DedupConfig  # noqa: E402
from infoscience_imports_spark.plans.pipeline import DedupPipeline  # noqa: E402
from infoscience_imports_spark.session import get_spark  # noqa: E402
from infoscience_imports_spark.sources.catalog import CheckpointStore  # noqa: E402
from infoscience_imports_spark.sources.synthetic import (  # noqa: E402
    generate_web_pages,
    pipeline_input,
)

from bench import HEADLINE, run_noop  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--queries", default=None, help="comma list; default = bench HEADLINE")
    ap.add_argument("--all", action="store_true", help="time every queries() entry")
    ap.add_argument("--pipeline", action="store_true", help="also time the 20k-page pipeline")
    ap.add_argument("--pipeline-pages", type=int, default=20000)
    ap.add_argument("--plans-dir", default=None, help="dump explain('formatted') per query here")
    ap.add_argument("--plans-suffix", default="before", help="file suffix: <query>_<suffix>.txt")
    ap.add_argument("--no-warm", action="store_true", help="skip the sf0.001 plan-shape warmup")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    spark = get_spark(
        app_name="bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 8),
    )
    qs = entry_mod.queries()
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
    elif args.all:
        names = list(qs)
    else:
        names = list(HEADLINE)

    # plan capture (cheap; some query builders run bounded probe jobs)
    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans_dir, f"{name}_{args.plans_suffix}.txt"), "w") as f:
                f.write(plan)
            entry_mod.release_caches()

    # steady-state warmups, mirroring bench.py
    run_noop(spark.range(1_000_000).selectExpr("sum(id) as s"))
    warm_dir = "/root/testdata/sf0.001"
    if not args.no_warm and os.path.isdir(warm_dir) and os.path.realpath(
        args.sf_dir
    ) != os.path.realpath(warm_dir):
        for name in names:
            run_noop(qs[name](spark, warm_dir))
            entry_mod.release_caches()

    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(max(1, args.repeats)):
            t0 = time.monotonic()
            run_noop(qs[name](spark, args.sf_dir))
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)
        print(f"[bench_extra] {name}: {timings[name]}", file=sys.stderr)
        entry_mod.release_caches()

    if args.pipeline:
        cfg = DedupConfig(shuffle_partitions=max(2 * cpus, 8))
        corpus_dir = tempfile.mkdtemp(prefix="benchx-corpus-")
        pipeline_input(generate_web_pages(spark, args.pipeline_pages, seed=42)).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)
        # one unmeasured warmup run (codegen/Arrow pools), then min-of-N
        wh = tempfile.mkdtemp(prefix="benchx-wh-")
        DedupPipeline(
            spark, CheckpointStore(spark, wh), cfg, input_fingerprint="warm"
        ).run(pipeline_input(generate_web_pages(spark, 2000, seed=1)), resume=False)
        shutil.rmtree(wh, ignore_errors=True)
        best = float("inf")
        stage_best: dict[str, float] = {}
        for attempt in range(max(1, args.repeats)):
            wh = tempfile.mkdtemp(prefix="benchx-wh-")
            pipe = DedupPipeline(
                spark,
                CheckpointStore(spark, wh),
                cfg,
                input_fingerprint=f"benchx-{attempt}",
            )
            t0 = time.monotonic()
            res = pipe.run(pages, resume=False)
            wall = time.monotonic() - t0
            if wall < best:
                best = wall
                stage_best = {k: round(v, 3) for k, v in res.timings.items()}
            shutil.rmtree(wh, ignore_errors=True)
        timings["webdedup_pipeline_20k"] = round(best, 3)
        timings["_pipeline_stages"] = stage_best
        shutil.rmtree(corpus_dir, ignore_errors=True)

    total = round(
        sum(v for v in timings.values() if isinstance(v, float)), 3
    )
    print(json.dumps({"sf_dir": args.sf_dir, "cpus": cpus, "total": total, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
