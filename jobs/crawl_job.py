#!/usr/bin/env python3
"""spark-submit entry point for the crawl engine (the ship vehicle the
north rule names: `spark-submit --py-files sosse_spark.zip
jobs/crawl_job.py ...`).

Runs BSP crawl rounds over the deterministic synthetic web until
quiescence or --max-rounds, committing checkpointed snapshots under
--root (resumable: re-submit with the same --root to continue).

Example:
  python jobs/package.py                      # builds dist/sosse_spark.zip
  spark-submit --master local[8] \
    --py-files dist/sosse_spark.zip \
    jobs/crawl_job.py --root /tmp/crawl1 --n-docs 1000 --seeds 2 11 15 \
    --batch-size 256 --per-host-budget 16 --max-rounds 10
"""

from __future__ import annotations

import argparse
import json
from datetime import datetime, timedelta

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="snapshot-table root directory")
    ap.add_argument("--n-docs", type=int, default=1000)
    ap.add_argument("--n-hosts", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="*", default=[2, 11, 15])
    ap.add_argument("--batch-size", type=int, default=256)
    ap.add_argument("--per-host-budget", type=int, default=16)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--max-rounds", type=int, default=20)
    ap.add_argument("--start", default="2024-01-01T00:00:00")
    ap.add_argument("--round-minutes", type=int, default=1)
    ap.add_argument("--unlimited-regex", default=r"^http://img[0-9]+\.example\.com/")
    ap.add_argument("--recursion-depth", type=int, default=3)
    ap.add_argument("--recrawl", choices=["none", "constant", "adaptive"], default="adaptive")
    args = ap.parse_args()

    from sosse_spark.operators.admission import CollectionPolicy
    from sosse_spark.sources.webgraph import WebConfig, url_of
    from sosse_spark.streaming.crawl_loop import CrawlEngine

    spark = (
        SparkSession.builder.appName("sosse-spark-crawl")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # above one round's ~200 generated classes: the default cache of
        # 100 recompiles most of them every round
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    web = WebConfig(n_docs=args.n_docs, n_hosts=args.n_hosts)
    policy = CollectionPolicy(
        collection_id=1,
        unlimited_regex=args.unlimited_regex,
        recursion_depth=args.recursion_depth,
        keep_params=False,
        recrawl_freq=args.recrawl,
    )
    engine = CrawlEngine(
        spark,
        args.root,
        web,
        policy,
        n_buckets=args.n_buckets,
        batch_size=args.batch_size,
        per_host_budget=args.per_host_budget,
    )
    t0 = datetime.fromisoformat(args.start)
    if engine.round_no() == 0:
        engine.seed([url_of(i, web) for i in args.seeds], t0)
    else:
        print(f"resuming from committed round {engine.round_no() - 1}")

    metrics = engine.run_until_quiescent(
        t0 + timedelta(minutes=args.round_minutes * max(engine.round_no() - 1, 0)),
        timedelta(minutes=args.round_minutes),
        max_rounds=args.max_rounds,
    )
    for m in metrics:
        m["t"] = m["t"].isoformat()
        print(json.dumps(m))
    print(json.dumps({"rounds": len(metrics), "quiescent": len(metrics) < args.max_rounds}))
    spark.stop()


if __name__ == "__main__":
    main()
