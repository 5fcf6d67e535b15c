"""crawl_rounds: whole BSP crawl rounds of CrawlEngine over the simulated web.

Seeding and one warm round are set-up; each timed pass is one round that
claims up to BATCH URLs.  The seed picks the seed-URL sample.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from sosse_spark.operators.admission import CollectionPolicy
from sosse_spark.sources.webgraph import WebConfig, url_of
from sosse_spark.streaming.crawl_loop import CrawlEngine

WEB = WebConfig(n_docs=200_000, n_hosts=50)
POLICY = CollectionPolicy(
    collection_id=1,
    unlimited_regex=r"^http://img[0-9]+\.example\.com/",
    recursion_depth=4,
    keep_params=False,
    recrawl_freq="adaptive",
)
N_SEEDS = 1500
BATCH = 500
PER_HOST = 25
N_BUCKETS = 8
T0 = datetime(2024, 1, 1)

SPANS = ("crawl_loop.run_round",)


class Workload:
    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.root = f"{work_dir}/crawl"
        self.seed = seed
        self.rounds: list[dict] = []
        self.t = T0

    def generate(self) -> None:
        picks = random.Random(self.seed).sample(range(WEB.n_docs), N_SEEDS)
        self.seed_urls = [url_of(i, WEB) for i in picks]

    def warm(self) -> None:
        self.engine = CrawlEngine(
            self.spark, self.root, WEB, POLICY,
            n_buckets=N_BUCKETS, batch_size=BATCH, per_host_budget=PER_HOST,
        )
        self.engine.seed(self.seed_urls, self.t)
        self._round()

    def _round(self) -> dict:
        m = self.engine.run_round(self.t)
        if m is None:
            raise RuntimeError(f"crawl went quiescent at {self.t}")
        self.t += timedelta(hours=1)
        return m

    def run_pass(self) -> int:
        with self.tracer.span("crawl_loop.run_round"):
            m = self._round()
        self.rounds.append(m)
        return m["fetched"]

    def after_pass(self) -> None:
        pass

    def check(self) -> dict[str, bool]:
        spark, eng = self.spark, self.engine
        frontier = eng.frontier.read(spark)
        dup_keys = frontier.groupBy("url", "collection_id").count().filter("count > 1").limit(1).count()
        dup_ids = frontier.groupBy("id").count().filter("count > 1").limit(1).count()
        # documents appended per round, from the round-tagged append dirs
        m = eng.documents.manifest()
        dirs: dict[int, list[str]] = {}
        for e in eng.documents._entries(m):
            dirs.setdefault(e["round"], []).append(f"{eng.documents.dir}/{e['dir']}")
        appended = {
            r: spark.read.option("mergeSchema", "true").parquet(*paths).count() for r, paths in dirs.items()
        }
        # documents hold the successful fetches; `fetched` also counts
        # errors and redirects, which only update the frontier
        appended_ok = all(appended.get(r["round_no"], 0) == r["success"] for r in self.rounds)
        return {
            "frontier_keys_unique": dup_keys == 0,
            "frontier_ids_unique": dup_ids == 0,
            "round_success_equals_documents_appended": appended_ok,
        }

    def extras(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        if hasattr(self, "engine"):
            self.engine.close()
