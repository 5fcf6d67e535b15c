"""frontier_bulk: one scheduler/URL-seen/commit cycle over a synthetic frontier.

A cycle claims a batch (select_batch), builds the URL-seen bloom over the
frontier (bloom_build), dedups a candidate set of a tenth of the frontier
against it (urlseen_dedup), numbers the new URLs (assign_ids), and merges
claims and inserts into a snapshot table (merge_frontier + commit).
Every cycle starts from the same cached frontier, so cycles do identical
work.  The seed salts the hashes that place URLs on hosts and pick the
candidates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sosse_spark.operators.frontier import assign_ids, bloom_build, bloom_prefilter, merge_frontier, urlseen_dedup
from sosse_spark.operators.scheduler import select_batch
from sosse_spark.sources.tables import SnapshotTable

N_ROWS = 200_000
N_CANDIDATES = N_ROWS // 10
N_HOSTS = 1000
BATCH = 20_000
PER_HOST = 200
N_BUCKETS = 16
M_BITS = 1 << 18
ROUND = 1
NOW = "2024-01-03 00:00:00"

SPANS = ("scheduler.select_batch", "frontier.bloom_build", "frontier.urlseen_dedup", "frontier.assign_ids")


def _unit(id_col, salt: int):
    """Uniform [0, 1) from a salted hash of the id."""
    return F.pmod(F.xxhash64(id_col, F.lit(salt)), F.lit(1 << 20)).cast("double") / (1 << 20)


def _url_cols(id_col, salt: int) -> list:
    """url, url_domain, url_path, url_hash, bucket of doc `id_col`, with
    zipf-skewed hosts (host = floor(H * u^3), as bench.synthetic_frontier)."""
    host = F.least(F.floor(F.lit(N_HOSTS) * F.pow(_unit(id_col, salt), F.lit(3.0))), F.lit(N_HOSTS - 1))
    domain = F.concat(F.lit("img"), host.cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/doc/"), id_col.cast("string"))
    url = F.concat(F.lit("http://"), domain, path)
    return [
        url.alias("url"),
        domain.alias("url_domain"),
        path.alias("url_path"),
        F.xxhash64(url).alias("url_hash"),
        F.pmod(F.xxhash64(url), F.lit(N_BUCKETS)).cast("int").alias("bucket"),
    ]


class Workload:
    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.table = SnapshotTable(work_dir, "frontier_bulk", N_BUCKETS)
        self.seed = seed
        self.cached: list = []
        self.frontier = None
        self._extras: dict[str, float] = {}

    def generate(self) -> None:
        spark, salt = self.spark, self.seed
        if self.frontier is not None:
            self.frontier.unpersist()
        i = F.col("id")
        base = F.lit("2024-01-01 00:00:00").cast("timestamp")
        state = F.pmod(F.xxhash64(i, F.lit(salt + 1)), F.lit(1 << 20))
        self.frontier = spark.range(N_ROWS).select(
            *_url_cols(i, salt),
            F.lit(1).alias("collection_id"),
            i.alias("id"),
            F.when(state % 3 == 0, F.lit(None).cast("timestamp")).otherwise(base).alias("crawl_last"),
            F.when(state % 11 == 0, F.lit(None).cast("timestamp"))
            .otherwise(F.timestamp_add("HOUR", (state % 96).cast("int"), base))
            .alias("crawl_next"),
            F.lit(2).alias("crawl_recurse"),
            (state % 17 == 0).alias("manual_crawl"),
            (state % 3).cast("int").alias("retries"),
            F.lit(None).cast("int").alias("worker_no"),
        ).cache()  # materialized by the warm cycle
        # candidates: even ones re-discover a frontier URL, odd ones are new
        j = F.col("id")
        doc = F.when(j % 2 == 0, F.pmod(F.xxhash64(j, F.lit(salt + 2)), F.lit(N_ROWS))).otherwise(N_ROWS + j)
        self.candidates = (
            spark.range(N_CANDIDATES)
            .select(doc.alias("doc"), j.alias("disc_order"))
            .select(
                *_url_cols(F.col("doc"), salt),
                F.lit(1).alias("collection_id"),
                F.lit(1).alias("crawl_recurse"),
                "disc_order",
            )
        )

    def warm(self) -> None:
        self.run_pass()

    def run_pass(self) -> int:
        span, frontier = self.tracer.span, self.frontier
        # drop the previous cycle's frames, or .cache() would reuse them
        for df in self.cached:
            df.unpersist()
        now = F.lit(NOW).cast("timestamp")
        with span("scheduler.select_batch"):
            batch = select_batch(frontier, now, BATCH, PER_HOST, salt_buckets=8).cache()
            batch.count()
        with span("frontier.bloom_build"):
            bloom = bloom_build(frontier.select("bucket", "url_hash"), None, M_BITS).cache()
            bloom.count()
        with span("frontier.urlseen_dedup"):
            new = urlseen_dedup(self.candidates, frontier, bloom, M_BITS).cache()
            new.count()
        with span("frontier.assign_ids"):
            ids = assign_ids(new, ROUND).cache()
            ids.count()
        claimed = batch.drop("host_rank").withColumn("crawl_last", now).withColumn(
            "crawl_next", F.timestamp_add("DAY", F.lit(1), now)
        )
        inserts = ids.select(
            "url", "url_domain", "url_path", "url_hash", "bucket", "collection_id", "id", "crawl_recurse",
            F.lit(None).cast("timestamp").alias("crawl_last"),
            F.lit(None).cast("timestamp").alias("crawl_next"),
            F.lit(False).alias("manual_crawl"),
            F.lit(0).alias("retries"),
            F.lit(None).cast("int").alias("worker_no"),
        )
        merged = merge_frontier(frontier, claimed, inserts)
        self.table.commit(self.spark, merged, ROUND, changed_buckets=list(range(N_BUCKETS)))
        self.cached = [batch, bloom, new, ids]
        return N_ROWS + N_CANDIDATES

    def after_pass(self) -> None:
        self.table.vacuum(keep_last=1)

    def check(self) -> dict[str, bool]:
        batch, bloom, new, _ = self.cached
        spark, frontier = self.spark, self.frontier
        keys = ["url", "collection_id"]
        distinct = self.candidates.select(*keys, "bucket", "url_hash").distinct().cache()
        exact_new = distinct.join(frontier, keys, "left_anti").count()
        n_new = new.count()
        n_batch = batch.count()
        host_max = batch.groupBy("url_domain").count().agg(F.max("count")).collect()[0][0]
        committed = self.table.read(spark)
        n_committed = committed.count()
        n_keys = committed.select(*keys).distinct().count()
        # bloom quality over the distinct candidates (traced diagnostics)
        positive = bloom_prefilter(distinct, bloom, M_BITS).filter("maybe_seen").cache()
        n_pos = positive.count()
        n_true = positive.join(frontier, keys, "left_semi").count()
        self._extras = {
            "frontier.bloom_positive_ratio": n_pos / distinct.count(),
            "frontier.bloom_precision": n_true / n_pos,
        }
        positive.unpersist()
        distinct.unpersist()
        return {
            "urlseen_dedup_equals_exact_anti_join": n_new == exact_new,
            "select_batch_within_batch_size": 0 < n_batch <= BATCH,
            "select_batch_within_per_host_budget": host_max <= PER_HOST,
            "commit_holds_frontier_plus_new": n_committed == N_ROWS + n_new == n_keys,
        }

    def extras(self) -> dict[str, float]:
        return self._extras

    def close(self) -> None:
        for df in self.cached + [self.frontier]:
            if df is not None:
                df.unpersist()
