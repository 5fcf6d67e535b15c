"""The BSP crawl loop: checkpointed micro-batch rounds over snapshot tables.

Replaces the reference's forked worker processes + row-at-a-time
claim/fetch/index loop (se/management/commands/crawl.py:112-219,
se/document.py:714-829) with one deterministic DataFrame DAG per round:

  frontier snapshot
    → eligibility filter → per-host politeness window (salted)
    → global priority top-N                                (the claim)
    → robots broadcast join (fetching rules for new domains first)
    → cookie-jar match join (Cookie header per URL, distributed)
    → Arrow mapInPandas fetch (redirects, size caps, error injection)
    → form-auth kernel over login-redirected rows (sign in + refetch)
    → change detection + adaptive reschedule               (replacements)
    → link canonicalization UDFs → admission → Bloom-prefiltered dedup
    → deterministic id assignment                          (inserts)
    → MERGE frontier (bucket-granular rewrite) + bloom update
    → append documents / links / metrics

Each round commits new snapshots of frontier+bloom and appends to the
logs; a kill at any point resumes from the last committed snapshot
(per-round lineage: lineage_round on claimed rows, manifest round_no).
Time is an injected logical clock so runs are exactly reproducible.
"""

from __future__ import annotations

import dataclasses
import re
import time
from datetime import datetime, timedelta
from typing import Optional

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sosse_spark.operators.admission import CollectionPolicy, admit_links
from sosse_spark.operators.cookies import (
    cookie_header,
    match_cookies,
    normalize_set_cookies,
    stale_cookie_keys,
    upsert_cookies,
)
from sosse_spark.operators.fetch import (
    auth_and_fetch,
    fetch_batch,
    fetch_favicons_for_domains,
    fetch_robots_for_domains,
)
from sosse_spark.operators.http_cache import cache_fresh_col
from sosse_spark.operators.frontier import (
    FRONTIER_SCHEMA,
    assign_ids,
    bloom_build,
    merge_frontier,
    urlseen_dedup,
    with_bucket,
)
from sosse_spark.operators.recrawl import schedule_next_cols
from sosse_spark.operators.robots import evaluate_robots
from sosse_spark.operators.scheduler import priority_order_cols, select_batch
from sosse_spark.functions.urlnorm import absolutize_udf, browsable_udf
from sosse_spark.functions.hashing import normalize_numbers
from sosse_spark.sources.tables import AppendTable, SnapshotTable
from sosse_spark.sources.webgraph import WebConfig

__all__ = ["CrawlEngine", "METRICS_SCHEMA"]

_SKIP_ERRORS = ("PageTooBig", "TooManyRedirects")  # SkipIndexing analogs

# One row per round in the `metrics` append table (run_round's return
# value).  Parquet reads every column back nullable, so the constant is
# declared nullable too: it is the schema the table reads with.
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round_no", T.IntegerType()),
        T.StructField("t", T.TimestampType()),
        *[
            T.StructField(name, T.LongType())
            for name in (
                "batch",
                "fetched",
                "success",
                "errors",
                "redirects",
                "robots_rejected",
                "cache_hits",
                "webhook_events",
                "links_extracted",
                "new_urls",
            )
        ],
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("urls_per_sec", T.DoubleType()),
    ]
)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        web: WebConfig,
        policy: CollectionPolicy,
        n_buckets: int = 16,
        batch_size: int = 64,
        per_host_budget: int = 4,
        crash_retry: int = 1,
        salt_buckets: int = 4,
        bloom_bits: int = 1 << 20,
        webhook_transport=None,
        domain_page_cap: int | None = None,
    ):
        self.spark = spark
        # injectable webhook transport (tests pass a deterministic
        # callable; None -> the stdlib urllib transport) — only used
        # when policy.webhook_configs is non-empty
        self.webhook_transport = webhook_transport
        self.web = web
        self.policy = policy
        self.n_buckets = n_buckets
        self.batch_size = batch_size
        self.per_host_budget = per_host_budget
        self.crash_retry = crash_retry
        self.salt_buckets = salt_buckets
        self.bloom_bits = bloom_bits
        # cumulative per-domain page quota (Common-Crawl-style host
        # budget, operators/scheduler.py domain_page_cap): None = off.
        # Counts rows with crawl_last set (attempted fetches, errors
        # included) — a domain at the cap admits no more NEW urls, while
        # recrawls of its existing pages continue unaffected.
        self.domain_page_cap = domain_page_cap

        self.frontier = SnapshotTable(root, "frontier", n_buckets)
        self.bloom = SnapshotTable(root, "urlseen_bloom", n_buckets)
        self.host_rules = AppendTable(root, "host_rules")
        self.documents = AppendTable(root, "documents")
        self.links = AppendTable(root, "links")
        self.metrics = AppendTable(root, "metrics")
        self.webhook_events = AppendTable(root, "webhook_events")
        # per-(doc, webhook) delivery outcomes (DELIVERY_SCHEMA +
        # round_no) — the queryable log behind documents.webhooks_result
        self.webhook_results = AppendTable(root, "webhook_results")
        self.favicons = AppendTable(root, "favicons")
        # P9 preview-image cache, url-unique (the thumbnail files of
        # DocumentMeta.preview_file_from_url, se/document_meta.py:50-78):
        # one row per DISTINCT http preview URL ever chosen by a page.
        # Retained on document delete like the favicon cache — the
        # reference's per-doc thumbnail FILE maps to the doc row's
        # has_thumbnail state, which cascades with the row; the shared
        # cache row is not refcounted (documented delta).
        self.previews = AppendTable(root, "previews")
        # P3 pending-extern side table: the extern link rows whose target
        # has not been crawled yet, bucketed on dst_url.  The per-round
        # repoint probe reads THIS table, O(pending externs) — never the
        # whole links append-log, which grows with total crawl history.
        self.pending_externs = SnapshotTable(root, "pending_externs", n_buckets)
        # cookie jar (se/cookie.py), bucketed on domain.  Commits BEFORE
        # the frontier commit and is NOT rolled back on replay: a cookie
        # surviving a crashed round only lets the replay skip the auth
        # round-trip — the refetched payload and all appended rows are
        # identical (upsert is idempotent, session tokens deterministic).
        self.cookies = SnapshotTable(root, "cookies", n_buckets)
        # cached host_rules DataFrame handle (NOT a driver-side domain
        # set: new-domain discovery is an anti-join against this table,
        # bounded by the round batch — a python set of every domain ever
        # seen would OOM the driver at 10^8 domains)
        self._rules_df: Optional[DataFrame] = None
        self._repaired = False

    def _repair(self) -> None:
        """Crash repair on first use (≙ the reference's startup orphan-claim
        cleanup, se/management/commands/crawl.py:184-189): drop append-log
        dirs from any round that never reached its frontier commit, so the
        replayed round appends exactly once.  Also adopts the persisted
        frontier's n_buckets: re-bucketing candidates with a different
        modulus than the persisted blobs would cogroup the wrong bloom
        blob — false negatives that bypass the exact anti-join."""
        if self._repaired:
            return
        m = self.frontier.manifest()
        if m is not None and m.get("n_buckets") and m["n_buckets"] != self.n_buckets:
            self.n_buckets = m["n_buckets"]
        self.pending_externs.n_buckets = self.n_buckets
        self.cookies.n_buckets = self.n_buckets
        r = self.round_no()
        for table in (
            self.documents,
            self.links,
            self.metrics,
            self.webhook_events,
            self.webhook_results,
            self.favicons,
            self.previews,
        ):
            table.truncate_from(r)
        # pending_externs commits before the frontier commit point, so a
        # replayed round must see the pre-round pending state
        self.pending_externs.rollback_to_round(r)
        # legacy resume (pre-side-table engines): backfill pending from
        # the links log's latest-wins extern rows — one-time O(links)
        # scan, after which the per-round probe is O(pending) again
        if self.pending_externs.latest() is None and r > 0:
            lv = self.links_view()
            if lv is not None:
                backfill = SnapshotTable.with_bucket(
                    lv.filter(~F.col("is_admitted")).select(
                        "src_url", "dst_url", "link_no"
                    ),
                    "dst_url",
                    self.n_buckets,
                )
                self.pending_externs.commit(
                    self.spark,
                    backfill,
                    r - 1,
                    changed_buckets=list(range(self.n_buckets)),
                )
        self._repaired = True

    def _read_bloom(self, frontier: Optional[DataFrame]) -> Optional[DataFrame]:
        """Read the URL-seen bloom snapshot.  A legacy blob-format
        snapshot (pre word-table bloom) is rebuilt from the frontier
        itself — the bloom is derivable state — and recommitted across
        ALL manifest buckets so the table is uniformly word-format."""
        prev = self.bloom.read(self.spark)
        if prev is None or "blob" not in prev.columns:
            return prev
        if frontier is None:
            return None
        words = bloom_build(frontier.select("bucket", "url_hash"), None, self.bloom_bits)
        m = self.bloom.manifest()
        all_buckets = sorted(
            {int(b) for b in m["buckets"]} | set(self._touched_buckets(frontier))
        )
        self.bloom.commit(self.spark, words, m["round"], changed_buckets=all_buckets)
        return self.bloom.read(self.spark)

    # ------------------------------------------------------------------
    def round_no(self) -> int:
        m = self.frontier.manifest()
        return (m["round"] if m else -1) + 1

    @staticmethod
    def _finalize_rows(df: DataFrame, **values) -> DataFrame:
        """Project onto FRONTIER_SCHEMA (its columns, order and types) in
        ONE select: a column named in `values` takes that expression, any
        other column `df` has passes through, a nullable one it lacks is
        NULL.  One projection instead of a
        withColumn chain — each withColumn re-analyzes the whole (deep,
        per-round) plan."""
        have = set(df.columns)
        cols = []
        for f in FRONTIER_SCHEMA.fields:
            if f.name in values:
                c = values[f.name]
            elif f.name in have:
                c = F.col(f.name)
            elif f.nullable:
                c = F.lit(None)
            else:
                raise ValueError(f"frontier rows lack the non-nullable column {f.name!r}")
            cols.append(c.cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _with_url_keys(self, df: DataFrame) -> DataFrame:
        """The frontier key columns a url derives: url_hash and bucket
        (frontier.with_bucket), url_domain, url_path and this
        collection's id."""
        return with_bucket(df, self.n_buckets).withColumns(
            {
                "url_domain": F.parse_url("url", F.lit("HOST")),
                "url_path": F.parse_url("url", F.lit("PATH")),
                "collection_id": F.lit(self.policy.collection_id),
            }
        )

    def _id_parts(self) -> int:
        """assign_ids' range-partition count: the session's shuffle
        parallelism.  Ids do not depend on it, and assign_ids' default
        of 32 ran a round's few hundred inserts as 32-task stages."""
        return int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    @staticmethod
    def _with_schema_defaults(df: Optional[DataFrame]) -> Optional[DataFrame]:
        """Schema evolution on resume: a frontier snapshot written by an
        older engine may lack newer nullable columns (e.g. `tags`) —
        they read back as NULLs so the round algebra and MERGE see the
        current schema."""
        return None if df is None else CrawlEngine._finalize_rows(df)

    def seed(self, urls: list[str], t: datetime, manual: bool = False) -> None:
        """Insert seed URLs (parity: Document.manual_queue,
        se/document.py:586-601 — seeds admitted with full depth)."""
        from sosse_spark.functions.urlnorm import sanitize_url

        self._repair()  # adopt persisted n_buckets before bucketing seeds
        rows = [(sanitize_url(u), i) for i, u in enumerate(urls)]
        df = self.spark.createDataFrame(rows, "url string, disc_order long")
        df = self._with_url_keys(df).withColumn(
            "crawl_recurse", F.lit(self.policy.recursion_depth)
        )
        existing = self._with_schema_defaults(self.frontier.read(self.spark))
        prev_bloom = self._read_bloom(existing)
        new = urlseen_dedup(df, existing, prev_bloom, self.bloom_bits)
        # two seed() calls before the first round must not reuse ranks:
        # continue from the max rank already assigned within this round
        rnd = self.round_no()
        base_rank = 0
        if existing is not None:
            lo = rnd << 32
            hi = (rnd + 1) << 32
            top = (
                existing.filter((F.col("id") >= lo) & (F.col("id") < hi))
                .agg(F.max("id"))
                .collect()[0][0]
            )
            if top is not None:
                base_rank = top - lo
        new = self._finalize_rows(
            assign_ids(new, rnd, base_rank=base_rank, n_parts=self._id_parts()),
            crawl_next=F.lit(t if manual else None),
            manual_crawl=F.lit(manual),
            retries=F.lit(0),
            robotstxt_rejected=F.lit(False),
        ).cache()
        buckets = self._touched_buckets(new)
        merged = merge_frontier(self._changed_bucket_slice(existing, buckets), None, new)
        # bloom first (superset-safe), frontier commit is the commit point
        self.bloom.commit(
            self.spark,
            bloom_build(new, prev_bloom, self.bloom_bits),
            self.round_no(),
            changed_buckets=buckets,
        )
        self.frontier.commit(self.spark, merged, self.round_no(), changed_buckets=buckets)
        new.unpersist()
        self._free_checkpoints([new])

    def _bucket_counts(self, *changed: Optional[DataFrame]) -> dict[tuple[int, int], int]:
        """Row count per (bucket, position of the frame in `changed`) —
        ONE collect job, however many frames; None frames are skipped."""
        dfs = [
            df.select("bucket", F.lit(i).alias("frame"))
            for i, df in enumerate(changed)
            if df is not None
        ]
        if not dfs:
            return {}
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        return {
            (r["bucket"], r["frame"]): r["count"]
            for r in u.groupBy("bucket", "frame").count().collect()
        }

    def _touched_buckets(self, *changed: Optional[DataFrame]) -> list[int]:
        """Distinct buckets across the changed sets — ONE collect job."""
        return sorted({b for b, _ in self._bucket_counts(*changed)})

    def _changed_bucket_slice(
        self, frontier: Optional[DataFrame], buckets: list[int]
    ) -> Optional[DataFrame]:
        """Existing frontier rows living in the touched buckets."""
        if frontier is None or not buckets:
            return None
        return frontier.filter(F.col("bucket").isin(buckets))

    # ------------------------------------------------------------------
    @staticmethod
    def _free_checkpoints(cuts) -> None:
        """Explicitly drop the localCheckpoint blocks each frame in `cuts`
        reads (its LogicalRDD leaves — the frame itself when it is a
        checkpoint, or one an operator made, as assign_ids does) at end
        of round.  ContextCleaner frees them only when a JVM GC notices
        the dropped reference — at driver scale one leaked checkpointed
        frame per round is an unbounded block-manager leak.  MUST run
        after every use of the frames: a truncated lineage cannot
        recompute."""
        for cp in cuts:
            try:
                leaves = cp._jdf.queryExecution().analyzed().collectLeaves()
                for i in range(leaves.size()):
                    leaf = leaves.apply(i)
                    if leaf.getClass().getSimpleName() == "LogicalRDD":
                        leaf.rdd().unpersist(False)
            except Py4JError:
                pass  # best effort — GC + periodic cleaner remain the backstop

    def run_round(self, t: datetime) -> Optional[dict]:
        """One BSP round.  Returns the metrics row, or None if quiescent."""
        t0 = time.time()
        self._repair()
        round_no = self.round_no()
        spark = self.spark
        now_col = F.lit(t).cast("timestamp")
        lineage_cuts: list = []  # checkpointed hub frames, freed at round end

        frontier = self._with_schema_defaults(self.frontier.read(spark))
        if frontier is None:
            return None
        frontier = frontier.cache()

        # optional cumulative host quota: restrict the batch-selection
        # input so over-quota NEVER-CRAWLED rows don't contend; the
        # pending_filter is this round's eligibility predicate, so an
        # ineligible pending row can't squat on a quota slot.  The
        # frontier table itself is untouched — a row shut out this
        # round re-contends whenever quota arithmetic allows.
        batch_input = frontier
        if self.domain_page_cap is not None:
            from sosse_spark.operators.scheduler import domain_page_cap as _quota
            from sosse_spark.operators.scheduler import eligible_filter as _elig

            batch_input = _quota(
                frontier,
                self.domain_page_cap,
                salt_buckets=self.salt_buckets,
                pending_filter=_elig(now_col, self.crash_retry),
            ).drop("domain_crawled", "pending_rank")

        batch = select_batch(
            batch_input,
            now_col,
            self.batch_size,
            self.per_host_budget,
            self.crash_retry,
            self.salt_buckets,
        )
        # global_rank: deterministic intra-round order (window over the
        # already-limited batch — at most batch_size rows); select_batch
        # returns its claim unordered, so this is the claim's one sort
        batch = batch.withColumn(
            "global_rank", F.row_number().over(Window.orderBy(*priority_order_cols()))
        ).cache()
        # --- HTTP-cache freshness gate (P12, se/html_cache.py:56-156) ----
        # fresh rows skip robots + fetch entirely and reschedule as
        # unchanged — the biggest fetch-cost reducer at recrawl scale
        fresh_pred = cache_fresh_col(now_col)
        sizes = batch.agg(
            F.count(F.lit(1)).alias("batch"), F.count(F.when(fresh_pred, 1)).alias("cache_hits")
        ).collect()[0]
        n_batch, n_cache_hits = sizes["batch"], sizes["cache_hits"]
        if n_batch == 0:
            batch.unpersist()
            frontier.unpersist()
            return None
        cache_hits = batch.filter(fresh_pred)
        to_fetch = batch.filter(~fresh_pred)

        # --- robots: fetch rules for domains never seen before ---------
        # new-domain discovery is an ANTI-JOIN against host_rules (the
        # driver never holds a domain set — unbounded at 10^8 domains);
        # the result is bounded by the round batch's distinct hosts.
        if self._rules_df is None:
            existing_rules = self.host_rules.read(spark)
            if existing_rules is not None:
                self._rules_df = existing_rules.cache()
        batch_domains = to_fetch.select("url_domain").distinct().cache()
        if self._rules_df is not None:
            known = self._rules_df.select(F.col("domain").alias("url_domain")).distinct()
            new_domains = batch_domains.join(known, "url_domain", "left_anti")
        else:
            new_domains = batch_domains
        probe = new_domains.select(F.lit("robots").alias("probe")).limit(1)

        # --- favicons once per domain (P8, se/models.py:383-440) ---------
        # keyed off the favicons table itself so a crash-replay (favicon
        # appends truncated, host_rules kept) still refetches them.
        # html_mode resolves favicons from the PARSED head instead
        # (<link rel~=icon> selection) — url-keyed, post-fetch below.
        new_fav = None
        if not getattr(self.web, "html_mode", False):
            fav_table = self.favicons.read(spark)
            if fav_table is not None:
                fav_known = fav_table.select(F.col("domain").alias("url_domain")).distinct()
                new_fav = batch_domains.join(fav_known, "url_domain", "left_anti")
            else:
                new_fav = batch_domains
            probe = probe.unionByName(new_fav.select(F.lit("favicon").alias("probe")).limit(1))
        # both new-domain probes in ONE job
        found = {r["probe"] for r in probe.collect()}
        if "robots" in found:
            new_rules = fetch_robots_for_domains(new_domains, self.web)
            self.host_rules.append(spark, new_rules, round_no)
            if self._rules_df is not None:
                self._rules_df.unpersist()
            self._rules_df = self.host_rules.read(spark).cache()
        if "favicon" in found:
            self.favicons.append(spark, fetch_favicons_for_domains(new_fav, self.web), round_no)
        batch_domains.unpersist()

        if self._rules_df is not None:
            checked = evaluate_robots(to_fetch, self._rules_df).cache()
        else:
            checked = to_fetch.withColumn("robots_authorized", F.lit(True)).cache()
        rejected = checked.filter(~F.col("robots_authorized"))
        authorized = checked.filter(F.col("robots_authorized"))

        # --- fetch ------------------------------------------------------
        # jar-matched cookies ride each request (se/browser_request.py:76-97
        # _get_cookies analog — a distributed thin join, never a collected
        # driver-side jar)
        jar = self.cookies.read(spark)
        if jar is not None:
            hdrs = cookie_header(match_cookies(jar, authorized.select("url"), now_col))
            with_cookies = authorized.join(hdrs, "url", "left")
        else:
            with_cookies = authorized.withColumn(
                "cookie_header", F.lit(None).cast("string")
            )
        fetched = fetch_batch(with_cookies, self.web)

        # --- form auth (se/collection.py:347-365): a redirect landing on
        # the login URL triggers the auth kernel over JUST those rows
        # (bounded by the batch), which signs in and refetches ----------
        login_re = self.policy.auth_login_url_re
        fetched_cached = None
        if login_re and self.policy.auth_fields:
            # cache: both slices below would otherwise re-run the whole
            # fetch kernel (image render + encode) once each
            fetched_cached = fetched.cache()
            hit_login = (
                F.col("error").isNull()
                & (F.col("final_url") != F.col("url"))
                & F.col("final_url").rlike(login_re)
            )
            needs_auth = fetched_cached.filter(hit_login)
            fetched = fetched_cached.filter(~hit_login).unionByName(
                auth_and_fetch(needs_auth, self.web, dict(self.policy.auth_fields))
            )
        joined = authorized.alias("b").join(fetched.alias("f"), "url").cache()

        is_error = F.col("f.error").isNotNull()
        is_skip = F.col("f.error").isin(*_SKIP_ERRORS)
        is_redirect = (~is_error) & (F.col("f.final_url") != F.col("url"))
        is_success = (~is_error) & (~is_redirect)

        # change detection: phash + number-normalized caption (F26)
        cap = F.coalesce(F.col("f.caption"), F.lit(""))
        if self.policy.hash_no_numbers:
            cap = normalize_numbers(cap)
        new_hash = F.md5(F.concat_ws("|", F.col("f.phash").cast("string"), cap))
        changed_content = F.col("b.content_hash").isNull() | (
            F.col("b.content_hash") != new_hash
        )
        redirect_changed = F.col("b.redirect_url").isNull() | (
            F.col("b.redirect_url") != F.col("f.final_url")
        )
        # scheduling verdict per disposition (reference: error→changed,
        # skip→unchanged, redirect→target-moved, success→hash verdict)
        sched_changed = (
            F.when(is_skip, F.lit(False))
            .when(is_error, F.lit(True))
            .when(is_redirect, redirect_changed)
            .otherwise(changed_content)
        )
        nxt, dt = schedule_next_cols(
            sched_changed,
            self.policy.recrawl_freq,
            self.policy.recrawl_dt_min,
            self.policy.recrawl_dt_max,
            crawl_last=now_col,
            crawl_dt=F.col("b.crawl_dt"),
        )

        # claimed rows after this round: each arm states only the columns
        # it changes, the rest pass through _finalize_rows unchanged:
        # tags persist through recrawl untouched (se/test_crawl.py:
        # 803-820), and worker_no is NULL on every row the eligibility
        # filter let select_batch claim
        replacements = self._finalize_rows(
            joined,
            crawl_first=F.coalesce(F.col("b.crawl_first"), now_col),
            crawl_last=now_col,
            crawl_next=nxt,
            crawl_dt=dt,
            # claim increments retries; success and generic error reset to 0,
            # skip keeps the increment (se/document.py:742, :524, :817)
            retries=F.when(is_skip, F.col("b.retries") + 1).otherwise(F.lit(0)),
            error=F.col("f.error"),
            error_hash=F.when(is_error, F.md5(F.col("f.error"))),
            robotstxt_rejected=F.lit(False),
            redirect_url=F.when(is_redirect, F.col("f.final_url")),
            content_hash=F.when(is_success, new_hash).otherwise(F.col("b.content_hash")),
            # P12/F27 cache bookkeeping: server max-age refreshed on
            # success; modified_date bumps only when content changed
            # (se/document.py:456-457)
            max_age=F.when(is_success, F.col("f.max_age")).otherwise(F.col("b.max_age")),
            modified_date=F.when(is_success & changed_content, now_col).otherwise(
                F.col("b.modified_date")
            ),
            payload_date=F.when(is_success, now_col).otherwise(F.col("b.payload_date")),
            lineage_round=F.lit(round_no),
            lineage_part=F.col("b.bucket"),
        )
        rejected_rows = self._finalize_rows(
            rejected,
            crawl_first=F.coalesce(F.col("crawl_first"), now_col),
            crawl_last=now_col,
            crawl_next=F.lit(None),
            crawl_dt=F.lit(None),
            retries=F.lit(0),
            error=F.lit(None),
            error_hash=F.lit(None),
            robotstxt_rejected=F.lit(True),
            redirect_url=F.lit(None),
            lineage_round=F.lit(round_no),
            lineage_part=F.col("bucket"),
        )
        # cache-fresh rows: no fetch happened; reschedule as unchanged
        nxt_c, dt_c = schedule_next_cols(
            F.lit(False),
            self.policy.recrawl_freq,
            self.policy.recrawl_dt_min,
            self.policy.recrawl_dt_max,
            crawl_last=now_col,
            crawl_dt=F.col("crawl_dt"),
        )
        cache_rows = self._finalize_rows(
            cache_hits,
            crawl_first=F.coalesce(F.col("crawl_first"), now_col),
            crawl_last=now_col,
            crawl_next=nxt_c,
            crawl_dt=dt_c,
            retries=F.lit(0),
            error=F.lit(None),
            error_hash=F.lit(None),
            robotstxt_rejected=F.lit(False),
            lineage_round=F.lit(round_no),
            lineage_part=F.col("bucket"),
        )
        # localCheckpoint (not cache): the round's commit plans otherwise
        # drag the ENTIRE round DAG — window + fetch kernel + robots join
        # + admission — into every downstream plan; measured 10-22
        # MILLION chars of plan string per frontier/bloom commit even on
        # a 30-doc web (cache substitution doesn't shrink the analyzed
        # tree, and the driver burns minutes per round walking it).  The
        # checkpoint truncates lineage to a LogicalRDD: commit plans
        # become scan+merge only.  At 10^10-URL scale this is the
        # difference between a constant-size driver plan per round and a
        # driver that melts down stringifying/analyzing megaplans.
        replacements = (
            replacements.unionByName(rejected_rows)
            .unionByName(cache_rows)
            .localCheckpoint(eager=True)
        )
        lineage_cuts.append(replacements)

        # --- html_mode favicons, keyed by the PAGE-DECLARED icon URL ----
        # (P8: FavIcon.extract get_or_create(url=url), se/models.py:
        # 383-422).  The parsed head supplies favicon_url (link-rel
        # selection + /favicon.ico default, htmlparse.favicon_url_of);
        # new URLs anti-join the url-unique favicons cache; data: URIs
        # decode in the kernel, http URLs fetch once each.
        if getattr(self.web, "html_mode", False):
            from sosse_spark.operators.fetch import fetch_favicons_for_urls

            fav_urls = (
                joined.filter(is_success)
                .select(F.col("f.favicon_url").alias("favicon_url"))
                .filter(F.col("favicon_url").isNotNull())
                .distinct()
            )
            fav_table = self.favicons.read(spark)
            if fav_table is not None:
                fav_known = fav_table.select("favicon_url").distinct()
                fav_urls = fav_urls.join(fav_known, "favicon_url", "left_anti")
            if fav_urls.limit(1).count():
                self.favicons.append(
                    spark, fetch_favicons_for_urls(fav_urls, self.web), round_no
                )

        # --- P9 preview images, keyed by the CHOSEN candidate URL -------
        # (DocumentMeta.create_preview, se/document_meta.py:98-106 — run
        # under Collection.thumbnail_mode preview/prevscreen only,
        # se/document.py:466-471).  data: candidates already decoded in
        # the parse kernel; http candidates fetch ONCE per distinct URL
        # (anti-join against the url-unique previews cache), and the
        # outcome joins back into this round's document rows as
        # has_thumbnail.  The screenshot fallback arm of prevscreen is
        # browser-bound and not portable (SURVEY §7.4).
        preview_enabled = getattr(self.web, "html_mode", False) and (
            self.policy.thumbnail_mode in ("preview", "prevscreen")
        )
        prev_results = None
        if preview_enabled:
            from sosse_spark.operators.fetch import fetch_previews_for_urls

            want = (
                joined.filter(is_success & (F.col("f.preview_kind") == "http"))
                .select(F.col("f.preview_url").alias("preview_url"))
                .filter(F.col("preview_url").isNotNull())
                .distinct()
            )
            prev_table = self.previews.read(spark)
            if prev_table is not None:
                known = prev_table.select("preview_url").distinct()
                want = want.join(known, "preview_url", "left_anti")
            if want.limit(1).count():
                self.previews.append(
                    spark, fetch_previews_for_urls(want, self.web), round_no
                )
            prev_results = self.previews.read(spark)

        # --- link extraction & admission ---------------------------------
        # parse skipped when hash unchanged and recrawl_condition=change
        # (se/document.py:449-455)
        parse_ok = is_success & (
            F.lit(self.policy.recrawl_condition != "change") | changed_content
        )
        raw_links = (
            joined.filter(parse_ok)
            .select(
                F.col("f.final_url").alias("base_url"),
                F.col("b.crawl_recurse").alias("parent_recurse"),
                F.col("b.global_rank").alias("parent_rank"),
                F.posexplode_outer(F.col("f.links")).alias("link_no", "href"),
            )
            .filter(F.col("href").isNotNull())
        )
        resolved = (
            raw_links.filter(browsable_udf(F.col("href")))
            .withColumn("abs_url", absolutize_udf(F.col("base_url"), F.col("href")))
            .filter(F.col("abs_url").isNotNull())
            .withColumn("abs_url", F.split(F.col("abs_url"), "#", 2).getItem(0))
        )
        if not self.policy.keep_params:
            resolved = resolved.withColumn(
                "abs_url", F.split(F.col("abs_url"), r"\?", 2).getItem(0)
            )
        # lineage cut (see the replacements note): links append + the
        # whole candidate/dedup/bloom pipeline hang off this frame
        resolved = resolved.withColumn("url", F.col("abs_url")).localCheckpoint(eager=True)
        lineage_cuts.append(resolved)

        admitted = admit_links(resolved, self.policy)
        candidates = self._with_url_keys(admitted).withColumn(
            "disc_order",
            (F.col("parent_rank").cast("long") * 4096 + F.col("link_no")).cast("long"),
        )
        # redirect targets are queued for the next round (BSP analog of
        # pick_or_create continuation, se/document.py:924-946)
        redirect_targets = self._with_url_keys(
            joined.filter(is_redirect).select(
                F.col("f.final_url").alias("url"),
                F.col("b.crawl_recurse").alias("crawl_recurse"),
                (F.col("b.global_rank").cast("long") * 4096 + 4095).alias("disc_order"),
            )
        )
        cand_cols = [
            "url",
            "url_hash",
            "bucket",
            "url_domain",
            "url_path",
            "collection_id",
            "crawl_recurse",
            "disc_order",
        ]
        all_candidates = candidates.select(*cand_cols).unionByName(
            redirect_targets.select(*cand_cols)
        )

        prev_bloom = self._read_bloom(frontier)
        new_urls = urlseen_dedup(all_candidates, frontier, prev_bloom, self.bloom_bits)
        # assign_ids materializes its range-partitioned input once, so the
        # whole dedup (bloom probe, frontier semi-join) runs once, there
        new_urls = assign_ids(new_urls, round_no, n_parts=self._id_parts())
        lineage_cuts.append(new_urls)
        # lineage cut (see the replacements note): bloom_build and the
        # frontier merge both consume this frame
        inserts = self._finalize_rows(
            new_urls,
            manual_crawl=F.lit(False),
            retries=F.lit(0),
            robotstxt_rejected=F.lit(False),
            lineage_round=F.lit(round_no),
            lineage_part=F.col("bucket"),
        ).localCheckpoint(eager=True)
        lineage_cuts.append(inserts)

        # --- metrics (F30 parity counts): single-pass aggregation --------
        counts = joined.agg(
            F.count(F.when(is_error, 1)).alias("errors"),
            F.count(F.when(is_redirect, 1)).alias("redirects"),
            F.count(F.when(is_success, 1)).alias("success"),
        ).collect()[0]
        n_errors, n_redirects, n_success = counts["errors"], counts["redirects"], counts["success"]
        n_rejected = n_batch - n_cache_hits - (n_errors + n_redirects + n_success)

        # --- webhook triggers kept as metric events (P17) -----------------
        # se/webhook.py:108-117 trigger conditions; se/document.py:436-447
        n_webhook_events = 0
        trig_conds = {
            "discovery": is_success & F.col("b.crawl_first").isNull(),
            "change": is_success & changed_content,
            "always": is_success,
            "manual": is_success & F.col("b.manual_crawl"),
        }
        if self.policy.webhooks:
            ev_parts = [
                joined.filter(trig_conds[t]).select(
                    F.col("url"),
                    F.lit(t).alias("trigger"),
                    F.lit(round_no).alias("round_no"),
                    now_col.alias("t"),
                )
                for t in self.policy.webhooks
                if t in trig_conds
            ]
            if ev_parts:
                evts = ev_parts[0]
                for p in ev_parts[1:]:
                    evts = evts.unionByName(p)
                evts = evts.cache()
                n_webhook_events = evts.count()
                if n_webhook_events:
                    self.webhook_events.append(spark, evts, round_no)
                evts.unpersist()

        # per-doc webhooks_result JSON (se/webhook.py:318-343,
        # se/document.py:160): which triggers fired for THIS document
        # and the (synthetic) delivery outcome — the fetcher has no real
        # HTTP surface, so delivery is the deterministic success shape
        # the reference records on 2xx.  When the policy carries FULL
        # webhook_configs, the real delivery state machine below
        # replaces this synthetic column.
        wh_result = F.lit(None).cast("string")
        if self.policy.webhooks and not self.policy.webhook_configs:
            parts = [
                F.when(
                    trig_conds[t],
                    F.lit(
                        f'"{t}": {{"status_code": 200, "status_string": "OK", "error": null}}'
                    ),
                )
                for t in self.policy.webhooks
                if t in trig_conds
            ]
            if parts:
                wh_result = F.concat(F.lit("{"), F.concat_ws(", ", *parts), F.lit("}"))

        # --- P17 webhook DELIVERY state machine (se/webhook.py:119-343)
        # Selection (trigger condition + url/mimetype/title/content
        # regexes) is pure column algebra; only the POST itself runs in
        # the mapInPandas kernel.  The delivered frame is eagerly
        # localCheckpoint'd BEFORE anything consumes it, so the side
        # effect executes exactly once even though two consumers (the
        # results log and the documents join) hang off it.
        wh_folded = None
        if self.policy.webhook_configs:
            from sosse_spark.operators.webhooks import (
                deliver_webhooks,
                match_webhooks,
                webhooks_result_col,
            )

            wh_base = joined.filter(is_success).select(
                F.col("url"),
                F.col("f.title").alias("title"),
                # image-graft field mapping: caption ≙ content, fmt ≙
                # mimetype (html_mode carries real title/text through
                # the same columns)
                F.col("f.caption").alias("content"),
                F.col("f.fmt").alias("mimetype"),
                *[trig_conds[t].alias(f"_trig_{t}") for t in trig_conds],
            )
            wh_parts = [
                match_webhooks(
                    wh_base.filter(F.col(f"_trig_{cfg.trigger_condition}")), (cfg,)
                )
                for cfg in sorted(self.policy.webhook_configs, key=lambda c: c.name)
                if cfg.enabled and cfg.trigger_condition in trig_conds
            ]
            if wh_parts:
                wh_matched = wh_parts[0]
                for p in wh_parts[1:]:
                    wh_matched = wh_matched.unionByName(p)
                # python-boundary stage: ~8 partitions run best on this
                # host (CLAUDE.md); the batch is bounded by batch_size x
                # len(configs) anyway
                delivered = deliver_webhooks(
                    wh_matched.coalesce(8),
                    self.policy.webhook_configs,
                    transport=self.webhook_transport,
                ).localCheckpoint(eager=True)
                lineage_cuts.append(delivered)
                self.webhook_results.append(
                    spark,
                    delivered.withColumn("round_no", F.lit(round_no)),
                    round_no,
                )
                wh_folded = webhooks_result_col(delivered)

        n_links = 0
        if n_success:
            docs = joined.filter(is_success).select(
                F.col("url"),
                F.col("f.final_url").alias("final_url"),
                F.col("f.image_id").alias("image_id"),
                F.col("f.bytes").alias("bytes"),
                F.col("f.w").alias("w"),
                F.col("f.h").alias("h"),
                F.col("f.fmt").alias("fmt"),
                F.col("f.caption").alias("caption"),
                F.col("f.title").alias("title"),
                F.col("f.phash").alias("phash"),
                new_hash.alias("content_hash"),
                changed_content.alias("changed"),
                F.col("f.preview_url").alias("preview_url"),
                F.col("f.preview_kind").alias("preview_kind"),
                wh_result.alias("webhooks_result"),
                F.lit(round_no).alias("round_no"),
                now_col.alias("fetched_at"),
            )
            # has_thumbnail (Document.has_thumbnail, se/document.py:
            # 466-487): data: previews decoded in-kernel; http previews
            # take the fetch outcome (missing → False, the reference's
            # silent preview_file_from_url failure); image-graft docs
            # thumbnail THEMSELVES whenever the mode is active
            if preview_enabled:
                docs = docs.withColumn(
                    "has_thumbnail", F.col("preview_kind") == F.lit("data")
                )
                if prev_results is not None:
                    prev_ok = prev_results.filter(~F.col("missing")).select(
                        "preview_url", F.lit(True).alias("_prev_ok")
                    )
                    docs = (
                        docs.join(prev_ok, "preview_url", "left")
                        .withColumn(
                            "has_thumbnail",
                            F.when(
                                F.col("preview_kind") == "http",
                                F.coalesce(F.col("_prev_ok"), F.lit(False)),
                            ).otherwise(F.col("has_thumbnail")),
                        )
                        .drop("_prev_ok")
                    )
            elif getattr(self.web, "html_mode", False):
                # screenshot/none modes: the portable preview path is
                # off and browser capture is out of scope
                docs = docs.withColumn("has_thumbnail", F.lit(False))
            else:
                docs = docs.withColumn(
                    "has_thumbnail",
                    F.lit(self.policy.thumbnail_mode != "none")
                    & F.col("phash").isNotNull(),
                )
            if wh_folded is not None:
                # real delivery outcomes: per-doc folded JSON +
                # "Webhook {name} failed" (≙ doc.error, se/webhook.py:
                # 239-241 — stored as its own column; fetch errors keep
                # the frontier error field).  Docs that matched no
                # webhook keep NULLs.  wh_folded is bounded by the
                # batch, so broadcast the join side.
                docs = (
                    docs.drop("webhooks_result")
                    .join(F.broadcast(wh_folded), "url", "left")
                    .select(
                        *[c for c in docs.columns if c != "webhooks_result"],
                        "webhooks_result",
                        "webhook_error",
                    )
                )
            self.documents.append(spark, docs, round_no)

            n_links = resolved.count()
            link_rows = None
            if n_links:
                link_rows = (
                    resolved.join(
                        admitted.select(F.col("url"), F.lit(True).alias("is_admitted")).distinct(),
                        "url",
                        "left",
                    )
                    # self-links store no row (target_doc != document
                    # guard, se/page.py:170) — e.g. the html_mode nav
                    # self-anchor.  The reference assigns link_no =
                    # len(links) at APPEND time (se/page.py:173), so a
                    # skipped candidate consumes no ordinal and stored
                    # rows per page are contiguous 0..k-1: renumber the
                    # survivors in document order (posexplode position)
                    # with a per-page window — per-page fan-out is small
                    # (<= 4096), so the partitioned window is scale-safe.
                    .filter(F.col("url") != F.col("base_url"))
                    .withColumn(
                        "link_no",
                        F.row_number().over(
                            Window.partitionBy("base_url").orderBy("link_no")
                        )
                        - 1,
                    )
                    .select(
                        F.col("base_url").alias("src_url"),
                        F.col("url").alias("dst_url"),
                        F.col("link_no"),
                        F.coalesce(F.col("is_admitted"), F.lit(False)).alias("is_admitted"),
                        F.lit(round_no).alias("round_no"),
                    )
                    # lineage cut: the links append, the pending cache
                    # and the touched-bucket collect all read this frame
                    .localCheckpoint(eager=True)
                )
                lineage_cuts.append(link_rows)
                self.links.append(spark, link_rows, round_no)

            # --- P3 extern-link repoint (se/document.py:789,
            # se/test_crawl.py:410-458): links stored as extern whose
            # target got crawled THIS round are re-pointed by appending
            # a newer is_admitted row; links_view() resolves latest-wins.
            # The probe reads the pending-extern SIDE TABLE — per-round
            # cost is O(externs not yet crawled), never O(the whole links
            # append-log, which grows with total crawl history) — and the
            # join is pending ⋈ broadcast(this round's docs — bounded by
            # the batch).  Repointed rows leave the pending set; the
            # bucket-granular commit rewrites only touched dst buckets.
            crawled_now = docs.select(F.col("url").alias("dst_url")).distinct()
            new_externs = None
            if link_rows is not None:
                new_externs = SnapshotTable.with_bucket(
                    link_rows.filter(~F.col("is_admitted")).select(
                        "src_url", "dst_url", "link_no"
                    ),
                    "dst_url",
                    self.n_buckets,
                )
            pend_parts = [
                p for p in (self.pending_externs.read(spark), new_externs) if p is not None
            ]
            if pend_parts:
                pending = pend_parts[0]
                for p in pend_parts[1:]:
                    pending = pending.unionByName(p)
                pending = pending.dropDuplicates(["src_url", "dst_url", "link_no"]).cache()
                matched = pending.join(F.broadcast(crawled_now), "dst_url", "left_semi").cache()
                # one job answers "any match?" and "which buckets change?"
                pend_counts = self._bucket_counts(new_externs, matched)
                touched_pend = sorted({b for b, _ in pend_counts})
                if any(i == 1 for _, i in pend_counts):
                    self.links.append(
                        spark,
                        matched.select(
                            "src_url",
                            "dst_url",
                            "link_no",
                            F.lit(True).alias("is_admitted"),
                            F.lit(round_no).alias("round_no"),
                        ),
                        round_no,
                    )
                if touched_pend:
                    remaining = pending.filter(F.col("bucket").isin(touched_pend)).join(
                        F.broadcast(crawled_now), "dst_url", "left_anti"
                    )
                    self.pending_externs.commit(
                        spark, remaining, round_no, changed_buckets=touched_pend
                    )
                pending.unpersist()
                matched.unpersist()

        # --- cookie jar upsert (Cookie.set, se/cookie.py:106-162) --------
        # cookies the auth kernel captured this round; committed before
        # the frontier commit (idempotent — see the table's init note).
        # Guarded on actual set-cookie events: steady-state recrawl
        # rounds (cookie already persisted, login wall skipped) must not
        # pay the jar-scan sync plan.
        if (
            login_re
            and self.policy.auth_fields
            and joined.filter(F.size("f.set_cookies") > 0).limit(1).count()
        ):
            raw_cookies = (
                joined.filter(F.size("f.set_cookies") > 0)
                # posexplode: the array position IS the response-sequence
                # order — the upsert leads its winner struct with it so a
                # same-response cookie rotation resolves last-write-wins
                # like the reference's update_or_create loop
                .select(F.posexplode("f.set_cookies").alias("seq", "c"))
                .select(
                    F.col("seq"),
                    # the cookie's URL context is the RESPONDING login
                    # endpoint (c.origin_url), not the frontier URL — a
                    # redirect chain can cross hosts, and origin-host
                    # attribution would clobber jar keys between auth
                    # hosts (and diverge from requests' session jar)
                    F.col("c.origin_url").alias("url"),
                    F.col("c.name").alias("name"),
                    F.col("c.value").alias("value"),
                    F.col("c.domain_attr").alias("domain_attr"),
                    F.col("c.path").alias("path"),
                    F.lit(None).cast("timestamp").alias("expires"),
                    F.col("c.secure").alias("secure"),
                    F.lit(None).cast("string").alias("same_site"),
                    F.lit(False).alias("http_only"),
                )
            )
            validated = SnapshotTable.with_bucket(
                normalize_set_cookies(raw_cookies), "domain", self.n_buckets
            ).cache()
            # session-sync deletion (se/cookie.py:155-161): jar cookies
            # matching a cookie-setting response's URL that are in the
            # session jar NEITHER as a sent cookie NOR as a new set are
            # dropped.  The reference syncs against the live requests
            # session jar = (cookies that rode the request) ∪ (newly
            # set) — syncing against the new sets alone would delete
            # every pre-existing cookie on the first auth round.
            stale = None
            if jar is not None:
                set_urls = raw_cookies.select("url").distinct()
                sent = match_cookies(jar, set_urls, now_col).select("url", "name")
                session_jar_names = raw_cookies.select("url", "name").unionByName(sent)
                stale = SnapshotTable.with_bucket(
                    stale_cookie_keys(jar, session_jar_names, now_col),
                    "domain",
                    self.n_buckets,
                ).cache()
            cookie_buckets = self._touched_buckets(validated, stale)
            if cookie_buckets:
                kept = self._changed_bucket_slice(jar, cookie_buckets)
                if kept is not None and stale is not None:
                    kept = kept.join(
                        stale.select("domain", "path", "name"),
                        ["domain", "path", "name"],
                        "left_anti",
                    )
                merged_jar = SnapshotTable.with_bucket(
                    upsert_cookies(
                        kept.drop("bucket") if kept is not None else None,
                        validated.drop("bucket"),
                        now_col,
                    ),
                    "domain",
                    self.n_buckets,
                )
                self.cookies.commit(
                    spark, merged_jar, round_no, changed_buckets=cookie_buckets
                )
            validated.unpersist()
            if stale is not None:
                stale.unpersist()

        # --- commits: bloom BEFORE frontier ------------------------------
        # The frontier commit is the round's atomic commit point.  Bloom
        # goes first: a crash between the two leaves the bloom a SUPERSET
        # (extra bits only make the prefilter send more candidates to the
        # exact anti-join — never drops a URL).  The inverse order would
        # leave frontier URLs missing from the bloom, whose false
        # negatives BYPASS the anti-join → duplicate admissions.
        # documents/links appends above are round-tagged and truncated on
        # replay (see _repair / AppendTable.truncate_from).
        # one job: new-URL count, the bloom's and the frontier's buckets
        frame_counts = self._bucket_counts(replacements, inserts)
        insert_buckets = sorted(b for b, i in frame_counts if i == 1)
        n_new = sum(n for (_, i), n in frame_counts.items() if i == 1)
        if n_new:
            self.bloom.commit(
                spark,
                bloom_build(inserts, prev_bloom, self.bloom_bits),
                round_no,
                changed_buckets=insert_buckets,
            )
        # metrics append BEFORE the frontier commit: the row is
        # round-tagged, so a crash in between replays the round and the
        # truncate-on-repair makes it exactly-once; appending after the
        # frontier commit would lose round N's metrics forever (round N
        # is never replayed once the frontier committed).
        duration = time.time() - t0
        metrics_row = {
            "round_no": round_no,
            "t": t,
            "batch": n_batch,
            "fetched": n_success + n_redirects + n_errors,
            "success": n_success,
            "errors": n_errors,
            "redirects": n_redirects,
            "robots_rejected": n_rejected,
            "cache_hits": n_cache_hits,
            "webhook_events": n_webhook_events,
            "links_extracted": n_links,
            "new_urls": n_new,
            "duration_sec": duration,
            "urls_per_sec": (n_batch / duration) if duration > 0 else 0.0,
        }
        # a literal select, not createDataFrame: a local-rows frame writes
        # through a Python-worker task (measured ~1 s per append vs ~0.15 s)
        self.metrics.append(
            spark,
            spark.range(0, 1, 1, 1).select(
                *[
                    F.lit(metrics_row[f.name]).cast(f.dataType).alias(f.name)
                    for f in METRICS_SCHEMA.fields
                ]
            ),
            round_no,
        )

        buckets = sorted({b for b, _ in frame_counts})
        untouched_frontier = self._changed_bucket_slice(frontier, buckets)
        merged = merge_frontier(untouched_frontier, replacements, inserts if n_new else None)
        self.frontier.commit(spark, merged, round_no, changed_buckets=buckets)

        for df in (frontier, batch, checked, joined):
            df.unpersist()
        if fetched_cached is not None:
            fetched_cached.unpersist()
        self._free_checkpoints(lineage_cuts)
        return metrics_row

    # ------------------------------------------------------------------
    def links_view(self) -> Optional[DataFrame]:
        """Current web graph: latest row per (src_url, dst_url, link_no)
        — P3 repoint rows (appended with is_admitted=True when an extern
        target later gets crawled) win over their original extern rows,
        preferring admitted on a same-round tie."""
        l = self.links.read(self.spark)
        if l is None:
            return None
        w = Window.partitionBy("src_url", "dst_url", "link_no").orderBy(
            F.col("round_no").desc(), F.col("is_admitted").desc()
        )
        return l.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    def tag_urls(self, urls: list[str], tags: list[str]) -> None:
        """Attach tags to frontier rows by URL (≙ Document.tags M2M set,
        se/tag.py; persistence through recrawl per se/test_crawl.py:
        803-820 — run_round carries the column untouched).  MERGE shape:
        only the touched rows' buckets rewrite."""
        from sosse_spark.functions.urlnorm import sanitize_url

        self._repair()
        frontier = self._with_schema_defaults(self.frontier.read(self.spark))
        if frontier is None:
            return
        targets = [sanitize_url(u) for u in urls]
        hit = frontier.filter(F.col("url").isin(targets))
        updated = self._finalize_rows(
            hit.withColumn(
                "tags",
                F.array_sort(
                    F.array_union(
                        F.coalesce(F.col("tags"), F.array().cast("array<string>")),
                        F.array(*[F.lit(t) for t in tags]),
                    )
                ),
            )
        ).cache()
        buckets = self._touched_buckets(updated)
        if not buckets:
            updated.unpersist()
            return
        merged = merge_frontier(self._changed_bucket_slice(frontier, buckets), updated, None)
        self.frontier.commit(self.spark, merged, self.round_no(), changed_buckets=buckets)
        updated.unpersist()

    def move_to_collection(
        self,
        urls: list[str],
        src_collection_id: int,
        dst_collection_id: int,
        conflict: str = "skip",
    ) -> dict:
        """Bulk collection move (MoveToCollectionView.form_valid,
        se/move_to_collection.py:84-158): selected docs in the source
        collection change collection_id; a (url, dst) conflict resolves
        per `conflict` ∈ skip | overwrite (existing dst row deleted,
        source moved) | delete_source.  Frontier-only MERGE — the bloom
        is url-keyed, so membership identity stays correct: moved/
        removed rows leave superset bits, and (url, collection) checks
        fall through to the exact anti-join.  Returns the reference's
        counters."""
        if conflict not in ("skip", "overwrite", "delete_source"):
            raise ValueError(f"unknown conflict resolution: {conflict}")
        from sosse_spark.functions.urlnorm import sanitize_url

        self._repair()
        frontier = self._with_schema_defaults(self.frontier.read(self.spark))
        empty = {"moved": 0, "skipped": 0, "overwritten": 0, "deleted": 0}
        if frontier is None:
            return empty
        targets = [sanitize_url(u) for u in urls]
        sel = frontier.filter(
            F.col("url").isin(targets)
            & (F.col("collection_id") == src_collection_id)
        ).cache()
        conflicts = (
            frontier.filter(F.col("collection_id") == dst_collection_id)
            .join(sel.select("url").distinct(), "url", "left_semi")
            .cache()
        )
        conflict_urls = conflicts.select("url").distinct()
        if conflict == "skip":
            to_move = sel.join(conflict_urls, "url", "left_anti")
            to_remove = None
            counts = {"skipped": conflict_urls.count(), "overwritten": 0, "deleted": 0}
        elif conflict == "overwrite":
            to_move = sel
            to_remove = conflicts  # existing dst rows deleted first
            counts = {"skipped": 0, "overwritten": conflicts.count(), "deleted": 0}
        else:  # delete_source
            to_move = sel.join(conflict_urls, "url", "left_anti")
            to_remove = sel.join(conflict_urls, "url", "left_semi")
            counts = {"skipped": 0, "overwritten": 0, "deleted": to_remove.count()}

        moved = self._finalize_rows(
            to_move.withColumn("collection_id", F.lit(dst_collection_id))
        ).cache()
        counts["moved"] = moved.count()
        buckets = self._touched_buckets(sel, conflicts)
        if not buckets:
            for df in (sel, conflicts, moved):
                df.unpersist()
            return {**empty, **counts}
        # drop only the MOVED rows' old keys (skipped rows stay put!)
        # plus any conflict-removed keys, then insert the moved rows
        # under their new collection
        drop_keys = to_move.select("url", "collection_id")
        if to_remove is not None:
            drop_keys = drop_keys.unionByName(to_remove.select("url", "collection_id"))
        sliced = self._changed_bucket_slice(frontier, buckets).join(
            drop_keys.distinct(), ["url", "collection_id"], "left_anti"
        )
        merged = merge_frontier(sliced, None, moved)
        self.frontier.commit(self.spark, merged, self.round_no(), changed_buckets=buckets)
        for df in (sel, conflicts, moved):
            df.unpersist()
        return counts

    def delete_documents(
        self,
        url_regex: str,
        ignore_case: bool = False,
        exclude: str | None = None,
        dry_run: bool = False,
    ) -> dict:
        """Mass delete by URL regex (sosse-admin delete_documents,
        se/management/commands/delete_documents.py): frontier rows
        matching `url_regex` (iregex when `ignore_case`) minus `exclude`
        are removed, with the reference's Document.delete cascade:

        - frontier: bucket-granular MERGE drop — the (url, collection)
          identity is VACATED and re-queueable (the bloom is superset-
          safe; the exact anti-join falls through, same argument as
          move_to_collection),
        - documents payload log: rows for fully-vacated urls physically
          removed (AppendTable.delete_where partition-pruned compaction),
        - links: rows INTO a deleted doc cascade away (Link.doc_to
          on_delete=CASCADE, se/models.py:55-61) — admitted rows only;
          extern rows are not FK'd.  Rows FROM a deleted doc are KEPT
          (doc_from on_delete=SET_NULL "to keep its text to weight in
          the ranking", se/models.py:43-46) — src_url stays as text,
          matching the reference's kept-with-null-FK row.

        Multi-collection delta (documented): the reference deletes one
        Document row = one (url, collection); payload/link cascade here
        applies only to urls whose LAST frontier row was removed, since
        the engine's documents/links tables are url-keyed.

        Not atomic across tables (neither is the reference's per-row
        loop): frontier commits first, so a crash leaves payload rows
        orphaned but re-admittable — and because the CASCADE set is
        derived from the PAYLOAD side (regex-matching urls in the
        documents log with no surviving frontier row), re-running the
        same delete after any crash point completes the cascade even
        when the frontier half already committed (selected = 0 then).
        `dry_run` only counts (the command's --dry-run arm).  Returns
        the counters."""
        from sosse_spark.operators.admission import mass_delete_selection

        self._repair()
        frontier = self._with_schema_defaults(self.frontier.read(self.spark))
        out = {"selected": 0, "deleted": 0, "docs_deleted": 0, "links_deleted": 0}
        sel = None
        if frontier is not None:
            sel = mass_delete_selection(frontier, url_regex, ignore_case, exclude).cache()
            out["selected"] = sel.count()
        if dry_run:
            if sel is not None:
                sel.unpersist()
            return out
        post_frontier = frontier
        if sel is not None and out["selected"] > 0:
            drop_keys = sel.select("url", "collection_id").distinct()
            buckets = self._touched_buckets(sel)
            sliced = self._changed_bucket_slice(frontier, buckets).join(
                drop_keys, ["url", "collection_id"], "left_anti"
            )
            self.frontier.commit(
                self.spark,
                merge_frontier(sliced, None, None),
                self.round_no(),
                changed_buckets=buckets,
            )
            out["deleted"] = out["selected"]
            post_frontier = frontier.join(drop_keys, ["url", "collection_id"], "left_anti")
        # CASCADE set: regex-matching urls present in the payload logs
        # with no surviving frontier row in ANY collection.  Derived
        # from the payload side so a crash between the frontier commit
        # and the log compactions is repaired by re-running the delete.
        docs = self.documents.read(self.spark)
        links = self.links.read(self.spark)
        candidates = None
        if docs is not None:
            candidates = docs.select("url")
        if links is not None:
            # only ADMITTED rows mark a target that ever held a frontier
            # row — a never-admitted extern target matching the regex is
            # NOT a document and must keep its extern link rows
            dst = links.filter(F.col("is_admitted")).select(F.col("dst_url").alias("url"))
            candidates = dst if candidates is None else candidates.unionByName(dst)
        if candidates is not None:
            matching = mass_delete_selection(
                candidates.distinct(), url_regex, ignore_case, exclude
            )
            if post_frontier is not None:
                matching = matching.join(post_frontier.select("url"), "url", "left_anti")
            vacated = matching.cache()
            if vacated.count() > 0:
                if docs is not None:
                    out["docs_deleted"] = self.documents.delete_where(
                        self.spark, vacated, ["url"]
                    )["rows_deleted"]
                # ALL rows into a vacated url cascade: admitted rows ≙
                # the FK'd Link rows; an extern row for a vacated url is
                # the pre-repoint artifact of a row the reference mutated
                # into a FK row (se/document.py:789) and cascade-deleted
                # with it.
                if links is not None:
                    out["links_deleted"] = self.links.delete_where(
                        self.spark, vacated.withColumnRenamed("url", "dst_url"), ["dst_url"]
                    )["rows_deleted"]
            vacated.unpersist()
        if sel is not None:
            sel.unpersist()
        return out

    def widen_scope(self, urls: list[str], t: datetime, manual: bool = True) -> None:
        """F32 bulk add-to-queue with scope widening (se/add_to_queue.py:
        59-89): append '^https?://{host}/.*' for each URL's host to the
        collection's unlimited scope, then seed the URLs."""
        hosts = sorted({u.split("/", 3)[2] for u in urls if u.startswith("http")})
        pats = [f"^https?://{re.escape(h)}/.*" for h in hosts]
        parts = ([self.policy.unlimited_regex] if self.policy.unlimited_regex else []) + pats
        combined = "|".join(f"({p})" if "|" in p else p for p in parts)
        self.policy = dataclasses.replace(self.policy, unlimited_regex=combined)
        self.seed(urls, t, manual=manual)

    def vacuum(self, keep_last: int = 2) -> dict[str, list[str]]:
        """Maintenance: drop unreachable snapshot/append dirs across all
        engine tables (disk growth on a long crawl is otherwise one dir
        per table per round).  Call between rounds, never mid-round;
        keep_last >= 2 preserves the crash-repair window."""
        return {
            "frontier": self.frontier.vacuum(keep_last),
            "bloom": self.bloom.vacuum(keep_last),
            "pending_externs": self.pending_externs.vacuum(keep_last),
            "documents": self.documents.vacuum(),
            "links": self.links.vacuum(),
            "metrics": self.metrics.vacuum(),
            "webhook_events": self.webhook_events.vacuum(),
            "webhook_results": self.webhook_results.vacuum(),
            "favicons": self.favicons.vacuum(),
            "previews": self.previews.vacuum(),
            "host_rules": self.host_rules.vacuum(),
        }

    def close(self) -> None:
        """Release engine-lifetime caches (the host-rules broadcast-side
        table).  Per-round caches unpersist inside seed()/run_round();
        after close() the engine leaves nothing in the block-manager
        (asserted in tests)."""
        if self._rules_df is not None:
            self._rules_df.unpersist()
            self._rules_df = None

    # ------------------------------------------------------------------
    def run_until_quiescent(
        self, t0: datetime, round_dt: timedelta = timedelta(minutes=1), max_rounds: int = 50
    ) -> list[dict]:
        out = []
        t = t0
        for _ in range(max_rounds):
            m = self.run_round(t)
            if m is None:
                break
            out.append(m)
            t = t + round_dt
        return out
