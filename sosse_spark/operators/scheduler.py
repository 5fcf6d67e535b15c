"""Priority queue + politeness as window-ranked DataFrame batches.

Reference parity:
  * eligibility (se/document.py:838-841): (crawl_last IS NULL OR
    crawl_next <= now) AND retries <= crash_retry AND worker_no IS NULL
  * priority order (se/document.py:843-848): manual_crawl DESC,
    crawl_last DESC NULLS FIRST (never-crawled first), crawl_next ASC,
    id ASC — golden fixture se/test_crawl_queue.py:127-164
  * politeness (se/management/commands/crawl.py:112-173): the reference
    serializes one in-flight URL per worker; the BSP analog is a per-host
    budget per micro-batch (at most `per_host_budget` URLs per domain per
    round) — hot hosts can't starve the round.
  * claim (se/document.py:901-922): the CAS row-claim is replaced by
    deterministic batch ownership: each round's ranked slice IS the
    claim; `lineage_round` records it (worker_no ≙ lineage id).
  * display queue (se/document.py:850-899): top-10 pending + reversed
    next-up + in-progress + last-10 history.

Skew: the per-host window would put every row of a hot host in one task.
`per_host_topk` therefore pre-ranks within (host, salt) groups — salt =
pmod(xxhash64(url), S) — keeps the per-salt top-k, then exact-ranks the
surviving ≤ S·k rows per host.  Two narrow shuffles over bounded data
instead of one skewed one (north-rule requirement).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "ELIGIBILITY_ORDER",
    "eligible_filter",
    "priority_order_cols",
    "per_host_topk",
    "select_batch",
    "display_queue",
    "domain_page_cap",
]

ELIGIBILITY_ORDER = "manual_crawl DESC, crawl_last DESC NULLS FIRST, crawl_next ASC, id ASC"


def eligible_filter(now_col: Column, crash_retry: int = 1) -> Column:
    """Eligibility predicate (parity: se/document.py:838-841)."""
    return (
        (F.col("crawl_last").isNull() | (F.col("crawl_next") <= now_col))
        & (F.col("retries") <= F.lit(crash_retry))
        & F.col("worker_no").isNull()
    )


def priority_order_cols() -> list[Column]:
    """Queue priority (parity: se/document.py:843-848; PG sort-null
    conventions: DESC ⇒ NULLS FIRST, ASC ⇒ NULLS LAST)."""
    return [
        F.col("manual_crawl").desc(),
        F.col("crawl_last").desc_nulls_first(),
        F.col("crawl_next").asc_nulls_last(),
        F.col("id").asc(),
    ]


def per_host_topk(
    df: DataFrame,
    host_col: str,
    order_cols: Sequence[Column],
    k: int,
    salt_buckets: int = 8,
    salt_key: str = "url",
) -> DataFrame:
    """Keep the top-k rows per host under `order_cols`, skew-safely.

    Phase 1 ranks within (host, salt) and discards everything past k —
    a hot host's rows split across `salt_buckets` tasks, each keeping at
    most k.  Phase 2 exact-ranks the ≤ salt_buckets·k survivors per
    host.  Result column `host_rank` is the exact per-host rank.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_key)), F.lit(salt_buckets)).cast("int")
    )
    w1 = Window.partitionBy(host_col, "_salt").orderBy(*order_cols)
    pre = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    w2 = Window.partitionBy(host_col).orderBy(*order_cols)
    return (
        pre.withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= k)
        .drop("_salt")
    )


def select_batch(
    frontier: DataFrame,
    now_col: Column,
    batch_size: int,
    per_host_budget: int = 4,
    crash_retry: int = 1,
    salt_buckets: int = 8,
) -> DataFrame:
    """One round's claim: eligible → per-host budget → global top-N.

    The politeness windows rank only the thin (id, url_domain, priority)
    projection, salted by `id`, and the reference's total queue order
    cuts the survivors to `batch_size` (orderBy().limit()).  The claimed
    ids then map back to full eligible rows through a broadcast hash
    join bounded by batch_size, so the frontier's wide payload (url,
    error text, cache fields, tags …) never rides a shuffle.  Salting by
    `id` instead of `url` is rank-neutral: phase 1's per-(host, salt)
    top-k is a superset of the true per-host top-k under ANY salt
    assignment, and phase 2 exact-ranks the survivors.

    The rows come back UNORDERED, with their exact per-host `host_rank`;
    a caller that needs the queue order ranks the ≤ batch_size rows by
    priority_order_cols() itself.  A bulk claim with no global cut is
    per_host_topk over the eligible rows."""
    eligible = frontier.filter(eligible_filter(now_col, crash_retry))
    thin = eligible.select("id", "url_domain", "manual_crawl", "crawl_last", "crawl_next")
    keys = (
        per_host_topk(
            thin, "url_domain", priority_order_cols(), per_host_budget, salt_buckets,
            salt_key="id",
        )
        .orderBy(*priority_order_cols())
        .limit(batch_size)
    )
    return eligible.join(F.broadcast(keys.select("id", "host_rank")), "id", "inner")


def display_queue(frontier: DataFrame, now_col: Column, size: int = 10, crash_retry: int = 1) -> DataFrame:
    """Operator-facing queue view (parity: se/document.py:850-899):
    next `size` ready rows + up-to-size not-yet-ready (reversed) +
    in-progress + last-`size` crawl history, tagged by `queue_section`."""
    ready = (
        frontier.filter(eligible_filter(now_col, crash_retry))
        .orderBy(*priority_order_cols())
        .limit(size)
        .withColumn("queue_section", F.lit("pending"))
    )
    not_ready = (
        frontier.filter(
            F.col("crawl_last").isNotNull()
            & (F.col("crawl_next") > now_col)
            & (F.col("retries") <= crash_retry)
            & F.col("worker_no").isNull()
        )
        .orderBy(F.col("crawl_next").desc(), F.col("id").desc())
        .limit(size)
        .withColumn("queue_section", F.lit("pending_later"))
    )
    in_progress = frontier.filter(F.col("worker_no").isNotNull()).withColumn(
        "queue_section", F.lit("in_progress")
    )
    history = (
        frontier.filter(
            F.col("crawl_last").isNotNull()
            & (F.col("crawl_next").isNull() | (F.col("crawl_next") > now_col))
        )
        .orderBy(F.col("crawl_last").desc(), F.col("id").desc())
        .limit(size)
        .withColumn("queue_section", F.lit("history"))
    )
    return ready.unionByName(not_ready).unionByName(in_progress).unionByName(history)


def domain_page_cap(
    frontier: DataFrame,
    cap: int,
    host_col: str = "url_domain",
    order_cols: Sequence[Column] | None = None,
    salt_buckets: int = 8,
    pending_filter: Column | None = None,
) -> DataFrame:
    """Cumulative per-domain page quota — the Common-Crawl-style host
    budget a bulk crawl needs ON TOP of the per-round politeness window
    (per_host_topk paces a round; this caps the whole crawl, so one
    giant host cannot swallow the frontier at 10^10-URL scale).

    A domain holding `crawled` pages (crawl_last IS NOT NULL) admits at
    most greatest(cap - crawled, 0) MORE never-crawled candidates,
    picked in queue-priority order; already-crawled rows (recrawl
    candidates) are never cut — they hold quota, they don't compete for
    it.  Output = admitted pending rows ∪ all crawled rows, with two
    audit columns: `domain_crawled` (int) and `pending_rank` (int,
    NULL on crawled rows).  Compose BEFORE select_batch.

    Scale shape: one map-side-combining per-domain count, a thin
    hash join of the (domain, count) table onto each side, and the
    pending rank via the same salted two-phase window as per_host_topk
    (phase 1 bounds every (domain, salt) slice at `cap` rows — a
    superset of any admissible set — so a hot domain's pending pile
    splits across `salt_buckets` tasks; phase 2 exact-ranks the
    ≤ salt_buckets·cap survivors).  No global window, no driver state.
    """
    order_cols = list(order_cols) if order_cols is not None else priority_order_cols()
    crawled = frontier.filter(F.col("crawl_last").isNotNull())
    pending = frontier.filter(F.col("crawl_last").isNull())
    # pending_filter restricts WHICH pending rows contend for quota
    # (the crawl engine passes this round's eligibility predicate so an
    # ineligible row cannot squat on a slot an eligible row could use);
    # the crawled COUNT always covers every crawled row regardless
    if pending_filter is not None:
        pending = pending.filter(pending_filter)
    counts = crawled.groupBy(host_col).agg(
        F.count("*").cast("int").alias("domain_crawled")
    )
    ranked = per_host_topk(pending, host_col, order_cols, cap, salt_buckets, salt_key="id")
    admitted = (
        ranked.withColumnRenamed("host_rank", "pending_rank")
        .join(counts, host_col, "left")
        .withColumn("domain_crawled", F.coalesce("domain_crawled", F.lit(0)))
        .filter(
            F.col("pending_rank")
            <= F.greatest(F.lit(cap) - F.col("domain_crawled"), F.lit(0))
        )
    )
    kept_crawled = crawled.join(counts, host_col).withColumn(
        "pending_rank", F.lit(None).cast("int")
    )
    return admitted.unionByName(kept_crawled)
