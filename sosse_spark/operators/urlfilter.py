"""URL-level quality filtering for crawl-derived training corpora.

Re-expresses the URL filter that public web-scale pipelines run BEFORE
fetching or keeping a page — RefinedWeb (Penedo et al. 2023,
arXiv:2306.01116 §3.1.1 + App. G.1: a 4.6M-entry domain blocklist plus
word-based URL scoring) and FineWeb's datatrove ``URLFilter`` (banned
domains, "hard" banned words matched as substrings of the full URL,
"soft" banned words counted against a threshold).  In the crawl engine
this slots naturally next to the admission rules
(operators/admission.py — the reference's per-collection regexes,
se/document.py:603-694) as the corpus-curation counterpart: admission
decides what the crawler MAY fetch, this decides what a training set
SHOULD keep.

Semantics (all matching on the lowercased URL):

  1. **domain blocklist** — the URL host, or any parent domain of it,
     appears in ``blocked_domains`` (``cdn.badhost.net`` is blocked by
     ``badhost.net``; suffix match is label-aligned, so
     ``notbadhost.net`` is NOT).
  2. **hard words** — any entry of ``hard_words`` occurring as a
     substring anywhere in the URL blocks it outright.
  3. **soft words** — the URL is split into words on non-alphanumeric
     runs; the number of DISTINCT ``soft_words`` present must stay
     below ``soft_threshold`` (datatrove's default shape: single
     ambiguous words don't block, combinations do).

Output keeps every input row with its per-rule evidence columns plus a
``keep`` boolean, so the op is oracle-certifiable end to end.

100 TB shape: one codegen'd projection — host extraction, the three
rule evaluations, and the verdict are per-row expressions over small
broadcast-literal arrays; zero shuffle, zero UDF, zero join.  A
real-scale blocklist (RefinedWeb's 4.6M domains) does not fit a
literal array: swap rule 1 for a broadcast LEFT join of the extracted
registrable domain against a blocklist table (the cookies PSL algebra
in operators/cookies.py already computes registrable domains) — rules
2-3 are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sosse_spark.functions.text import alnum_tokens

_HOST_RE = "^[a-z][a-z0-9+.-]*://([^/?#:]+)"


def _any(arr: Column, pred) -> Column:
    return F.exists(arr, pred)


def url_quality_filter(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    blocked_domains: tuple[str, ...] = (),
    hard_words: tuple[str, ...] = (),
    soft_words: tuple[str, ...] = (),
    soft_threshold: int = 2,
) -> DataFrame:
    """Apply the RefinedWeb/datatrove URL filter rules; see module
    docstring.  Returns (id, url, host, domain_blocked, hard_hit,
    soft_count, keep) — one row per input row."""
    low = F.lower(F.col(url_col))
    host = F.regexp_extract(low, _HOST_RE, 1)
    if blocked_domains:
        dom_arr = F.array(*[F.lit(d.lower()) for d in sorted(set(blocked_domains))])
        domain_blocked = _any(
            dom_arr,
            lambda d: (host == d) | host.endswith(F.concat(F.lit("."), d)),
        )
    else:
        domain_blocked = F.lit(False)
    if hard_words:
        hard_arr = F.array(*[F.lit(w.lower()) for w in sorted(set(hard_words))])
        hard_hit = _any(hard_arr, lambda w: low.contains(w))
    else:
        hard_hit = F.lit(False)
    if soft_words:
        url_words = F.array_distinct(alnum_tokens(F.col(url_col)))
        soft_arr = F.array(*[F.lit(w.lower()) for w in sorted(set(soft_words))])
        soft_count = F.size(F.array_intersect(soft_arr, url_words))
    else:
        soft_count = F.lit(0)
    staged = df.select(
        F.col(id_col),
        F.col(url_col).alias("url"),
        host.alias("host"),
        domain_blocked.alias("domain_blocked"),
        hard_hit.alias("hard_hit"),
        soft_count.cast("int").alias("soft_count"),
    )
    return staged.select(
        id_col,
        "url",
        "host",
        "domain_blocked",
        "hard_hit",
        "soft_count",
        (
            ~F.col("domain_blocked")
            & ~F.col("hard_hit")
            & (F.col("soft_count") < int(soft_threshold))
        ).alias("keep"),
    )
