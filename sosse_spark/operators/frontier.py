"""Frontier table + URL-seen set (partitioned Bloom prefilter + exact anti-join).

Reference parity: the URL-seen set is the unique (url, collection) key
(se/document.py:171); dedup is get_or_create keeping max depth budget on
collision (se/document.py:687-694).

Spark shape (north rule):
  * frontier rows are hash-bucketed by pmod(xxhash64(url), n_buckets) —
    the bucket column drives snapshot-partition pruning and co-partitions
    every URL-seen structure with the frontier itself.
  * a PARTITIONED BLOOM FILTER (a sparse 64-bit-word table per bucket,
    double-hashed probes off the int64 xxhash64 url_hash) prefilters
    candidate links: filter-negative rows are DEFINITIVELY new (no join
    needed); filter-positive rows fall through to the exact anti-join —
    a Bloom false positive can only cost a join probe, never drop a URL.
  * build and probe are pure JVM column algebra (shift/and/or + equi-
    joins on (bucket, word_no)) — whole-stage codegen end to end, no
    Arrow boundary; the probe side is bounded by the round batch × k,
    and at 10^10 URLs the word table is bucketed storage co-partitioned
    with the frontier itself.

`id` is the deterministic admission ordinal (round_no << 32 | rank) that
replaces the reference's autoincrement PK as the priority tiebreak
(se/document.py:847-848) — N-way parallel rounds reproduce single-worker
ordering within BSP-round semantics.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "FRONTIER_SCHEMA",
    "BLOOM_SCHEMA",
    "with_bucket",
    "bloom_build",
    "bloom_prefilter",
    "urlseen_dedup",
    "merge_frontier",
    "assign_ids",
]

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("url_domain", T.StringType(), True),
        T.StructField("url_path", T.StringType(), True),
        T.StructField("collection_id", T.IntegerType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("crawl_first", T.TimestampType(), True),
        T.StructField("crawl_last", T.TimestampType(), True),
        T.StructField("crawl_next", T.TimestampType(), True),
        T.StructField("crawl_dt", T.LongType(), True),  # seconds (interval math)
        T.StructField("crawl_recurse", T.IntegerType(), True),
        T.StructField("manual_crawl", T.BooleanType(), False),
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("worker_no", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("error_hash", T.StringType(), True),
        T.StructField("robotstxt_rejected", T.BooleanType(), False),
        T.StructField("redirect_url", T.StringType(), True),
        T.StructField("content_hash", T.StringType(), True),
        # HTTP-cache fields (P12, se/html_cache.py:56-156): server
        # max-age (seconds), last content-change time (F27 tail,
        # se/document.py:456-457) and the payload's actual download time
        # (≙ HTMLAsset.download_date — cache hits must NOT refresh it or
        # a fresh row would stay fresh forever) drive the pre-fetch gate
        T.StructField("max_age", T.LongType(), True),
        T.StructField("modified_date", T.TimestampType(), True),
        T.StructField("payload_date", T.TimestampType(), True),
        # user tags persist through recrawl (se/test_crawl.py:803-820:
        # Document.tags M2M survives re-index; crawl never writes it)
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("lineage_round", T.IntegerType(), True),
        T.StructField("lineage_part", T.IntegerType(), True),
    ]
)

BLOOM_SCHEMA = "bucket int, word_no bigint, word bigint"

# Default probes per key.  k is a THROUGHPUT knob, not a correctness one:
# a Bloom false positive only costs an exact-anti-join probe (never drops
# a URL), so lowering k trades a slightly higher FP fall-through rate for
# k/5 fewer probe rows through the build/probe shuffles — the dominant
# bandwidth term of the URL-seen stage at bulk scale.  Build and probe of
# one word table must use the SAME k; probing an existing table with a
# SMALLER k than it was built with is also safe (the probed subset of
# positions was set at build time — no false negatives, marginally more
# FPs).
_BLOOM_K = 5


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    return df.withColumn("url_hash", F.xxhash64(F.col(url_col))).withColumn(
        "bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")
    )


# ---------------------------------------------------------------------------
# Bloom word table — pure JVM column algebra (no Arrow boundary)
# ---------------------------------------------------------------------------
#
# The bloom is a SPARSE table of 64-bit words: (bucket, word_no, word),
# holding only words with ≥1 set bit.  Build and probe are whole-stage-
# codegen'd shift/and/or expressions plus equi-joins on (bucket,
# word_no) — no stage crosses the JVM↔Python Arrow boundary, which was
# the measured anti-scaling component on this host (pandas stages
# degrade ~10×/task above ~8-16 local python workers while pure-JVM
# stages scale normally; see BENCH/BASELINE.md).  At cluster scale the
# same shape holds: the probe side is bounded by the round batch (×k
# probes), the word table is bucketed storage co-partitioned with the
# frontier, and the bit_or merge is a map-side-combining aggregation.


def _probe_positions(df: DataFrame, m_bits: int, k: int = _BLOOM_K) -> DataFrame:
    """Explode df(bucket, url_hash) to k probe rows with (word_no, mask):
    double hashing h1 + j·h2 over the int64 url_hash, all long algebra
    (h1, h2 < 2^32 and k ≤ 5, so h1 + j·h2 < 2^35 — no overflow)."""
    staged = df.select(
        "bucket",
        "url_hash",
        F.col("url_hash").bitwiseAND(F.lit(0xFFFFFFFF)).alias("_h1"),
        F.shiftrightunsigned("url_hash", 32).bitwiseOR(F.lit(1)).alias("_h2"),
    )
    exploded = staged.select(
        "bucket",
        "url_hash",
        "_h1",
        "_h2",
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("_j"),
    )
    p = F.pmod(F.col("_h1") + F.col("_j").cast("long") * F.col("_h2"), F.lit(m_bits))
    return exploded.select(
        "bucket",
        "url_hash",
        F.shiftright(p, 6).alias("word_no"),
        F.expr("shiftleft(1L, int(pmod(_h1 + cast(_j as long) * _h2, {m}) % 64))".format(m=m_bits)).alias(
            "mask"
        ),
    )


def bloom_build(
    rows: DataFrame,
    prev_bloom: Optional[DataFrame],
    m_bits: int = 1 << 20,
    k: int = _BLOOM_K,
) -> DataFrame:
    """(Re)build per-bucket bloom words from rows(bucket, url_hash),
    merging into prev_bloom when given (incremental per round).

    Returns the full post-merge word set of the TOUCHED buckets only
    (rows' buckets); SnapshotTable.commit leaves untouched buckets on
    their old snapshot.  The merge is a bit_or aggregation — partial
    (map-side) combine, one shuffle keyed (bucket, word_no)."""
    hashes = rows.select("bucket", "url_hash")
    words = (
        _probe_positions(hashes, m_bits, k)
        .groupBy("bucket", "word_no")
        .agg(F.bit_or("mask").alias("word"))
    )
    if prev_bloom is not None:
        touched = hashes.select("bucket").distinct()
        prev_slice = prev_bloom.join(touched, "bucket", "left_semi")
        words = (
            words.unionByName(prev_slice.select("bucket", "word_no", "word"))
            .groupBy("bucket", "word_no")
            .agg(F.bit_or("word").alias("word"))
        )
    return words


def bloom_prefilter(
    links: DataFrame,
    bloom: Optional[DataFrame],
    m_bits: int = 1 << 20,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Append `maybe_seen`: False ⇒ definitively unseen (bloom negative).

    Probe shape: the candidate side thins to distinct (bucket,
    url_hash) × k probe rows, equi-joins the word table on (bucket,
    word_no), and a bool_and over the k probes gives the verdict —
    which joins back to the full link rows on (bucket, url_hash).
    All codegen'd; the link payload columns never ride the probe join.
    """
    if bloom is None:
        return links.withColumn("maybe_seen", F.lit(False))

    # no pre-distinct: duplicate (bucket, url_hash) probe rows collapse
    # in the verdict groupBy below anyway — a distinct here would just
    # add a shuffle in front of the aggregation that already dedups
    probes = _probe_positions(links.select("bucket", "url_hash"), m_bits, k)
    words = bloom.select("bucket", "word_no", "word")
    verdict = (
        probes.join(words, ["bucket", "word_no"], "left")
        .withColumn(
            "_hit",
            F.coalesce(F.col("word").bitwiseAND(F.col("mask")) == F.col("mask"), F.lit(False)),
        )
        .groupBy("bucket", "url_hash")
        .agg(F.bool_and("_hit").alias("maybe_seen"))
    )
    return links.join(verdict, ["bucket", "url_hash"], "left").withColumn(
        "maybe_seen", F.coalesce("maybe_seen", F.lit(False))
    )


# ---------------------------------------------------------------------------
# URL-seen dedup + merge
# ---------------------------------------------------------------------------

def urlseen_dedup(
    candidates: DataFrame,
    frontier: Optional[DataFrame],
    bloom: Optional[DataFrame],
    m_bits: int = 1 << 20,
    k: int = _BLOOM_K,
) -> DataFrame:
    """New-URL admission: batch-internal dedup (keep max crawl_recurse,
    min discovery order — se/document.py:692-693) → Bloom prefilter →
    exact anti-join on (url, collection_id) for bloom-positives only.

    Requires columns: url, url_hash, bucket, collection_id,
    crawl_recurse, disc_order.

    Anti-join shape (single pass): the Bloom verdict produces only the
    thin SUSPECT-HASH set; the seen side is semi-filtered on those
    8-byte hashes, and ONE exact anti-join runs over all deduped
    candidates against that slice.  This is provably identical to the
    split-and-union formulation (bloom-negatives are absent from the
    frontier, so the anti-join keeps them; any seen row matching a
    candidate on (url, collection_id) shares its url_hash, and every
    hash-matched candidate is necessarily bloom-positive, so the slice
    is complete) — but the probe DAG is traversed once instead of twice
    (the old definitely_new/suspects split recomputed the verdict join
    per branch; measured 2x the dedup phase).  At bulk scale the payoff
    is that the frontier is SCANNED, never shuffled: suspect hashes flow
    out of an aggregation, so AQE sees their runtime size and broadcasts
    the semi join when they are small (the common crawl round); when
    suspects are genuinely huge it degrades to an 8-byte-key shuffle —
    still ~7x thinner than URL strings — and only the hash-matched slice
    pays string bytes in the final anti-join.
    """
    deduped = candidates.groupBy("url", "url_hash", "bucket", "collection_id").agg(
        F.max("crawl_recurse").alias("crawl_recurse"),
        F.min("disc_order").alias("disc_order"),
        F.first("url_domain").alias("url_domain"),
        F.first("url_path").alias("url_path"),
    )
    if frontier is None:
        return deduped

    if bloom is None:
        # no filter info → every candidate hash is a suspect
        skeys = deduped.select("url_hash").distinct()
    else:
        # Bloom FPs fall through to the authoritative anti-join — an FP
        # only inflates the suspect-key set, never drops a URL
        skeys = (
            bloom_prefilter(deduped.select("bucket", "url_hash"), bloom, m_bits, k)
            .filter(F.col("maybe_seen"))
            .select("url_hash")
            .distinct()
        )
    seen = frontier
    if "url_hash" not in seen.columns:
        seen = seen.withColumn("url_hash", F.xxhash64(F.col("url")))
    seen_slice = (
        seen.select("url", "collection_id", "url_hash")
        .join(skeys, "url_hash", "left_semi")
        .select("url", "collection_id")
    )
    return deduped.join(seen_slice, ["url", "collection_id"], "left_anti")


def assign_ids(
    new_rows: DataFrame, round_no: int, base_rank: int = 0, n_parts: int = 32
) -> DataFrame:
    """Deterministic admission ordinal: id = round_no·2^32 + rank, ranked
    by within-round discovery order (parent rank, link ordinal) — the
    reproducible stand-in for the reference's autoincrement PK.

    Scale shape: a bare Window.orderBy would pull every inserted row of
    the round through ONE task (a 10^7-insert round dies there).  Instead:
    range-repartition on the rank key, per-partition row_number, then add
    per-partition offsets (a collect bounded by n_parts, never by rows).
    Range partitions are ordered, so offset + local rank reproduces the
    exact global (disc_order, url) rank regardless of boundary placement.

    The range-partitioned rows are materialized ONCE (eager
    localCheckpoint) and both the offset collect and the returned frame
    read that copy.  Spark seeds the range boundary sample with the RDD
    id, so two executions of the repartition cut different ranges as
    soon as an input partition holds more rows than the sample
    (~60·n_parts / input partitions): offsets from one cut added to
    local ranks from another gave 570 duplicate ids in 20k rows.  The
    input itself is read once, by the checkpoint.

    base_rank offsets the first id (seeding twice within one round must
    not reuse ranks).
    """
    part = (
        new_rows.repartitionByRange(n_parts, F.col("disc_order").asc(), F.col("url").asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local = part.withColumn(
        "_lr",
        F.row_number().over(
            Window.partitionBy("_pid").orderBy(F.col("disc_order").asc(), F.col("url").asc())
        ),
    )
    counts = {r["_pid"]: r["n"] for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, base_rank
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_col = F.lit(0).cast("long")
    for pid, off in offsets.items():
        off_col = F.when(F.col("_pid") == pid, F.lit(off).cast("long")).otherwise(off_col)
    return local.withColumn(
        "id",
        (F.lit(round_no).cast("long") * F.lit(1 << 32).cast("long")) + off_col + F.col("_lr"),
    ).drop("_pid", "_lr")


def merge_frontier(
    frontier: Optional[DataFrame],
    replacements: Optional[DataFrame],
    inserts: Optional[DataFrame],
) -> DataFrame:
    """MERGE: rows in `replacements` overwrite their (url, collection_id)
    match; `inserts` are new keys.  Caller commits only the touched
    buckets (SnapshotTable bucket-granular rewrite)."""
    parts = []
    if frontier is not None:
        if replacements is not None:
            keys = replacements.select("url", "collection_id")
            frontier = frontier.join(keys, ["url", "collection_id"], "left_anti")
        parts.append(frontier)
    if replacements is not None:
        parts.append(replacements)
    if inserts is not None:
        parts.append(inserts)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
