"""Streaming URL-seen dedup: a custom stateful operator
(applyInPandasWithState) — the Structured-Streaming spelling of F9.

The BSP engine dedups per round against the frontier snapshot
(operators/frontier.py); when discovered URLs arrive as a STREAM, the
idiomatic shape is per-bucket state in the state store: group by the
url-hash bucket, keep the bucket's seen-set as state, emit only
first-occurrences.

Identity is EXACT (url, collection_id) — the same identity the batch
engine's anti-join uses (frontier.py urlseen_dedup), so the same URL
in a second collection admits per-collection.  The state holds two
blobs per bucket: an int64 pair-hash array (the fast-path prefilter —
one vectorized isin per Arrow batch) and the zlib-packed exact key
set.  A hash positive falls through to the exact key check (the same
invariant the batch bloom obeys: a filter positive alone must never
drop a distinct URL), so an int64 collision cannot lose a URL.

Scale shape: state is partitioned by bucket exactly like the batch
engine's bloom blobs — each task owns its buckets' state, nothing is
broadcast, and the state store checkpoint makes the dedup resumable
across restarts (tested).  Per batch each touched bucket rewrites its
state blob, the same O(bucket state) cost profile as the snapshot
bloom; the batch engine remains the bulk path, this operator serves
continuous drip ingest.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sosse_spark.operators.frontier import with_bucket

__all__ = ["streaming_urlseen", "URLSEEN_STATE_SCHEMA"]

_LEGACY = "\x00legacy"  # marks buckets upgraded from hash-only state

URLSEEN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen_hashes", T.BinaryType()),
        T.StructField("seen_keys", T.BinaryType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("collection_id", T.IntegerType()),
    ]
)


def _dedupe_kernel(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import zlib

    import numpy as np

    if state.exists:
        tup = state.get
        hash_blob = tup[0]
        key_blob = tup[1] if len(tup) > 1 else None
        seen_hashes = (
            np.frombuffer(hash_blob, dtype=np.int64) if hash_blob else np.empty(0, dtype=np.int64)
        )
        if key_blob:
            exact = set(zlib.decompress(key_blob).decode("utf-8").split("\n"))
        else:
            # pre-exactness checkpoint (single hash blob): the exact
            # keys for those hashes are unrecoverable, so this bucket
            # keeps the old hash-level semantics permanently — a hash
            # positive counts as seen (the _LEGACY marker persists in
            # the key set).  Admitting on an empty exact set instead
            # would re-admit every previously-seen URL.
            exact = {_LEGACY}
    else:
        seen_hashes = np.empty(0, dtype=np.int64)
        exact = set()

    hash_parts = [seen_hashes]
    n_exact_before = len(exact)
    for pdf in pdfs:
        keys = (pdf["collection_id"].astype(str) + "|" + pdf["url"].astype(str)).to_numpy()
        h = pdf["pair_hash"].to_numpy(dtype=np.int64)
        first_in_batch = ~pd.Series(keys).duplicated().to_numpy()
        maybe_seen = np.isin(h, np.concatenate(hash_parts))
        fresh = first_in_batch & ~maybe_seen
        # hash positives fall through to the EXACT key check — a pair-
        # hash collision must not drop a distinct (url, collection_id).
        # (Legacy-upgraded buckets have no exact keys for their old
        # hashes, so there the positive stays a positive.)
        collide_idx = np.where(first_in_batch & maybe_seen)[0]
        if collide_idx.size and _LEGACY not in exact:
            exact_fresh = np.array([keys[i] not in exact for i in collide_idx])
            fresh[collide_idx[exact_fresh]] = True
        if fresh.any():
            hash_parts.append(h[fresh])
            exact.update(keys[fresh].tolist())
            yield pdf.loc[fresh, ["bucket", "url", "url_hash", "collection_id"]]

    if len(hash_parts) > 1 or len(exact) != n_exact_before:
        state.update(
            (
                np.concatenate(hash_parts).tobytes(),
                zlib.compress("\n".join(sorted(exact)).encode("utf-8")),
            )
        )


def streaming_urlseen(urls: DataFrame, n_buckets: int = 16) -> DataFrame:
    """urls: streaming DataFrame with (url, collection_id) — returns the
    first-ever occurrence of each exact (url, collection_id) pair
    across ALL micro-batches (state-store backed, restart-safe).

    bucket/url_hash come from frontier.with_bucket, the batch engine's
    own rule — pmod(xxhash64(url), n_buckets) — so the emitted
    bucket column lines up with the frontier's bucket-granular commit
    when the caller passes the engine's n_buckets (default 16, the
    CrawlEngine default).

    Checkpoint compatibility: n_buckets is part of the state key —
    keep it constant for the life of a checkpoint (changing it re-keys
    the groups).  Checkpoints from the pre-exactness version carried a
    single-blob state schema; if the state store accepts the widened
    schema, such buckets are upgraded in place and keep hash-level
    semantics for their old keys (see _dedupe_kernel); if the store
    rejects the schema change, start a fresh checkpoint directory.
    """
    keyed = with_bucket(urls, n_buckets).withColumn(
        "pair_hash", F.xxhash64("url", "collection_id")
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _dedupe_kernel,
        outputStructType=_OUT_SCHEMA,
        stateStructType=URLSEEN_STATE_SCHEMA,
        outputMode="append",  # first-occurrences only — never retracted
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
