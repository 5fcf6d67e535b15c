"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; OR-amplified random-
hyperplane LSH (b independent band tables of r planes each) as the scale
path — candidate generation is an equi-join on the thin
(_id, band_no, band_sig) key, then exact re-scoring of the candidates.

Recall math (sign LSH): a pair at angle θ agrees on one plane with
p = 1 − θ/π, on one r-plane band with p^r, and on ≥1 of b bands with
1 − (1−p^r)^b.  A single AND-only signature (b=1) has essentially zero
recall at θ ≈ 60° (cos 0.5) — `bands_for_threshold` derives b from the
operating threshold + target recall instead of hard-coding it.

All dot products are JVM-side (`aggregate`/`zip_with`); no Python UDFs.
"""

from __future__ import annotations

import math
from typing import Optional

# pandas is imported at module level so the type-hinted pandas UDF
# signatures (stringified by `from __future__ import annotations`)
# resolve via typing.get_type_hints
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cosine_sim",
    "brute_force_topk",
    "bands_for_threshold",
    "banded_signatures",
    "lsh_topk",
    "embedding_near_dup_pairs",
    "semantic_dedup",
    "ivf_train",
    "ivf_assign",
    "ivf_topk",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
    "sq_train",
    "sq_encode",
    "sq_topk",
]


def _dot(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Dot product.  With `dim` known, an UNROLLED left-fold chain
    ((0.0 + a1·b1) + a2·b2) + … — the same association order as the HOF
    fold, so the IEEE result is bit-identical — and whole-stage-codegen
    compiled instead of interpreted per element.  CAVEAT (measured):
    Catalyst + janino pay ~2-3 s PER QUERY to plan/compile the ~6·dim-
    node tree at dim=64, while the interpreted fold sustains ~4M
    element-ops/s — so unrolling only wins when a single query scores
    tens of millions of elements.  The built-in rescore paths therefore
    stay on the HOF fold (their candidate sets are bounded); pass `dim`
    explicitly for corpus-sized exact scans."""
    if dim:
        acc: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + a.getItem(i - 1) * b.getItem(i - 1)
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column, dim: Optional[int] = None) -> Column:
    if dim:
        acc: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + a.getItem(i - 1) * a.getItem(i - 1)
        return F.sqrt(acc)
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_sim(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


# Every *_topk entry point broadcasts or driver-collects the query
# side — the "small query batch" contract.  The guard makes the
# contract enforced rather than trusted: an oversized query set fails
# fast with a chunking instruction instead of OOMing the driver.
MAX_QUERY_BATCH = 100_000


def _guard_query_batch(queries: DataFrame, cap: Optional[int]) -> None:
    cap = cap if cap is not None else MAX_QUERY_BATCH
    if queries.limit(cap + 1).count() > cap:
        raise ValueError(
            f"ANN query batch exceeds max_query_batch={cap}: the query side is "
            "broadcast/driver-collected by design — split the queries into "
            "chunks of at most that size (or raise max_query_batch if the "
            "driver genuinely has the memory)"
        )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_batch: Optional[int] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """Exact cosine top-k per query: cross-join (queries broadcast — the
    query set is the small side), score, per-query window rank.

    Pass `dim` when the vector width is statically known: the cosine
    compiles to an unrolled whole-stage-codegen chain (bit-identical
    result) instead of an interpreted HOF fold.

    → (query_id, vec_id, cos_sim, rank), rank 1..k, ties broken by id.
    """
    _guard_query_batch(queries, max_query_batch)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine_sim(F.col(vec_col), F.col("_qvec"), dim), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random unit hyperplanes — GAUSSIAN entries via a
    seeded PCG64, which makes directions uniform on the sphere.  (A raw
    LCG stream chunked into vectors has severe lattice correlation:
    measured mean pairwise |cos| ≈ 0.75 between 'planes', i.e. they all
    point the same way — sign-LSH recall collapses for pairs orthogonal
    to that common direction.  That was round 1's 0-of-14 recall bug.)"""
    import numpy as np

    rng = np.random.default_rng(seed)
    p = rng.standard_normal((n_planes, dim))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    return p.tolist()


def bands_for_threshold(
    threshold: float,
    rows_per_band: int = 8,
    target_recall: float = 0.98,
    max_bands: int = 256,
) -> int:
    """Smallest b with 1 − (1−p^r)^b ≥ target_recall at the threshold
    angle.  For real near-dup thresholds (0.9+) this is a handful of
    bands; at θ≈60° (cos 0.5, barely above random) it grows large — the
    honest cost of that operating point."""
    p1 = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    pr = p1 ** rows_per_band
    if pr >= 1.0:
        return 1
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))
    return max(1, min(int(b), max_bands))


def banded_signatures(
    df: DataFrame,
    dim: int,
    bands: int,
    rows_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """→ thin (_id, band_no, band_sig): one row per (vector, band); the
    band_sig int packs the r plane sign bits of that band.  Only these
    three scalar columns ride the candidate shuffle — never the vector.

    Signatures are ONE numpy matrix multiply per Arrow batch
    (n×dim @ dim×(b·r) sign projection, then a bit-weight fold per
    band) inside a vectorized pandas UDF — at 100+ bands an
    expression-tree formulation would blow up codegen, and the matrix
    product is exactly what BLAS is for."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    planes = np.array(_hyperplanes(dim, bands * rows_per_band, seed)).T  # (dim, b·r)
    weights = np.array([1 << i for i in range(rows_per_band)], dtype=np.int64)

    def _sigs(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy())  # (n, dim)
        bits = (v @ planes) > 0  # (n, b·r)
        packed = bits.reshape(len(v), bands, rows_per_band) @ weights  # (n, b)
        return pd.Series(list(packed.astype(np.int32)))

    sigs = pandas_udf(_sigs, T.ArrayType(T.IntegerType()))

    return df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(sigs(F.col(vec_col))).alias("band_no", "band_sig"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bands: int = 16,
    rows_per_band: int = 8,
    fill_min_candidates: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    max_query_batch: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k: OR-amplified band join (b tables of r planes),
    exact rescoring of the candidate union.  Queries whose candidate set
    is starved (< fill_min_candidates, default 8·k) fall back to an
    exact scan — the fallback side is (few starved queries) × corpus, a
    bounded second pass, so every query always returns k rows.
    """
    _guard_query_batch(queries, max_query_batch)
    fill_min = fill_min_candidates if fill_min_candidates is not None else 8 * k
    from sosse_spark.partitioning import fanout

    # corpus-side signatures are a CPU-bound Arrow stage over a narrow
    # scan — fan out to the session parallelism (the query side stays
    # as-is: repartitioning a handful of query rows only adds a stage)
    c_sig = banded_signatures(fanout(corpus), dim, bands, rows_per_band, id_col, vec_col, seed)
    q_sig = banded_signatures(queries, dim, bands, rows_per_band, query_id_col, vec_col, seed)

    cand = (
        c_sig.join(
            F.broadcast(q_sig.withColumnRenamed("_id", "_qid")),
            ["band_no", "band_sig"],
        )
        .select(F.col("_qid").alias(query_id_col), F.col("_id").alias(id_col))
        .dropDuplicates([query_id_col, id_col])
    )

    # starved queries → exact scan (anti-join keeps this set small)
    cand_counts = cand.groupBy(query_id_col).count()
    starved = (
        queries.join(
            F.broadcast(cand_counts.filter(F.col("count") >= fill_min)),
            query_id_col,
            "left_anti",
        )
        .select(query_id_col, vec_col)
    )
    fallback = corpus.select(F.col(id_col)).crossJoin(
        F.broadcast(starved.select(query_id_col))
    )
    all_cand = cand.unionByName(fallback).dropDuplicates([query_id_col, id_col])

    qv = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    cv = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    scored = (
        all_cand.join(F.broadcast(qv), query_id_col)
        .join(cv, id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine_sim(F.col("_cvec"), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_train(
    corpus: DataFrame,
    n_centroids: int,
    iters: int = 8,
    max_train: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic IVF centroid training: Lloyd k-means on a bounded,
    hash-ordered sample (the FAISS-style recipe — training on a ≤100k
    sample is standard; the index build and search stay distributed).

    Sample selection is `ORDER BY xxhash64(id) LIMIT max_train` — a
    deterministic pseudo-random subset independent of row order.  The
    collect is bounded by max_train, never by corpus size.  Vectors are
    L2-normalized before clustering so argmin-L2 ≡ argmax-cosine.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(max_train)
        .collect()
    )
    x = np.array([r["_v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)].copy()
    for _ in range(iters):
        # (n, c) cosine scores; argmax assignment; mean re-center
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def _cell_udf(centroids: list[list[float]], n_probe: int):
    """pandas UDF: vectors → array of the n_probe nearest centroid ids
    (ONE BLAS matrix multiply per Arrow batch — never a ×C row blowup)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    c = np.array(centroids, dtype=np.float64).T  # (dim, C)

    def _cells(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        scores = v @ c  # (n, C)
        top = np.argsort(-scores, axis=1)[:, :n_probe]
        return pd.Series(list(top.astype(np.int32)))

    return pandas_udf(_cells, T.ArrayType(T.IntegerType()))


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index build: → (id, cell).  One vectorized pass; at corpus scale
    this table is what gets partitioned/bucketed BY cell so a probe
    touches only its cells' partitions."""
    from sosse_spark.partitioning import fanout

    cell = _cell_udf(centroids, 1)
    return fanout(corpus).select(
        F.col(id_col), cell(F.col(vec_col)).getItem(0).alias("cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    fill_min_candidates: Optional[int] = None,
    assignment: Optional[DataFrame] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_batch: Optional[int] = None,
) -> DataFrame:
    """IVF approximate top-k: probe the query's n_probe nearest cells,
    exact-rescore only their members.  Starved queries (< max(k,
    fill_min) candidates in the probed cells) fall back to an exact
    scan, so every query returns k rows (same contract as lsh_topk).

    Scale shape: candidate generation is an equi-join corpus_cells ⋈
    broadcast(query probe cells) on `cell` — cost is Σ|probed cell|,
    never corpus × queries.  Pass a precomputed `assignment` (the
    persisted index) to skip the assignment pass.
    """
    _guard_query_batch(queries, max_query_batch)
    fill_min = fill_min_candidates if fill_min_candidates is not None else 2 * k
    cells = assignment if assignment is not None else ivf_assign(corpus, centroids, id_col, vec_col)
    probe = _cell_udf(centroids, n_probe)
    q_cells = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    )
    cand = (
        cells.join(F.broadcast(q_cells), "cell")
        .select(F.col("_qid").alias(query_id_col), F.col(id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    cand_counts = cand.groupBy(query_id_col).count()
    starved = queries.join(
        F.broadcast(cand_counts.filter(F.col("count") >= max(fill_min, k))),
        query_id_col,
        "left_anti",
    ).select(query_id_col)
    fallback = corpus.select(F.col(id_col)).crossJoin(F.broadcast(starved))
    all_cand = cand.unionByName(fallback).dropDuplicates([query_id_col, id_col])

    qv = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    cv = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    scored = (
        all_cand.join(F.broadcast(qv), query_id_col)
        .join(cv, id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine_sim(F.col("_cvec"), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _blocked_exact_candidates(
    df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    margin: float = 1e-4,
    target_block: int = 1024,
) -> DataFrame:
    """Exact near-threshold candidate pairs via a blocked BLAS all-pairs
    scan — the honest algorithm when the similarity threshold is so low
    that sign-LSH banding degenerates toward all-pairs anyway (guide §8:
    decide with small batches of dense math, not with a quadratic join).

    Rows are hash-assigned to G = ⌈n / target_block⌉ blocks; each row is
    replicated to the G grid cells (min(g,p), max(g,p)) so every
    unordered block pair meets in exactly one applyInPandas group, where
    one normalized matmul scores all cross/within pairs and only those
    with UNROUNDED numpy cosine ≥ threshold − margin are emitted.  That
    set is a strict superset of the true round-6 pairs (numpy vs JVM
    float sums differ by ulps ≪ margin), so the caller's exact JVM
    verify reproduces the brute-force output bit-for-bit.

    Cost shape: n·G replicated thin rows through ONE exchange, then
    n²·dim/2 multiply-adds in BLAS — at threshold ~0.5 the banded join
    would emit ~40% of all n² pairs as candidate ROWS through a shuffle,
    which loses to dense FLOPs by orders of magnitude.
    """
    import pandas as pd

    n = df.count()
    G = max(1, math.ceil(n / target_block))
    rep = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(G)).alias("_g"),
        )
        .select(
            "_id",
            "_v",
            "_g",
            F.explode(F.sequence(F.lit(0), F.lit(G - 1))).alias("_p"),
        )
        .select(
            "_id",
            "_v",
            "_g",
            F.least("_g", "_p").alias("_ci"),
            F.greatest("_g", "_p").alias("_cj"),
        )
    )
    cut = float(threshold - margin)

    def _pairs(key, pdf):
        import numpy as np

        ci, cj = int(key[0]), int(key[1])
        # replication emits each row exactly once per partner block, so
        # every cell (incl. the diagonal) holds one copy per member
        ids = pdf["_id"].to_numpy()
        v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        if ci == cj:
            c = v @ v.T
            ia, ib = np.nonzero(np.triu(c >= cut, k=1))
            id_a, id_b = ids[ia], ids[ib]
        else:
            ga = pdf["_g"].to_numpy() == ci
            va_, vb_ = v[ga], v[~ga]
            ids_a, ids_b = ids[ga], ids[~ga]
            c = va_ @ vb_.T
            ia, ib = np.nonzero(c >= cut)
            id_a, id_b = ids_a[ia], ids_b[ib]
        swap = id_b < id_a  # np.minimum rejects object (string) ids
        lo = np.where(swap, id_b, id_a)
        hi = np.where(swap, id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    t = df.schema[id_col].dataType.simpleString()
    return rep.groupBy("_ci", "_cj").applyInPandas(_pairs, f"id_a {t}, id_b {t}")


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    rows_per_band: int = 8,
    bands: Optional[int] = None,
    target_recall: float = 0.995,
    dim: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs → (id_a < id_b, cos_sim
    ≥ threshold), exact-verified with the JVM round-6 cosine.

    Candidate generation picks its algorithm from the operating point:

      * HIGH thresholds (the real near-dup regime, 0.9+): OR-amplified
        sign-LSH band self-join on the thin (band_no, band_sig) key →
        pair dedup → verify.  b defaults to `bands_for_threshold(
        threshold, r, target_recall)` so recall is an input, not an
        accident, and the candidate join never carries vectors.
      * LOW thresholds: when the banding sized for target_recall would
        pass more than ~5% of RANDOM (orthogonal) pairs as candidates —
        1 − (1 − 2^−r)^b > 0.05 — the band join degenerates toward an
        all-pairs join routed through shuffle machinery, and the blocked
        BLAS all-pairs kernel (`_blocked_exact_candidates`) is both
        cheaper by orders of magnitude AND exactly recall-1.  Measured
        at threshold 0.5 / 20k vectors: 473 s (driver, banded) → the
        kernel's n²·dim/2 multiply-adds take seconds.

    Both paths feed the SAME exact verification join, so the output is
    identical (the kernel's candidate cut carries an ulps-covering
    margin below the threshold).
    """
    if bands is None:
        bands = bands_for_threshold(threshold, rows_per_band, target_recall)
    random_pair_fraction = 1.0 - (1.0 - 0.5 ** rows_per_band) ** bands
    if random_pair_fraction > 0.05:
        cand = _blocked_exact_candidates(df, threshold, id_col, vec_col)
    else:
        from sosse_spark.partitioning import fanout

        sig = banded_signatures(fanout(df), dim, bands, rows_per_band, id_col, vec_col, seed)
        a, b = sig.alias("a"), sig.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_no") == F.col("b.band_no"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6).alias("cos_sim"),
        )
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def _semantic_cell_udf(centroids: list[list[float]]):
    """pandas UDF: vector → nearest-centroid index by cosine (ONE BLAS
    matmul per Arrow batch).  Scores are rounded to 6 decimals before
    the argmax and ties break to the LOWEST centroid index, so the
    assignment is reproducible by any engine that computes round-6
    cosine (the DuckDB oracle does exactly that)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    c = np.array(centroids, dtype=np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    def _cells(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        scores = np.round(v @ c.T, 6)
        return pd.Series(np.argmax(scores, axis=1).astype(np.int32))

    return pandas_udf(_cells, T.IntegerType())


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — cluster, then dedup only WITHIN clusters):
    assign every vector to its nearest centroid, self-join the thin
    (id, cell) table on cell, exact-rescore candidate pairs, and mark
    every row that has a lower-id cluster-mate at cosine >= threshold
    as a duplicate of the smallest such id (min-id representative wins
    — deterministic, like dedup.py's exact/minhash keep rules).

    → (id_col, cell, dup_of, is_dup): one row per input row; dup_of is
    NULL for kept representatives.

    Scale shape: the quadratic term is bounded per cluster — cost is
    Σ|cell|², never n² (the clustering IS the blocking key, which is
    the SemDeDup recipe's point).  The self-join carries only (id,
    cell) scalars; vectors join back once for the exact verify.
    Centroids come from `ivf_train` (bounded-sample Lloyd) or any
    deterministic rule; they ride inside the UDF closure (broadcast).
    """
    from sosse_spark.partitioning import fanout

    cells = fanout(corpus).select(
        F.col(id_col).alias("_id"),
        _semantic_cell_udf(centroids)(F.col(vec_col)).alias("cell"),
    )
    a = cells.select(F.col("_id").alias("id_a"), "cell")
    b = cells.select(F.col("_id").alias("id_b"), "cell")
    cand = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    dup = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6).alias("cs"),
        )
        .filter(F.col("cs") >= threshold)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        cells.join(dup, cells["_id"] == dup["id_b"], "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression scale path
# ---------------------------------------------------------------------------

def pq_train(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 32,
    iters: int = 8,
    max_train: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list:
    """Train PQ codebooks (the FAISS IndexPQ recipe, Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search" — public): split
    the (L2-normalized) vector into m_sub sub-vectors, k-means each
    sub-space to n_codes centroids on a bounded hash-ordered sample.

    → nested list (m_sub, n_codes, dim/m_sub).  Same bounded-collect
    contract as ivf_train: driver holds ≤ max_train sample rows and the
    codebooks, never the corpus.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(max_train)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: corpus is empty — nothing to train on")
    x = np.array([r["_v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dsub = x.shape[1] // m_sub
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m_sub):
        xs = x[:, s * dsub : (s + 1) * dsub]
        k = min(n_codes, len(xs))
        cents = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def _pq_code_udf(codebooks: list):
    """pandas UDF: vectors → m_sub nearest-centroid codes (one argmin
    per sub-space, vectorized per Arrow batch)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]

    def _codes(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(v), len(books)), dtype=np.int32)
        for s, cb in enumerate(books):
            xs = v[:, s * dsub : (s + 1) * dsub]
            # ||x-c||² = ||x||² − 2x·c + ||c||²; argmin needs only the
            # last two terms — one BLAS matmul per sub-space
            d = -2.0 * (xs @ cb.T) + (cb ** 2).sum(axis=1)[None, :]
            out[:, s] = d.argmin(axis=1)
        return pd.Series(list(out))

    return pandas_udf(_codes, T.ArrayType(T.IntegerType()))


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index build: → (id, codes array<int> of length m_sub).  The codes
    table is the object that lives in memory at 100 TB scale — m_sub
    bytes per vector instead of 4·dim; the float vectors stay in cold
    storage and are fetched only for the exact re-rank of shortlists."""
    from sosse_spark.partitioning import fanout

    code = _pq_code_udf(codebooks)
    return fanout(corpus).select(F.col(id_col), code(F.col(vec_col)).alias("codes"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 5,
    shortlist_mult: int = 4,
    codes: Optional[DataFrame] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_batch: Optional[int] = None,
) -> DataFrame:
    """PQ-ADC top-k with exact re-rank: per query build the (m_sub ×
    n_codes) dot-product lookup table, score every code row by m_sub
    table lookups + a sum (asymmetric distance computation), keep a
    shortlist of shortlist_mult·k per query, then exact-rescore ONLY
    the shortlist against the true vectors.

    → (query_id, vec_id, cos_sim, rank), rank 1..k — identical contract
    to brute_force_topk; with a generous shortlist the output equals
    the exact top-k (oracle-checked), and the sub-generous regime is
    recall-pinned in tests.

    Scale shape: the scan side touches only (id, codes) — m_sub ints a
    row; queries (with their ADC tables) broadcast inside the kernel;
    true vectors join back once for shortlist_mult·k·|Q| rows.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    _guard_query_batch(queries, max_query_batch)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    q_rows = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv")).collect()
    if not q_rows:
        return (
            corpus.select(F.col(id_col))
            .limit(0)
            .select(
                F.lit(None).cast("long").alias(query_id_col),
                F.col(id_col),
                F.lit(0.0).alias("cos_sim"),
                F.lit(0).alias("rank"),
            )
        )
    q_ids = [r["_qid"] for r in q_rows]
    qv = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
    qv /= np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    # ADC tables: (Q, m_sub, n_codes) of q_sub · codebook — cosine on
    # normalized inputs decomposes as the sum of sub-space dots
    tables = np.stack(
        [np.stack([qv[:, s * dsub : (s + 1) * dsub] @ cb.T for s, cb in enumerate(books)], axis=1)]
    )[0]  # (Q, m, n_codes)

    out_schema = T.StructType(
        [
            T.StructField("_qid", T.LongType()),
            T.StructField("_id", T.LongType()),
            T.StructField("approx", T.DoubleType()),
        ]
    )
    shortlist_n = shortlist_mult * k

    def _scan(batches):
        for pdf in batches:
            codes_arr = np.stack(pdf["codes"].to_numpy())  # (n, m)
            ids = pdf["_id"].to_numpy()
            # (Q, n): sum over sub-spaces of table[q, s, code]
            scores = np.zeros((len(q_ids), len(ids)))
            for s in range(codes_arr.shape[1]):
                scores += tables[:, s, :][:, codes_arr[:, s]]
            # per-batch per-query shortlist keeps emitted rows bounded;
            # lexsort (score desc, id asc — last key primary) makes the
            # cut deterministic under ties, so the shortlist cannot
            # depend on input partitioning
            top = min(shortlist_n, len(ids))
            out_ids, out_scores = [], []
            for qi in range(len(q_ids)):
                sc = scores[qi]
                if len(ids) > top:
                    # argpartition to the cut first, then include every
                    # row TYING the cut score before the exact
                    # (score desc, id asc) sort of that slice — same
                    # result as the full per-query lexsort at
                    # O(n + m log m) instead of O(n log n) (ADVICE r5)
                    part = np.argpartition(-sc, top - 1)[:top]
                    cut = sc[part].min()
                    cand = np.nonzero(sc >= cut)[0]
                else:
                    cand = np.arange(len(ids))
                order = cand[np.lexsort((ids[cand], -sc[cand]))][:top]
                out_ids.append(ids[order])
                out_scores.append(sc[order])
            yield pd.DataFrame(
                {
                    "_qid": np.repeat(q_ids, top),
                    "_id": np.concatenate(out_ids),
                    "approx": np.concatenate(out_scores),
                }
            )

    code_rows = (codes if codes is not None else pq_encode(corpus, codebooks, id_col, vec_col)).select(
        F.col(id_col).alias("_id"), "codes"
    )
    scored = code_rows.mapInPandas(_scan, out_schema)
    w_short = Window.partitionBy("_qid").orderBy(F.col("approx").desc(), F.col("_id").asc())
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist_n)
        .select(F.col("_qid").alias(query_id_col), F.col("_id").alias(id_col))
    )
    qvdf = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    cvdf = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    exact = (
        shortlist.join(F.broadcast(qvdf), query_id_col)
        .join(cvdf, id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine_sim(F.col("_cvec"), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return exact.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    codebooks: list,
    k: int = 5,
    n_probe: int = 4,
    shortlist_mult: int = 4,
    fill_min_candidates: Optional[int] = None,
    assignment: Optional[DataFrame] = None,
    codes: Optional[DataFrame] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_batch: Optional[int] = None,
) -> DataFrame:
    """IVF+PQ top-k (the FAISS IndexIVFPQ composition): IVF cells bound
    WHICH vectors are candidates (Σ|probed cell|, never corpus×queries),
    PQ-ADC bounds WHAT is read per candidate (m ints, not 4·dim floats),
    a per-query shortlist of shortlist_mult·k survives to the exact
    re-rank against true vectors.  Starved queries (probed cells hold
    < max(k, fill_min) members) fall back to an exact scan, so every
    query returns k rows — the same contract as lsh/ivf/pq_topk.

    At 100 TB the resident index is (id, cell) + (id, codes); float
    vectors stay in cold storage and are read for |Q|·shortlist rows a
    query batch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    _guard_query_batch(queries, max_query_batch)
    fill_min = fill_min_candidates if fill_min_candidates is not None else 2 * k
    q_rows = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv")).collect()
    if not q_rows:
        return (
            corpus.select(F.col(id_col))
            .limit(0)
            .select(
                F.lit(None).cast("long").alias(query_id_col),
                F.col(id_col),
                F.lit(0.0).alias("cos_sim"),
                F.lit(0).alias("rank"),
            )
        )
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    qv = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
    qv /= np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    tables = np.stack(
        [qv[:, s * dsub : (s + 1) * dsub] @ cb.T for s, cb in enumerate(books)], axis=1
    )  # (Q, m, n_codes)
    qid_to_idx = {r["_qid"]: i for i, r in enumerate(q_rows)}

    # --- IVF candidate generation (cells equi-join, starved fallback) --
    cells = assignment if assignment is not None else ivf_assign(corpus, centroids, id_col, vec_col)
    probe = _cell_udf(centroids, n_probe)
    q_cells = queries.select(
        F.col(query_id_col).alias("_qid"), F.explode(probe(F.col(vec_col))).alias("cell")
    )
    cand = (
        cells.join(F.broadcast(q_cells), "cell")
        .select(F.col("_qid").alias(query_id_col), F.col(id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    cand_counts = cand.groupBy(query_id_col).count()
    starved = queries.join(
        F.broadcast(cand_counts.filter(F.col("count") >= max(fill_min, k))),
        query_id_col,
        "left_anti",
    ).select(query_id_col)
    fallback = corpus.select(F.col(id_col)).crossJoin(F.broadcast(starved))
    all_cand = cand.unionByName(fallback).dropDuplicates([query_id_col, id_col])

    # --- PQ-ADC approx scoring of candidates only ----------------------
    code_rows = (codes if codes is not None else pq_encode(corpus, codebooks, id_col, vec_col))
    with_codes = all_cand.join(code_rows.select(F.col(id_col), "codes"), id_col)

    def _adc(qids: pd.Series, code_s: pd.Series) -> pd.Series:
        c = np.stack(code_s.to_numpy())  # (n, m)
        qi = qids.map(qid_to_idx).to_numpy()
        total = np.zeros(len(c))
        for s in range(c.shape[1]):
            total += tables[qi, s, c[:, s]]
        return pd.Series(total)

    adc = pandas_udf(_adc, T.DoubleType())
    scored_approx = with_codes.select(
        query_id_col, id_col, adc(F.col(query_id_col), F.col("codes")).alias("approx")
    )
    shortlist_n = shortlist_mult * k
    w_short = Window.partitionBy(query_id_col).orderBy(F.col("approx").desc(), F.col(id_col).asc())
    shortlist = (
        scored_approx.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist_n)
        .select(query_id_col, id_col)
    )

    # --- exact re-rank of the shortlist --------------------------------
    qvdf = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    cvdf = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    exact = (
        shortlist.join(F.broadcast(qvdf), query_id_col)
        .join(cvdf, id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine_sim(F.col("_cvec"), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return exact.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sq_train(
    corpus: DataFrame,
    max_train: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Train a scalar quantizer (the FAISS IndexScalarQuantizer QT_8bit
    recipe — public): per-dimension [vmin, vmax] bounds taken over a
    bounded hash-ordered sample of L2-NORMALIZED vectors; each dimension
    later encodes to round((x - vmin) / (vmax - vmin) * 255) clipped to
    [0, 255].

    -> [vmin list, vmax list].  Same bounded-collect contract as
    ivf_train / pq_train: the driver holds <= max_train sample rows and
    2*dim floats, never the corpus.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(max_train)
        .collect()
    )
    if not rows:
        raise ValueError("sq_train: corpus is empty — nothing to train on")
    x = np.array([r["_v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return [x.min(axis=0).tolist(), x.max(axis=0).tolist()]


def _sq_code_udf(bounds: list):
    """pandas UDF: vectors -> dim uint8 codes (normalize, affine-map to
    [0,255], round via np.floor(x+0.5) = HALF_UP — matching Spark
    F.round / DuckDB round, NOT np.rint's banker's rounding, so oracle
    twins can recompute codes in SQL), vectorized per Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    vmin = np.array(bounds[0], dtype=np.float64)
    span = np.maximum(np.array(bounds[1], dtype=np.float64) - vmin, 1e-12)

    def _codes(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        scaled = (v - vmin[None, :]) / span[None, :] * 255.0
        codes = np.clip(np.floor(scaled + 0.5), 0.0, 255.0).astype(np.int32)
        return pd.Series(list(codes))

    return pandas_udf(_codes, T.ArrayType(T.IntegerType()))


def sq_encode(
    corpus: DataFrame,
    bounds: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index build: -> (id, codes array<int> of length dim, one byte of
    information each).  At 100 TB the resident index is dim bytes per
    vector (4x smaller than float32, 8x smaller than the float64 the
    exact path computes in); the float vectors stay in cold storage and
    are fetched only for the exact re-rank of shortlists."""
    from sosse_spark.partitioning import fanout

    code = _sq_code_udf(bounds)
    return fanout(corpus).select(F.col(id_col), code(F.col(vec_col)).alias("codes"))


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    bounds: list,
    k: int = 5,
    shortlist_mult: int = 4,
    codes: Optional[DataFrame] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_batch: Optional[int] = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) top-k with exact re-rank, completing the
    FAISS index family next to lsh/ivf/pq/ivfpq_topk.  The asymmetric
    score of a code row against a (full-precision, normalized) query is
    AFFINE in the codes:

        q . x_hat = sum_d q_d*(vmin_d + code_d/255*span_d)
                  = (q . vmin) + (q*span/255) . code

    so the scan is ONE matmul per Arrow batch (codes @ W.T + c) over the
    codes-only table, a per-query shortlist of shortlist_mult*k
    survives, and only the shortlist is exactly re-scored against true
    vectors.  -> (query_id, vec_id, cos_sim, rank) — identical contract
    to brute_force_topk; with 8-bit codes the reconstruction error is
    ~span/510 per dimension, so a modest shortlist recovers the exact
    top-k (oracle-checked at sf0.001/0.01/0.1; the driver gate runs
    sf0.01).

    Scale shape: the scan side touches only (id, codes); queries (with
    their affine weights) ride inside the kernel closure; true vectors
    join back once for shortlist_mult*k*|Q| rows.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    _guard_query_batch(queries, max_query_batch)
    q_rows = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv")).collect()
    if not q_rows:
        return (
            corpus.select(F.col(id_col))
            .limit(0)
            .select(
                F.lit(None).cast("long").alias(query_id_col),
                F.col(id_col),
                F.lit(0.0).alias("cos_sim"),
                F.lit(0).alias("rank"),
            )
        )
    vmin = np.array(bounds[0], dtype=np.float64)
    span = np.maximum(np.array(bounds[1], dtype=np.float64) - vmin, 1e-12)
    q_ids = [r["_qid"] for r in q_rows]
    qv = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
    qv /= np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    weights = qv * span[None, :] / 255.0  # (Q, dim)
    consts = qv @ vmin  # (Q,)

    out_schema = T.StructType(
        [
            T.StructField("_qid", T.LongType()),
            T.StructField("_id", T.LongType()),
            T.StructField("approx", T.DoubleType()),
        ]
    )
    shortlist_n = shortlist_mult * k

    def _scan(batches):
        for pdf in batches:
            codes_arr = np.stack(pdf["codes"].to_numpy()).astype(np.float64)  # (n, dim)
            ids = pdf["_id"].to_numpy()
            scores = weights @ codes_arr.T + consts[:, None]  # (Q, n)
            top = min(shortlist_n, len(ids))
            # deterministic per-batch shortlist: lexsort (last key is
            # primary) ranks by score desc THEN id asc, so ties at the
            # cut boundary cannot evict a lower-id true-top-k member —
            # argpartition's arbitrary tie handling made the result
            # depend on input partitioning
            out_ids, out_scores = [], []
            for qi in range(len(q_ids)):
                sc = scores[qi]
                if len(ids) > top:
                    # argpartition to the cut first, then include every
                    # row TYING the cut score before the exact
                    # (score desc, id asc) sort of that slice — same
                    # result as the full per-query lexsort at
                    # O(n + m log m) instead of O(n log n) (ADVICE r5)
                    part = np.argpartition(-sc, top - 1)[:top]
                    cut = sc[part].min()
                    cand = np.nonzero(sc >= cut)[0]
                else:
                    cand = np.arange(len(ids))
                order = cand[np.lexsort((ids[cand], -sc[cand]))][:top]
                out_ids.append(ids[order])
                out_scores.append(sc[order])
            yield pd.DataFrame(
                {
                    "_qid": np.repeat(q_ids, top),
                    "_id": np.concatenate(out_ids),
                    "approx": np.concatenate(out_scores),
                }
            )

    code_rows = (codes if codes is not None else sq_encode(corpus, bounds, id_col, vec_col)).select(
        F.col(id_col).alias("_id"), "codes"
    )
    scored = code_rows.mapInPandas(_scan, out_schema)
    w_short = Window.partitionBy("_qid").orderBy(F.col("approx").desc(), F.col("_id").asc())
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist_n)
        .select(F.col("_qid").alias(query_id_col), F.col("_id").alias(id_col))
    )
    qvdf = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    cvdf = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    exact = (
        shortlist.join(F.broadcast(qvdf), query_id_col)
        .join(cvdf, id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine_sim(F.col("_cvec"), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return exact.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
