"""LAION-style image+caption pair curation: size/aspect/caption gates +
a CLIP-cosine alignment filter over deterministic stub embeddings.

This is the training-data step immediately DOWNSTREAM of the engine's
image crawl (the BASELINE.json input_hint table: image_id, bytes, w, h,
fmt, caption, phash).  Public pipeline being re-expressed: LAION-400M
(Schuhmann et al. 2021, arXiv:2111.02114 §2 "Filtering") and LAION-5B
(Schuhmann et al. 2022, arXiv:2210.08402 §3.2) drop web-crawled pairs
with (a) captions shorter than a word/char floor, (b) images below a
pixel floor or beyond an aspect-ratio cap, (c) CLIP image-text cosine
similarity under a threshold (0.3 for LAION-400M English).

The sandbox has no CLIP model, so — exactly like the audio/video stub
policy (operators/multimodal.py) — the two EMBEDDINGS are deterministic
fakes while every piece of Spark plumbing is the real shape a
CLIP-scored pipeline runs at 100 TB:

  * caption embedding: hashed-token signed bag (md5 bucket -> dim,
    md5 bit -> sign) — ONE token explode + ONE map-side-combinable
    aggregation (15 conditional sums), the hashed_classifier_score
    shape (functions/text.py:408).
  * image embedding: the 15 phash nibbles, centered — pure column
    algebra on an int64 already carried by the crawl tables (no
    payload decode in this stage; a real CLIP scorer slots in as a
    mapInPandas over `bytes` with the same output schema).
  * cosine + threshold gates: fixed-width JVM expressions, whole-stage
    codegen, no UDF, no join (metadata rides in the single groupBy's
    key).

Tokenization is the shared `alnum_tokens` contract (functions/text.py)
so the DuckDB oracle recomputes the identical vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sosse_spark.functions.text import alnum_tokens

__all__ = [
    "image_vec_from_phash",
    "caption_dim_sign",
    "alignment_cos",
    "curate_image_captions",
    "aesthetic_score",
    "aspect_bucket_grid",
    "assign_aspect_buckets",
    "bucket_batches",
    "bucket_resize_plan",
    "wds_shard_plan",
    "vlm_token_plan",
    "image_dedup_keep_best",
    "curation_funnel",
    "funnel_stats",
]

DIMS = 15  # one per phash nibble (60-bit phash, functions/images.py)


def image_vec_from_phash(phash: Column) -> list[Column]:
    """The stub image embedding: phash nibble d, centered to [-7.5, 7.5].
    Fixed-width shift/mask algebra — codegen'd, no HOF."""
    return [
        (F.shiftright(phash, 4 * d).bitwiseAND(F.lit(15)).cast("double") - F.lit(7.5)).alias(
            f"_i{d}"
        )
        for d in range(DIMS)
    ]


def caption_dim_sign(tok: Column) -> tuple[Column, Column]:
    """Hashed-token feature: md5-derived (dimension, sign) per token —
    the hashing-trick bag (same md5 bucket rule as
    hashed_classifier_score; Spark xxhash64 does not exist in DuckDB)."""
    hh = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
    dim = F.pmod(hh, F.lit(DIMS))
    sign = F.when(F.shiftright(hh, 4).bitwiseAND(F.lit(1)) == 0, F.lit(1)).otherwise(F.lit(-1))
    return dim, sign


def alignment_cos(tvec: list[Column], ivec: list[Column]) -> Column:
    """cosine(caption bag, phash embedding); 0.0 when either side is the
    zero vector (empty caption).  Fixed 15-term sums — stays inside
    whole-stage codegen."""
    dot = sum((t * i for t, i in zip(tvec, ivec)), F.lit(0.0))
    tn = F.sqrt(sum((t * t for t in tvec), F.lit(0.0)))
    inn = F.sqrt(sum((i * i for i in ivec), F.lit(0.0)))
    return F.when((tn == 0.0) | (inn == 0.0), F.lit(0.0)).otherwise(dot / (tn * inn))


def curate_image_captions(
    images: DataFrame,
    *,
    id_col: str = "image_id",
    caption_col: str = "caption",
    min_dim: int = 64,
    max_aspect: float = 4.0,
    min_caption_words: int = 5,
    sim_threshold: float = 0.0,
) -> DataFrame:
    """LAION-style keep/drop decision per image+caption pair.

    Gates (each surfaced as its own flag so curation yields are
    auditable per rule, the way the LAION papers report them):
      size_ok    : w >= min_dim AND h >= min_dim
      aspect_ok  : max(w,h)/min(w,h) <= max_aspect
      caption_ok : caption token count >= min_caption_words
      sim_ok     : alignment >= sim_threshold
      keep       : all four

    Output: (image_id, w, h, fmt, n_caption_words, aspect, alignment,
    size_ok, aspect_ok, caption_ok, sim_ok, keep).

    100 TB shape: explode_outer(tokens) -> ONE hash aggregation keyed by
    (image_id, metadata) — the 15 conditional sums are map-side
    combinable, empty captions keep their row via the outer explode ->
    pure fixed-width column algebra.  ONE Exchange total, zero joins,
    zero Python."""
    toks = alnum_tokens(caption_col)
    staged = images.select(
        F.col(id_col),
        F.col("w"),
        F.col("h"),
        F.col("fmt"),
        F.col("phash"),
        F.explode_outer(toks).alias("_tok"),
    )
    dim, sign = caption_dim_sign(F.col("_tok"))
    # metadata columns ride in the GROUP KEY (functionally dependent on
    # image_id) rather than through first() aggregates: string agg
    # buffers force SortAggregate, group keys keep HashAggregate
    agg = staged.groupBy(id_col, "w", "h", "fmt", "phash").agg(
        F.count("_tok").cast("int").alias("n_caption_words"),
        *[
            F.coalesce(
                F.sum(F.when(dim == d, sign.cast("double"))), F.lit(0.0)
            ).alias(f"_t{d}")
            for d in range(DIMS)
        ],
    )
    tvec = [F.col(f"_t{d}") for d in range(DIMS)]
    ivec = image_vec_from_phash(F.col("phash"))
    aspect = F.greatest("w", "h").cast("double") / F.least("w", "h").cast("double")
    align = alignment_cos(tvec, ivec)
    out = agg.select(
        F.col(id_col),
        "w",
        "h",
        "fmt",
        "n_caption_words",
        F.round(aspect, 9).alias("aspect"),
        F.round(align, 9).alias("alignment"),
        (F.col("w") >= min_dim) & (F.col("h") >= min_dim),
        F.round(aspect, 9) <= float(max_aspect),
        F.col("n_caption_words") >= int(min_caption_words),
        F.round(align, 9) >= float(sim_threshold),
    )
    out = out.toDF(
        id_col,
        "w",
        "h",
        "fmt",
        "n_caption_words",
        "aspect",
        "alignment",
        "size_ok",
        "aspect_ok",
        "caption_ok",
        "sim_ok",
    )
    return out.withColumn(
        "keep",
        F.col("size_ok") & F.col("aspect_ok") & F.col("caption_ok") & F.col("sim_ok"),
    )


def aesthetic_score(
    images: DataFrame,
    *,
    id_col: str = "image_id",
    weights: list[float] | None = None,
    bias: float = 0.0,
    keep_threshold: float = 0.5,
) -> DataFrame:
    """LAION-aesthetics-style model-head filter (Schuhmann et al. 2022
    §3.3 / the LAION-Aesthetics v2 release: a small regression head over
    the CLIP image embedding scores visual quality; LAION publishes the
    >=4.5 and >=6.5 threshold subsets).  Here the head is a logistic
    unit over the SAME stub image embedding the curation step uses
    (phash nibbles — a real CLIP embedding slots in upstream with no
    change to this stage):

        score = sigmoid(bias + sum_d w_d * ivec_d / 7.5)

    `weights` defaults to a fixed md5-seeded vector (deterministic, the
    quality_classifier convention) so score and keep are
    engine/oracle-reproducible.  Output: input minus payload + (score,
    keep_aesthetic).

    100 TB shape: a single codegen'd projection — no shuffle, no UDF,
    no model server in the hot path (batch scoring over precomputed
    embeddings is exactly how LAION ran it)."""
    import hashlib

    if weights is None:
        weights = [
            (int(hashlib.md5(f"{d}|aw".encode()).hexdigest()[:8], 16) / float(1 << 32) - 0.5)
            * 4.0
            for d in range(DIMS)
        ]
    ivec = image_vec_from_phash(F.col("phash"))
    z = F.lit(float(bias)) + sum(
        (F.lit(float(w)) * (i / F.lit(7.5)) for w, i in zip(weights, ivec)), F.lit(0.0)
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    return images.select(
        F.col(id_col),
        F.col("w"),
        F.col("h"),
        F.col("fmt"),
        F.col("phash"),
        score.alias("score"),
        (score >= float(keep_threshold)).alias("keep_aesthetic"),
    )


# ---------------------------------------------------------------------------
# Aspect-ratio bucketing + multi-aspect batch assembly
# ---------------------------------------------------------------------------


def aspect_bucket_grid(
    max_pixels: int = 512 * 512,
    step: int = 64,
    min_dim: int = 64,
    max_dim: int = 1024,
) -> list[tuple[int, int]]:
    """The public aspect-ratio-bucket generation rule (NovelAI's
    aspect-ratio-bucketing release, reused by SDXL's multi-aspect
    training, Podell et al. 2023 arXiv:2307.01952 §2.3): widths walk
    min_dim..max_dim in `step` increments, each paired with the tallest
    step-aligned height that keeps w*h <= max_pixels, plus the
    transposed (portrait) buckets.  Deterministic, sorted by (w, h) so
    bucket_id is stable across runs and engines."""
    buckets: set[tuple[int, int]] = set()
    w = min_dim
    while w <= max_dim:
        h = min((max_pixels // w) // step * step, max_dim)
        if h >= min_dim:
            buckets.add((w, h))
            buckets.add((h, w))
        w += step
    return sorted(buckets)


def assign_aspect_buckets(
    images: DataFrame,
    buckets: list[tuple[int, int]] | None = None,
    *,
    id_col: str = "image_id",
) -> DataFrame:
    """Nearest-aspect bucket per image: argmin over the bucket grid of
    the RATIO distance max(ar/ar_b, ar_b/ar) (equivalent ordering to
    |log ar - log ar_b| but division-only — ln() differs in the last
    ulp between JVM and C libm, ratio distance is bit-identical across
    engines).

    Ties break to the lowest bucket_id via array_position, which
    returns the FIRST index holding the array_min — matching an ORDER BY
    (dist, bucket_id) argmin in SQL.

    100 TB shape: the grid is a ~30-entry constant, so assignment is a
    single codegen'd projection — zero shuffle, zero Python, no per-row
    grid explode.  The distance array is STAGED (one K-term array column
    referenced twice) so the argmin costs O(K) expression nodes; the
    naive LEAST-over-K + first-hit CASE chain is O(K²) — ~1100 division
    nodes at K=23 — and downstream groupBy/window/join keys on bucket_id
    re-inline it until execution OOMs (measured: bucket_batches over
    this grid died on a 1 GiB driver heap with the CASE form)."""
    if buckets is None:
        buckets = aspect_bucket_grid()
    ar = F.col("w").cast("double") / F.col("h").cast("double")
    # bw/bh in Python is the same IEEE double the oracle's
    # CAST(bw AS DOUBLE)/bh computes
    dists = [F.greatest(ar / F.lit(bw / bh), F.lit(bw / bh) / ar) for bw, bh in buckets]
    picked = (
        images.withColumn("_darr", F.array(*dists))
        .withColumn(
            "bucket_id",
            (F.array_position(F.col("_darr"), F.array_min(F.col("_darr"))) - 1).cast(
                "int"
            ),
        )
        .drop("_darr")
    )
    bucket_w = F.element_at(
        F.array(*[F.lit(bw) for bw, _ in buckets]), F.col("bucket_id") + 1
    )
    bucket_h = F.element_at(
        F.array(*[F.lit(bh) for _, bh in buckets]), F.col("bucket_id") + 1
    )
    return picked.withColumn("bucket_w", bucket_w.cast("int")).withColumn(
        "bucket_h", bucket_h.cast("int")
    )


def bucket_batches(
    assigned: DataFrame,
    *,
    batch_size: int = 8,
    salt_buckets: int = 16,
    id_col: str = "image_id",
    drop_last: bool = True,
) -> DataFrame:
    """Deterministic multi-aspect batch assembly: every training batch
    draws from ONE bucket (the NovelAI/SDXL rule — images in a batch
    share a resolution), order within a bucket is the md5 digest of the
    id (engine/rerun-reproducible shuffle, the mixture_resample
    convention).

    100 TB shape: a single window PARTITION BY bucket would funnel the
    corpus through ~30 tasks, so ranking is the salted two-phase scheme
    (per_host_topk's pattern, scheduler.py): rows rank within
    (bucket_id, salt) — salt = md5 prefix mod salt_buckets, so
    bucket_rank order is (salt, digest, id) — and a tiny
    (buckets × salts) count aggregate, cumulated and BROADCAST back,
    converts local ranks to exact per-bucket ranks.  batch_no =
    (rank-1) // batch_size; drop_last cuts the ragged tail batch the
    way training dataloaders do.

    Output: (image_id, bucket_id, bucket_w, bucket_h, bucket_rank,
    batch_no)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    digest = F.md5(F.col(id_col).cast("string"))
    salt = F.pmod(
        F.conv(F.substring(digest, 1, 4), 16, 10).cast("long"), F.lit(salt_buckets)
    ).cast("int")
    thin = assigned.select(
        F.col(id_col),
        "bucket_id",
        "bucket_w",
        "bucket_h",
        digest.alias("_dg"),
        salt.alias("_salt"),
    )
    counts = thin.groupBy("bucket_id", "_salt").agg(F.count("*").alias("_n"))
    w_off = (
        Window.partitionBy("bucket_id")
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bucket_id",
        "_salt",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_n").over(Window.partitionBy("bucket_id")).alias("_total"),
    )
    w_local = Window.partitionBy("bucket_id", "_salt").orderBy("_dg", id_col)
    ranked = thin.withColumn("_r", F.row_number().over(w_local)).join(
        broadcast(offsets), ["bucket_id", "_salt"]
    )
    out = ranked.select(
        F.col(id_col),
        "bucket_id",
        "bucket_w",
        "bucket_h",
        (F.col("_off") + F.col("_r")).cast("long").alias("bucket_rank"),
        F.floor((F.col("_off") + F.col("_r") - 1) / batch_size).cast("int").alias("batch_no"),
        F.col("_total"),
    )
    if drop_last:
        out = out.filter(F.col("batch_no") < F.floor(F.col("_total") / batch_size))
    return out.drop("_total")


def bucket_resize_plan(assigned: DataFrame, *, id_col: str = "image_id") -> DataFrame:
    """Cover-resize + center-crop plan per (image, bucket): the bucketed
    preprocessing step SDXL conditions on (Podell et al. 2023 §2.2
    "crop conditioning" records crop_top/crop_left per sample).  Scale
    factor s = max(bw/w, bh/h); the binding side lands exactly on the
    bucket edge and the other side floors, so the plan is pure integer
    arithmetic — bw*h vs bh*w decides the binding side exactly, the
    scaled dim is floor(dim * bucket_dim / binding_dim) with products
    < 2^53 (exact in doubles, identical across engines):

        resize_w >= bucket_w, resize_h >= bucket_h
        crop_left = (resize_w - bucket_w) // 2
        crop_top  = (resize_h - bucket_h) // 2

    100 TB shape: a single codegen'd projection, zero shuffle (the
    actual pixel resample is the downstream mapInPandas over `bytes`;
    this stage plans it from metadata alone)."""
    wide = F.col("bucket_w") * F.col("h") >= F.col("bucket_h") * F.col("w")
    rw = F.when(wide, F.col("bucket_w")).otherwise(
        F.floor(F.col("w").cast("double") * F.col("bucket_h") / F.col("h"))
    ).cast("int")
    rh = F.when(wide, F.floor(F.col("h").cast("double") * F.col("bucket_w") / F.col("w"))).otherwise(
        F.col("bucket_h")
    ).cast("int")
    return assigned.select(
        F.col(id_col),
        "w",
        "h",
        "bucket_id",
        "bucket_w",
        "bucket_h",
        rw.alias("resize_w"),
        rh.alias("resize_h"),
        F.floor((rh - F.col("bucket_h")) / 2).cast("int").alias("crop_top"),
        F.floor((rw - F.col("bucket_w")) / 2).cast("int").alias("crop_left"),
    )


# ---------------------------------------------------------------------------
# WebDataset-style shard packing
# ---------------------------------------------------------------------------


def wds_shard_plan(
    images: DataFrame,
    *,
    samples_per_shard: int = 10_000,
    salt_buckets: int = 16,
    id_col: str = "image_id",
    raw_bytes: Column | None = None,
) -> DataFrame:
    """WebDataset/img2dataset-style shard packing plan (the public
    webdataset tar-shard convention: training samples stream from
    sequentially numbered .tar shards of a fixed sample count —
    img2dataset's output_format="webdataset", default 10k samples per
    shard).  Assigns every sample a deterministic (shard_id,
    shard_index) plus the tar byte layout a writer needs:

        entry_bytes = 512 (ustar header) + payload padded to 512
        byte_offset = sum of entry_bytes of earlier entries in the shard

    Sample order is the md5 digest of the id (the mixture_resample /
    bucket_batches convention — an engine/rerun-reproducible global
    shuffle, which webdataset recommends so shards are i.i.d. slices).

    `raw_bytes` sizes each payload; default w*h*3 (the stub decode
    size — pass F.length("bytes") when payloads ride along).

    100 TB shape: the global rank is the salted two-phase scheme —
    rows rank within a salt partition (salt_buckets is the parallelism
    knob; size it ~4x cores) and the ONLY driver materialization is the
    <= salt_buckets-row count table, folded into a literal offset array
    (zero joins).  The byte-offset window partitions by shard_id, and
    shards are FIXED-SIZE (samples_per_shard rows) — so window
    partitions stay bounded at any corpus size, unlike a global cumsum.
    Everything else is codegen'd integer algebra; the actual tar write
    is the downstream per-shard mapInPandas/foreachPartition over
    `bytes` — this stage plans it from metadata alone."""
    from pyspark.sql import Window

    if raw_bytes is None:
        raw_bytes = F.col("w").cast("long") * F.col("h") * 3
    digest = F.md5(F.col(id_col).cast("string"))
    salt = F.pmod(
        F.conv(F.substring(digest, 1, 4), 16, 10).cast("long"), F.lit(salt_buckets)
    ).cast("int")
    thin = images.select(
        F.col(id_col),
        raw_bytes.cast("long").alias("_raw"),
        digest.alias("_dg"),
        salt.alias("_salt"),
    )
    # <= salt_buckets rows: the documented bounded collect (the
    # n_buckets-list precedent) — folds to a literal array, zero joins
    cnt = {
        r["_salt"]: r["n"]
        for r in thin.groupBy("_salt").agg(F.count("*").alias("n")).collect()
    }
    offs, acc = [], 0
    for s in range(salt_buckets):
        offs.append(acc)
        acc += cnt.get(s, 0)
    w_local = Window.partitionBy("_salt").orderBy("_dg", id_col)
    rank0 = (
        F.element_at(F.array(*[F.lit(o) for o in offs]), F.col("_salt") + 1)
        + F.row_number().over(w_local)
        - 1
    ).cast("long")
    entry = (F.lit(512) + F.floor((F.col("_raw") + 511) / 512) * 512).cast("long")
    planned = thin.select(
        F.col(id_col),
        F.floor(rank0 / samples_per_shard).cast("int").alias("shard_id"),
        (rank0 % samples_per_shard).cast("int").alias("shard_index"),
        entry.alias("entry_bytes"),
    )
    w_shard = (
        Window.partitionBy("shard_id")
        .orderBy("shard_index")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return planned.withColumn(
        "byte_offset",
        F.coalesce(F.sum("entry_bytes").over(w_shard), F.lit(0)).cast("long"),
    )


def vlm_token_plan(
    assigned: DataFrame,
    *,
    patch: int = 14,
    extra_tokens: int = 2,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """Vision-LM sample token budgeting: the cost model a multimodal
    packing/batching stage needs per curated pair.  Patch counting is
    the public ViT rule (Dosovitskiy et al. 2020, arXiv:2010.11929 §3.1:
    an HxW image becomes (H/P)·(W/P) patch tokens; ceil on each axis for
    non-divisible crops) applied to the BUCKET resolution — the actual
    training-sample shape after cover-resize + center-crop — and caption
    tokens follow the shared `alnum_tokens` contract (functions/text.py)
    so the oracle recomputes them identically.  LLaVA-style training
    concatenates image patch tokens + text tokens, plus `extra_tokens`
    separators/specials.

    Input: bucket-assigned images (assign_aspect_buckets).  Output:
    (image_id, bucket_w, bucket_h, img_tokens, txt_tokens,
    total_tokens) — feed total_tokens to pack_sequences for
    token-budget bin packing.

    100 TB shape: two codegen'd projections, zero shuffle, zero Python
    (txt_tokens is STAGED in its own projection and referenced twice
    downstream, so the interpreted split/filter HOF evaluates once per
    row — the CollapseProject re-evaluation trap)."""
    img_t = (
        F.floor((F.col("bucket_w") + (patch - 1)) / patch)
        * F.floor((F.col("bucket_h") + (patch - 1)) / patch)
    ).cast("int")
    staged = assigned.select(
        F.col(id_col),
        "bucket_w",
        "bucket_h",
        img_t.alias("img_tokens"),
        F.size(alnum_tokens(caption_col)).alias("txt_tokens"),
    )
    return staged.withColumn(
        "total_tokens",
        (F.col("img_tokens") + F.col("txt_tokens") + extra_tokens).cast("int"),
    )


def image_dedup_keep_best(
    images: DataFrame,
    *,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 2,
    n_bits: int = 60,
    max_iter: int = 20,
) -> DataFrame:
    """LAION/DataComp-style image near-dup collapse, end to end: the
    pairwise verdicts -> groups -> canonical-member chain the public
    image-corpus pipelines run (LAION-5B dedups URL+text pairs and
    near-dup images; DataComp's dedup baselines keep one representative
    per near-dup cluster).  Composition of the two certified dedup
    primitives:

      phash_hamming_pairs (pigeonhole-banded hamming equi-join,
      operators/dedup.py) -> dedup_components (Kiveris star
      contraction) -> keep the HIGHEST-RESOLUTION member per cluster
      (w*h pixels; ties break to the lowest id) — the standard
      keep-best-quality rule when collapsing resized/re-encoded copies.

    Output: every input image with (cluster, pixels, keep_best);
    singletons form their own cluster and keep themselves.

    100 TB shape: no new hot-path machinery — the pair join and the
    O(log n) contraction are the certified primitives; the collapse
    adds one LEFT join of the corpus against the (much smaller)
    duped-id component table and one window partitioned by cluster,
    which is bounded by the near-dup cluster size, not the corpus."""
    from pyspark.sql import Window

    from sosse_spark.operators.dedup import dedup_components, phash_hamming_pairs

    pairs = phash_hamming_pairs(
        images, phash_col, id_col, max_hamming=max_hamming, n_bits=n_bits
    )
    comp = dedup_components(pairs.select("id_a", "id_b"), max_iter=max_iter)
    joined = images.join(
        comp, images[id_col] == comp["_id"], "left"
    ).drop("_id")
    staged = joined.select(
        F.col(id_col),
        "w",
        "h",
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
        (F.col("w").cast("long") * F.col("h")).alias("pixels"),
    )
    w_best = Window.partitionBy("cluster").orderBy(F.desc("pixels"), id_col)
    return staged.withColumn("keep_best", F.row_number().over(w_best) == 1)


def curation_funnel(
    df: DataFrame,
    stages: list[tuple[str, Column | str]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Ordered curation-funnel composition — the FineWeb processing
    shape (Penedo et al. 2024 §3: URL filter → language ID → Gopher →
    C4 → custom filters, each stage's removal rate reported
    separately; RefinedWeb Fig. 2 publishes the same per-stage
    attrition).  `stages` is the ORDERED list of (name, boolean
    keep-verdict) — a Column expression or a column name already on
    `df`; a document is attributed to its FIRST failing stage.

    Output: (id, s_<name> bool per stage, first_failed in
    {stage names, 'none'}, keep).

    100 TB shape: pure column algebra over whatever frame the caller
    assembled — no shuffle, no UDF of its own.  Verdicts given as
    inline Columns fuse into one projection; frame-level verdicts
    (c4_clean etc.) join in thin on the id key upstream."""
    sel = [F.col(id_col)]
    names = []
    for name, verdict in stages:
        col = F.col(verdict) if isinstance(verdict, str) else verdict
        sel.append(col.alias(f"s_{name}"))
        names.append(name)
    v = df.select(*sel)
    first_failed = F.lit("none")
    for name in reversed(names):
        first_failed = F.when(~F.col(f"s_{name}"), F.lit(name)).otherwise(first_failed)
    keep = F.col(f"s_{names[0]}")
    for name in names[1:]:
        keep = keep & F.col(f"s_{name}")
    return v.select(
        id_col,
        *[f"s_{n}" for n in names],
        first_failed.alias("first_failed"),
        keep.alias("keep"),
    )


def funnel_stats(
    verdicts: DataFrame, stage_names: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Per-stage attrition over a curation_funnel output — the funnel
    table every pipeline report publishes (FineWeb §3 / RefinedWeb
    Fig. 2: documents entering each stage, removed by it, surviving):
    (stage_no, stage, n_in, n_failed, n_out) with n_in chained from
    the previous stage's n_out.

    100 TB shape: ONE map-side-combinable global aggregation (a count
    plus one conditional sum per stage — a single ~K-column row), then
    the K output rows explode from a literal struct array on that one
    row.  No window, no per-stage pass, nothing driver-side."""
    aggs = [F.count(F.lit(1)).alias("_total")] + [
        F.sum((F.col("first_failed") == s).cast("long")).alias(f"_f_{s}")
        for s in stage_names
    ]
    row = verdicts.agg(*aggs)
    structs = []
    n_in = F.col("_total")
    for idx, s in enumerate(stage_names):
        n_failed = F.coalesce(F.col(f"_f_{s}"), F.lit(0))
        structs.append(
            F.struct(
                F.lit(idx + 1).alias("stage_no"),
                F.lit(s).alias("stage"),
                n_in.cast("long").alias("n_in"),
                n_failed.cast("long").alias("n_failed"),
                (n_in - n_failed).cast("long").alias("n_out"),
            )
        )
        n_in = n_in - n_failed
    return row.select(F.explode(F.array(*structs)).alias("r")).select("r.*")
