"""Deterministic corpus sampling for training-data mix rebalancing.

Large-scale dataset curation reweights sources/domains (the mixing-
proportions step of corpus assembly à la The Pile / Dolma): each
stratum keeps a target fraction of its rows.  RNG-based sampling
(`DataFrame.sample`) is partition-order dependent and irreproducible
across engines; here the keep/drop decision is a pure function of the
row id — u(id) = int(first 8 hex chars of md5(id)) / 2^32 — so a rerun,
a crash replay, or a different engine (the DuckDB oracle) selects the
IDENTICAL rows.  md5 is the one hash both engines share (CLAUDE.md:
xxhash64 does not exist in DuckDB).

Whole-stage-codegen column algebra throughout — no UDF, no shuffle:
sampling is a pure filter that pushes down to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sosse_spark.functions.text import alnum_tokens, tokens, word_ngrams

__all__ = [
    "deterministic_uniform",
    "stratified_sample",
    "pack_sequences",
    "chunk_documents",
    "temperature_weights",
    "mixture_resample",
    "dsir_weights",
    "dsir_gumbel_topk",
    "unimax_allocation",
    "split_by_cluster",
]


def deterministic_uniform(id_col: Column) -> Column:
    """u(id) ∈ [0, 1): first 32 md5 bits of the id's string form.
    Uniform, stable, engine-reproducible."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 32))
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row iff u(id) < fraction(stratum).  Strata absent from
    `fractions` use `default_fraction` (0.0 = drop, mirroring
    sampleBy's contract).  Output: the input columns, filtered."""
    frac = F.lit(float(default_fraction))
    for key, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == key, F.lit(float(f))).otherwise(frac)
    return docs.filter(deterministic_uniform(F.col(id_col)) < frac)


def pack_sequences(
    docs: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_groups: int = 256,
) -> DataFrame:
    """GPT-style sequence packing for training batch prep: lay documents
    out (in deterministic id order) into fixed token-budget bins without
    splitting documents.  A doc belongs to the bin where it STARTS
    (bin_no = floor(tokens_before / budget)), so a bin overruns by at
    most one document — the standard streaming-packing tradeoff (the
    alternative, break-before-overflow, is inherently sequential).

    Scale shape: packing runs independently inside `n_groups` md5-derived
    groups — ONE hash exchange on pack_group, per-group window cumsum,
    no global sort (a single global cumsum would funnel the corpus
    through one task).  md5 (not xxhash64) so the grouping is
    engine-reproducible; bins are identified by (pack_group, bin_no).

    → (id_col, token_col, pack_group, bin_no, tokens_before, oversize),
    one row per input doc.
    """
    grp = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("int")
        % n_groups
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    return (
        docs.select(id_col, token_col, grp.alias("pack_group"))
        .withColumn("tokens_before", before)
        .select(
            id_col,
            token_col,
            "pack_group",
            F.floor(F.col("tokens_before") / budget).alias("bin_no"),
            "tokens_before",
            (F.col(token_col) > budget).alias("oversize"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: split each document into sliding windows
    of at most `max_tokens` whitespace tokens, consecutive windows
    sharing `overlap` tokens (the standard prep step before embedding /
    training when documents exceed the model context).  Chunk k starts
    at token k*(max_tokens-overlap); the last chunk always reaches the
    final token; empty documents produce no rows.

    Pure JVM column algebra (split → sequence → explode → slice/join):
    no UDF, no shuffle — a narrow Generate the optimizer pipelines with
    the scan, so chunking N docs costs one pass regardless of
    parallelism.

    → (id_col, chunk_no, start_token, n_chunk_tokens, chunk_text).
    """
    if overlap >= max_tokens:
        raise ValueError(f"overlap={overlap} must be smaller than max_tokens={max_tokens}")
    stride = max_tokens - overlap
    toks = tokens(F.col(text_col), lower=False)
    n = F.size(toks)
    n_chunks = F.floor((F.greatest(n - overlap, F.lit(1)) + stride - 1) / stride).cast("int")
    staged = docs.select(
        F.col(id_col), toks.alias("_toks"), n.alias("_n"), n_chunks.alias("_k")
    ).filter(F.col("_n") > 0)
    k = F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("chunk_no")
    exploded = staged.select(id_col, "_toks", "_n", k)
    start = F.col("chunk_no") * stride
    return exploded.select(
        id_col,
        "chunk_no",
        start.cast("int").alias("start_token"),
        F.least(F.lit(max_tokens), F.col("_n") - start).cast("int").alias("n_chunk_tokens"),
        F.array_join(F.slice("_toks", start + 1, max_tokens), " ").alias("chunk_text"),
    )


def temperature_weights(
    docs: DataFrame, alpha: float = 0.5, source_col: str = "source"
) -> DataFrame:
    """Temperature-based source re-weighting for corpus mixing (the
    multilingual-pretraining rule — Conneau & Lample 2019 §3.1 /
    XLM-R, also the per-dataset mixture weights of The Pile, Gao et
    al. 2021 Table 1): sampling probability p_i ∝ n_i^alpha flattens
    the source distribution (alpha < 1 upsamples small sources).

    Output per source: (source, n, factor) where `factor` = expected
    copies per document = p_i * N / n_i, so a corpus resampled by
    `factor` keeps its total size while matching the target mixture.

    One map-side-combinable count agg + a 1-row broadcast of the
    normalizers — nothing touches the documents themselves."""
    counts = docs.groupBy(source_col).agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.sum("n").alias("_N"), F.sum(F.pow(F.col("n").cast("double"), F.lit(alpha))).alias("_Z")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n",
        (
            F.pow(F.col("n").cast("double"), F.lit(alpha))
            / F.col("_Z")
            * F.col("_N")
            / F.col("n")
        ).alias("factor"),
    )


def mixture_resample(
    docs: DataFrame,
    factors: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 42,
) -> DataFrame:
    """Deterministic corpus resampling by per-source `factor` (from
    temperature_weights or an explicit mixture): every document emits
    floor(factor) copies plus one more when its md5-derived uniform
    falls below frac(factor) — rerun/replay/engine-reproducible, the
    same digest rule as stratified_sample.

    Output: input columns + copy_no (0-based).  factor <= 0 sources
    drop out; the fractional arm uses the top 32 bits of
    md5(id || ':' || seed) as u ~ U[0, 1).

    Scale shape: factors is a tiny dimension (broadcast); the copy
    fan-out is a narrow Generate — no shuffle at all."""
    j = docs.join(F.broadcast(factors.select(source_col, "factor")), source_col)
    base = F.floor("factor").cast("int")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    reps = (base + (u < (F.col("factor") - base)).cast("int")).alias("_reps")
    staged = j.withColumn("_reps", reps).filter(F.col("_reps") > 0)
    return staged.select(
        *docs.columns,
        F.explode(F.sequence(F.lit(0), F.col("_reps") - 1)).alias("copy_no"),
    )


def _hashed_ngram_rows(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket) rows with multiplicity: DSIR's hashed n-gram features
    (Xie et al. 2023, arXiv:2302.03169 §3.1 — unigrams + bigrams hashed
    into a fixed bucket table).  Tokenization is the shared alnum_tokens
    contract (functions/text.py); the bucket is the md5-derived integer
    every oracle can recompute.  One staged projection (the _toks column
    is referenced three times so CollapseProject keeps the stage —
    CLAUDE.md HOF rule), one explode."""
    staged = docs.select(F.col(id_col), alnum_tokens(text_col).alias("_toks"))
    # full-window bigrams via the shared compiled-regex gram pass (the
    # zip_with/slice HOF ran interpreted per element); identical strings
    bigrams = word_ngrams(F.col("_toks"), 2, short_doc_whole=False)
    feats = staged.select(
        F.col(id_col), F.explode(F.concat("_toks", bigrams)).alias("_feat")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("_feat"), 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    )
    return feats.select(F.col(id_col), bucket.alias("bucket"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    fit bag-of-hashed-ngrams categorical distributions over a target
    corpus (what you want more of) and the raw corpus, then weight each
    raw document by its log importance ratio

        log w(x) = sum over feature occurrences f in x of
                   log p_target(bucket(f)) - log p_raw(bucket(f))

    with add-one smoothing: p(b) = (count(b) + 1) / (total + B).

    Output: (id, n_feats, log_w) — log_w rounded to 6 (engine/oracle
    double parity; docs with no tokens drop out, they carry no
    evidence).

    100 TB shape: the two distribution fits are map-side-combinable
    bucket count aggs (<= B = `n_buckets` rows each); the per-doc pass
    joins the feature stream against the BROADCAST B-row ratio table
    and reduces with one hash agg.  No UDF, no unbounded state — the
    paper's estimator is exactly two categorical count tables."""
    # The raw feature stream feeds BOTH the raw-distribution fit and the
    # per-doc scoring pass; localCheckpoint pins the thin (id, bucket)
    # rows (~12 B each) so tokenize + md5-bucket run once, not twice
    # (measured 19.6 s → 12 s at 50k docs; blocks free on GC when the
    # frame goes out of scope, per the minhash/ngram convention).
    raw_feats = _hashed_ngram_rows(raw, id_col, text_col, n_buckets).localCheckpoint(
        eager=True
    )
    tgt_feats = _hashed_ngram_rows(target, id_col, text_col, n_buckets)
    raw_counts = raw_feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("_cr"))
    tgt_counts = tgt_feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("_ct"))
    # every bucket a raw doc can hit appears in raw_counts, so a LEFT
    # join from raw's table is complete; absent target buckets smooth
    # to count 0
    ratio = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(
            F.broadcast(
                raw_counts.agg(F.sum("_cr").alias("_Tr")).crossJoin(
                    tgt_counts.agg(F.sum("_ct").alias("_Tt"))
                )
            )
        )
        .select(
            "bucket",
            (
                F.log(F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1.0))
                - F.log(F.col("_Tt") + F.lit(float(n_buckets)))
                - F.log(F.col("_cr") + F.lit(1.0))
                + F.log(F.col("_Tr") + F.lit(float(n_buckets)))
            ).alias("_lr"),
        )
    )
    scored = raw_feats.join(F.broadcast(ratio), "bucket")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_feats"),
        F.round(F.sum("_lr"), 6).alias("log_w"),
    )


def dsir_gumbel_topk(
    weights: DataFrame, k: int, seed: int = 42, id_col: str = "doc_id"
) -> DataFrame:
    """DSIR's resampling step, deterministic: the paper samples k docs
    without replacement with probability ∝ w(x), which is exactly the
    Gumbel top-k trick (Vieira 2014; Kool et al. 2019, arXiv:1903.06059)
    — take the k largest (log w + Gumbel noise).  The noise comes from
    the md5-derived uniform via the inverse CDF g = -ln(-ln(u)),
    u = (top 32 md5 bits + 0.5) / 2^32 ∈ (0,1), so selection is
    rerun/replay/engine-reproducible.

    Output: (id, n_feats, log_w, gumbel_key), the selected k rows.

    Scale shape: orderBy().limit(k) compiles to TakeOrderedAndProject —
    per-partition top-k then a k-row merge, never a global sort (the
    fts_rank_order bound, VERDICT r04 #2)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|dsir|{seed}"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    key = F.round(F.col("log_w") + (-F.log(-F.log(u))), 6)
    return (
        weights.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(int(k))
    )


def unimax_allocation(
    docs: DataFrame,
    total_budget: float | None = None,
    max_epochs: float = 4.0,
    lang_col: str = "lang",
    weight_col: str | None = None,
    budget_corpus_epochs: float | None = None,
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, ICLR,
    arXiv:2304.09151 Algorithm 1): spread a total training budget over
    languages as uniformly as possible while repeating no language more
    than ``max_epochs`` times.  The paper's sequential loop (ascending
    by size: give each language min(size*N, remaining/remaining_langs))
    has a closed form this implements relationally: a language is
    CAPPED (gets size*N) while its cap sits below the running uniform
    share; once one language is uncapped, every larger one is too and
    they all take the SAME share — removing an uncapped language leaves
    the share invariant (U/L == (U - U/L)/(L - 1)) and sizes only grow.
    So the first rank whose cap reaches its share (computed with the
    all-capped-prefix cumulative sum, which is exact up to that point)
    splits the order: below it caps, from it equal shares of what the
    caps left.

    Budget: pass ``total_budget`` absolute, or ``budget_corpus_epochs``
    = budget as a multiple of the corpus size (kept in-plan as a 1-row
    aggregate — scale-invariant, no driver round-trip).

    Sizes are exact LONG sums (per-language weight totals); every
    floating-point value downstream is a single-op function of exact
    longs, so the DuckDB oracle reproduces allocations bit-for-bit.

    Output per language: (lang, size, rank, capped, allocation,
    epochs); ``epochs`` = allocation/size <= max_epochs is exactly the
    per-source ``factor`` mixture_resample consumes for the per-doc
    repeat fan-out.

    Scale shape: one map-side-combinable agg down to K language rows;
    the planning windows sort those K rows only (K = number of
    languages, O(100)) — a deliberate single-partition window over a
    TINY aggregate, never over documents; the three 1-row planning
    aggregates broadcast."""
    if (total_budget is None) == (budget_corpus_epochs is None):
        raise ValueError("pass exactly one of total_budget / budget_corpus_epochs")
    N = float(max_epochs)
    size = (F.count("*") if weight_col is None else F.sum(weight_col)).cast("long")
    stats = docs.groupBy(lang_col).agg(size.alias("size"))

    w = Window.orderBy("size", lang_col)
    ranked = stats.select(
        lang_col,
        "size",
        F.row_number().over(w).alias("rank"),
        F.coalesce(
            F.sum("size").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ).alias("cum_prev"),
    )
    totals = stats.agg(
        F.count("*").alias("kk"), F.sum("size").cast("long").alias("total")
    )
    ranked = ranked.crossJoin(F.broadcast(totals))
    budget = (
        F.lit(float(total_budget))
        if total_budget is not None
        else F.lit(float(budget_corpus_epochs)) * F.col("total")
    )
    share = (budget - F.lit(N) * F.col("cum_prev")) / (
        F.col("kk") - F.col("rank") + 1
    )
    fail = F.col("size") * F.lit(N) >= share
    flagged = ranked.withColumn("_fail", fail)
    t = flagged.agg(
        F.coalesce(F.min(F.when(F.col("_fail"), F.col("rank"))), F.max("kk") + 1).alias(
            "t"
        )
    )
    flagged = flagged.crossJoin(F.broadcast(t))
    csum = flagged.agg(
        F.coalesce(
            F.min(F.when(F.col("rank") == F.col("t"), F.col("cum_prev"))),
            F.max("total"),
        ).alias("capped_sum")
    )
    flagged = flagged.crossJoin(F.broadcast(csum))
    capped = F.col("rank") < F.col("t")
    alloc = F.when(capped, F.col("size") * F.lit(N)).otherwise(
        (budget - F.lit(N) * F.col("capped_sum")) / (F.col("kk") - F.col("t") + 1)
    )
    return flagged.select(
        lang_col,
        "size",
        "rank",
        capped.alias("capped"),
        F.round(alloc, 6).alias("allocation"),
        F.round(alloc / F.col("size"), 6).alias("epochs"),
    )


def split_by_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    test_fraction: float = 0.1,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Leakage-safe train/test split: the split decision is made on the
    near-dup CLUSTER, not the document, so near-duplicates never
    straddle the boundary (the standard eval-hygiene rule — a test doc
    whose near-twin sits in train silently inflates eval scores; see
    the dedup/decontamination discussions in Lee et al. 2021 and the
    GPT-3 appendix-C methodology).

    Documents in no pair are their own singleton cluster.  Assignment
    is the same deterministic md5 rule as stratified_sample, applied to
    the cluster representative id: u(component) < test_fraction → test.
    Rerunning on a grown corpus keeps prior assignments stable except
    where clusters MERGE (then the whole merged cluster moves together
    — exactly the property that prevents leakage).

    Output: (_id, component, split 'test'|'train').

    Scale shape: components via the O(log n) star contraction, one thin
    left join of the (id, component) table onto the corpus ids, and the
    split is a codegen'd md5 projection — no extra shuffle beyond the
    components rounds."""
    from sosse_spark.operators.dedup import dedup_components

    comp = dedup_components(pairs, max_iter=max_iter)
    base = docs.select(F.col(id_col).alias("_id")).distinct()
    withc = base.join(comp, "_id", "left").select(
        "_id", F.coalesce("component", F.col("_id")).alias("component")
    )
    return withc.withColumn(
        "split",
        F.when(
            deterministic_uniform(F.col("component")) < F.lit(float(test_fraction)),
            F.lit("test"),
        ).otherwise(F.lit("train")),
    )
