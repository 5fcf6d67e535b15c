"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — the operations a 100 TB corpus cleanup needs.  The reference's
own dedup surface is content-hash based (se/document.py:274-298 md5
change detection; se/html_snapshot.py asset dedup by content hash);
these generalize it.

Scale notes (per operator):
  * exact_dedup — one hash-shuffle on the digest; map-side combine.
  * minhash_lsh — pair candidates come from LSH band buckets, so the
    join is |bucket|² within buckets, never corpus²; bands/rows trade
    recall vs cost.  Hashes are built in ONE pass with Spark builtins
    (transform over a literal seed array — no Python).
  * simhash — 60-bit signature via per-token md5 bit-votes; hamming
    bucketing on (max_hamming + 1) chunks — pigeonhole guarantees
    candidate recall 1 at the requested distance.
  * ngram_jaccard — token-set overlap via array ops on a pair join
    bounded by a same-bucket key (first-token or length band).
  * embedding near-dup — see similarity.py (cosine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sosse_spark.functions.text import tokens, word_ngrams

__all__ = [
    "decontaminate",
    "dedup_paragraphs",
    "exact_dedup",
    "shingles",
    "minhash_signature",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_near_dup_pairs",
    "hamming_near_dup_pairs",
    "phash_hamming_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_bruteforce",
    "dedup_components",
    "dedup_canonical",
    "dedup_substring",
    "c4_span_dedup",
    "corpus_line_dedup",
    "dedup_cluster_stats",
    "phash_topk",
    "phash_topk_banded",
]


def exact_dedup(df: DataFrame, text_col: str, id_col: str, no_numbers: bool = False) -> DataFrame:
    """Keep the lowest-id row per exact content hash (md5, optional
    number normalization — F26 semantics).  Output adds `dup_count`."""
    c = F.col(text_col)
    if no_numbers:
        c = F.regexp_replace(c, "[0-9]+", "0")
    hashed = df.withColumn("content_md5", F.md5(c))
    return (
        hashed.groupBy("content_md5")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "content_md5", "dup_count")
    )


def shingles(text_col: str, k: int = 5) -> F.Column:
    """Word k-shingles as an array column (lowercased, whitespace split)."""
    return word_ngrams(tokens(F.col(text_col)), k)


def minhash_signature(shingle_col: F.Column, num_hashes: int = 32) -> F.Column:
    """num_hashes-wide MinHash signature, all JVM-side: for each seed s,
    min over shingles of xxhash64(shingle, s)."""
    seeds = F.array(*[F.lit(s) for s in range(1, num_hashes + 1)])
    return F.transform(
        seeds,
        lambda s: F.array_min(F.transform(shingle_col, lambda sh: F.xxhash64(sh, s))),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via MinHash banding: shingle → signature → band
    buckets → within-bucket self-join → exact shingle-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b, deduped across bands.
    The candidate join is an equi-join on (band_no, band_hash): Catalyst
    hash-shuffles both sides on the bucket key, so cost tracks bucket
    sizes, not n².
    """
    rows_per_band = num_hashes // bands
    # Staged projections, each referencing the previous stage's expensive
    # column MORE THAN ONCE: Spark's CollapseProject inlines single-use
    # non-cheap expressions into downstream lambda bodies, where the
    # (interpreted) higher-order functions re-evaluate them PER ELEMENT —
    # measured 75× blowup when split/shingles/signature nest into the
    # band explode.  toks→sh each evaluate exactly once per row here; the
    # localCheckpoint pins the thin (_id, sh) table so the signature agg
    # and the verify join-backs share one corpus pass (and the blocks
    # free when the DataFrame goes out of scope, unlike persist()).
    toks = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("toks"),
    )
    sh_df = toks.select(
        "_id",
        F.array_distinct(word_ngrams(F.col("toks"), k)).alias("sh"),
    ).localCheckpoint(eager=True)

    # MinHash signature as explode + num_hashes codegen'd min(xxhash64)
    # aggregates (map-side combined, one thin row per doc).  The old
    # array formulation — transform(seeds, s -> array_min(transform(sh,
    # sh_i -> xxhash64(sh_i, s)))) — runs INTERPRETED per (seed ×
    # shingle) element because Spark executes HOF lambdas without
    # codegen; identical hash values, whole-stage-codegen'd (measured
    # 15.3 s → the signature stage was the whole cost at 50k docs).
    sh_rows = sh_df.select("_id", F.explode("sh").alias("_s"))
    sig = sh_rows.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_s"), F.lit(s))).alias(f"_m{s}")
            for s in range(1, num_hashes + 1)
        ]
    )

    # THIN banding: only (_id, band_no, band_hash) rides the explode and
    # both sides of the candidate self-join — the shingle arrays never
    # shuffle with the bands (at corpus scale they ARE the documents).
    # band_hash = xxhash64(concat_ws(",", the band's signature slots)) —
    # the same string (and hash) the array formulation produced.
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bno).alias("band_no"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"_m{i}")
                                    for i in range(
                                        bno * rows_per_band + 1,
                                        (bno + 1) * rows_per_band + 1,
                                    )
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for bno in range(bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "band.band_no", "band.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # shingles join back ONCE, post-dedup, for the exact verification
    sh = sh_df.select("_id", "sh")
    verified = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return verified.filter(F.col("jaccard") >= jaccard_threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per row → (_id, sig).

    Tokens explode to rows, each token contributes a ±1 vote per bit of
    its md5-derived 60-bit hash; one groupBy folds the votes and builds
    the signature with literal shift positions — fully codegen'd, and
    the explode+agg shape map-side combines (partial aggregation) so the
    shuffle carries one 64-vote row per document, not per token."""
    # a blank doc votes as ONE empty token, so blank docs pair with each
    # other exactly as they do under minhash / ngram_jaccard's [''] gram
    blank_as_one = F.when(F.size("_t") == 0, F.array(F.lit(""))).otherwise(F.col("_t"))
    toks = df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")).select(
        "_id", F.explode(blank_as_one).alias("tok")
    )
    # Two integer-exact reductions instead of one wide one: (1) collapse
    # to per-(doc, distinct-token) counts first (map-side combinable, so
    # repeated tokens fold locally and md5 runs once per distinct token
    # per doc — on Zipf text that is a large cut); (2) the 60 bit votes
    # as branch-free count-weighted bit sums, v_i = Σ cnt·(±1) =
    # 2·Σ cnt·bit_i − Σ cnt — identical integer votes, identical sig.
    counts = toks.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("_c"))
    th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("decimal(20,0)").cast("long")
    hashed = counts.select("_id", th.alias("th"), "_c")
    votes = hashed.groupBy("_id").agg(
        F.sum("_c").alias("_n"),
        *[
            F.sum(F.col("_c") * F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1))).alias(
                f"b{i}"
            )
            for i in range(60)
        ],
    )
    sig = F.lit(0).cast("long")
    for i in range(60):
        sig = sig.bitwiseOR(
            F.when(
                F.lit(2) * F.col(f"b{i}") - F.col("_n") > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("_id", sig.alias("sig"))


def _chunk_bounds(n_bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """(start, width) per chunk, widths differing by at most 1."""
    base, rem = divmod(n_bits, n_chunks)
    bounds, start = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_near_dup_pairs(df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs at hamming ≤ max_hamming over the 60-bit SimHash.

    Chunk count is DERIVED from max_hamming: splitting the signature
    into (max_hamming + 1) chunks guarantees by pigeonhole that any pair
    within max_hamming bits agrees on ≥1 whole chunk — so candidate
    generation has recall 1 BY CONSTRUCTION at the requested distance,
    for every max_hamming (the old fixed-4-chunk layout silently dropped
    pairs beyond hamming 3).  Exact hamming verify after the bucket join.

    Scale note: chunk width shrinks as max_hamming grows (60/(h+1)
    bits), so the bucket filter gets coarser — large h is inherently
    expensive on 60-bit signatures; keep h ≤ ~10 at corpus scale.
    """
    sig = simhash_signatures(df, text_col, id_col)
    return hamming_near_dup_pairs(sig, max_hamming=max_hamming, n_bits=60)


def hamming_near_dup_pairs(sig: DataFrame, max_hamming: int, n_bits: int = 64) -> DataFrame:
    """All pairs at hamming ≤ max_hamming over an integer signature
    column — the generic pigeonhole-banded bucket join behind SimHash
    text dedup and phash image dedup.

    Input: DataFrame with columns (_id, sig:long).  Output: (id_a, id_b,
    hamming) with id_a < id_b.  Candidate recall is 1 by construction:
    (max_hamming + 1) chunks, so any pair within max_hamming differing
    bits agrees on at least one whole chunk; the bucket equi-join then
    costs Σ|bucket|², never corpus².
    """
    n_chunks = max_hamming + 1
    bounds = _chunk_bounds(n_bits, n_chunks)
    chunked = sig.select(
        "_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_no"),
                        F.shiftright(F.col("sig"), start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for c, (start, width) in enumerate(bounds)
                ]
            )
        ).alias("ch"),
    ).select("_id", "sig", "ch.chunk_no", "ch.chunk")
    # Fan the thin chunk table out to the session parallelism: the
    # candidate join usually plans as a BROADCAST hash join (the chunk
    # table is ~10s of MB), which runs on the STREAM side's partitions —
    # and a narrow parquet scan yields 1-2 splits, so the entire
    # Σ|bucket|² probe loop ran on 1-2 cores (measured 180 s for a
    # 1.35G-probe clustered corpus at 150k docs; 32-way it is seconds).
    from sosse_spark.partitioning import fanout

    chunked = fanout(chunked)
    a, b = chunked.alias("a"), chunked.alias("b")
    # A pair agreeing on d chunks would surface d times from the bucket
    # join; emitting it ONLY at its FIRST agreeing chunk (all earlier
    # chunks must differ — a codegen'd predicate over sig_a XOR sig_b
    # evaluated inside the join) replaces the old dropDuplicates, which
    # hash-exchanged the full candidate-pair stream (at clustered-corpus
    # scale that stream is 100s of millions of rows: measured 27 s →
    # removing the exchange is the single biggest win in this operator).
    # The hamming verify runs inline in the same join filter, so pairs
    # beyond max_hamming never materialize either.
    x = F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    first_agree = F.lit(True)
    for c, (start, width) in enumerate(bounds[:-1]):
        differs = F.shiftright(x, start).bitwiseAND(F.lit((1 << width) - 1)) != 0
        first_agree = first_agree & ((F.col("a.chunk_no") <= F.lit(c)) | differs)
    cond = (
        (F.col("a.chunk_no") == F.col("b.chunk_no"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a._id") < F.col("b._id"))
        & first_agree
        & (F.bit_count(x) <= F.lit(max_hamming))
    )
    return a.join(b, cond).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
    )


def phash_hamming_pairs(
    df: DataFrame, phash_col: str, id_col: str, max_hamming: int = 4, n_bits: int = 64
) -> DataFrame:
    """Image near-dup pairs via perceptual-hash hamming distance.

    The input-table contract carries a per-image `phash:int64`
    (BASELINE.json input_hint; computed by functions/images.py
    phash64 at ingest — the 8×8-DCT analog of the reference's
    content-hash change detection, se/document.py:274-298).  Near-dup
    images sit within a few bits of each other, so dedup is the generic
    pigeonhole-banded hamming join — no pixel data ever shuffles, only
    (_id, sig, chunk) rows.
    """
    sig = df.select(F.col(id_col).alias("_id"), F.col(phash_col).cast("long").alias("sig"))
    return hamming_near_dup_pairs(sig, max_hamming=max_hamming, n_bits=n_bits)


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (_id, component), the
    step that turns pairwise dedup verdicts into dedup GROUPS (keep one
    representative per component).

    Algorithm: alternating large-star / small-star contractions
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public): each vertex repeatedly links to the minimum id
    in its closed neighborhood.  Converges in O(log n) rounds even on
    long paths (plain min-label propagation needs O(diameter)), every
    round is two hash-shuffled groupBys — no driver-side graph, no
    collect beyond the 1-row convergence check.  Near-dup clusters are
    near-cliques, so typical corpora converge in 2-3 rounds.

    Output: (_id, component) for every id appearing in `pairs`, where
    component = min id of the cluster.
    """
    # symmetric edge list, self-loops dropped
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def _sym(df: DataFrame) -> DataFrame:
        return df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    # Each round: large-star (every neighbor v > u links to the min of
    # u's closed neighborhood) then small-star (every neighbor v <= u,
    # and u itself, link to that min).  Both are one groupBy-min + one
    # join — hash-shuffled on vertex id, no driver-side graph.
    cur = edges.localCheckpoint(eager=True)
    if not cur.head(1):  # no edges → no components
        return cur.select(F.col("u").alias("_id"), F.col("v").alias("component"))
    converged = False
    for it in range(max_iter):
        nbrs = _sym(cur)
        mins = nbrs.groupBy("u").agg(F.min(F.least("u", "v")).alias("m"))
        ls = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        nbrs2 = _sym(ls)
        joined2 = nbrs2.join(
            nbrs2.groupBy("u").agg(F.min(F.least("u", "v")).alias("m")), "u"
        ).filter(F.col("v") <= F.col("u"))
        ss = (
            joined2.select(F.col("u").alias("x"), F.col("m"))
            .unionByName(joined2.select(F.col("v").alias("x"), F.col("m")))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        nxt = ss.localCheckpoint(eager=True)  # cut the iterative lineage
        # fixpoint: the edge set stopped changing (at convergence every
        # edge is (node → its component root)).  Both sides are
        # distinct sets, so symmetric difference ≡ rows appearing once
        # in the bag union — ONE aggregation job per iteration (and
        # skipped on the first, which never converges on real input).
        if it > 0:
            changed = (
                nxt.unionByName(cur)
                .groupBy("u", "v")
                .count()
                .filter(F.col("count") == 1)
                .limit(1)
                .count()
            )
            if changed == 0:
                cur = nxt
                converged = True
                break
        cur = nxt
    if not converged:
        # an unconverged edge set yields arbitrary (wrong) labels under
        # the dropDuplicates below — refuse rather than silently corrupt
        # a dedup decision (star contraction needs O(log n) rounds, so
        # hitting this means max_iter was set far too low)
        raise RuntimeError(
            f"dedup_components did not converge within max_iter={max_iter} rounds"
        )
    comp = cur.select(F.col("u").alias("_id"), F.col("v").alias("component"))
    roots = (
        comp.select(F.col("component").alias("_id"))
        .distinct()
        .withColumn("component", F.col("_id"))
    )
    return comp.unionByName(roots).dropDuplicates(["_id"]).select("_id", "component")


def dedup_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str, max_iter: int = 20
) -> DataFrame:
    """Keep ONE representative row (min id) per near-dup component and
    every row not in any pair — the end-to-end 'dedup the corpus'
    composition (pairs from any of the *_pairs operators)."""
    comp = dedup_components(pairs, max_iter=max_iter)
    losers = comp.filter(F.col("_id") != F.col("component")).select(
        F.col("_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.3,
    len_band: int = 8,
) -> DataFrame:
    """Word n-gram Jaccard near-dup within (first-token, length-band)
    blocks, with a size-ratio prefilter.

    Candidate generation is an inverted-index count join (the PPJoin /
    AllPairs family), NOT an all-pairs-within-block join: distinct grams
    explode to (id, blk, gs, gram) rows, the self equi-join on
    (blk, gram) emits one row per SHARED gram of a block pair, and a
    map-side-combinable count agg yields |A ∩ B| directly — so
    jaccard = c / (|A| + |B| − c) with no gram arrays ever shuffling and
    no per-pair array_intersect.  Pairs with zero shared grams (jaccard
    0) never surface, which is output-identical for any threshold > 0;
    block pairs whose distinct-gram counts fail the exact size-ratio
    bound (jaccard ≤ min/max) are pruned inside the join on two ints.

    Returns (id_a, id_b, jaccard ≥ threshold).  Requires threshold > 0.
    """
    if threshold <= 0:
        raise ValueError("ngram_jaccard_pairs requires threshold > 0 (the "
                         "inverted-index join never surfaces jaccard-0 pairs)")
    # staged toks→grams projections (see minhash_lsh_pairs: CollapseProject
    # would otherwise inline the split into the shingle lambda — O(tokens)
    # re-eval per shingle element)
    toks_df = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("toks"),
    )
    grams = toks_df.select(
        "_id",
        F.array_distinct(word_ngrams(F.col("toks"), n)).alias("g"),
        F.concat_ws(
            "|",
            F.get("toks", 0),
            (F.size("toks") / len_band).cast("int").cast("string"),
        ).alias("blk"),
    ).withColumn("gs", F.size("g"))

    # The gram table is eagerly localCheckpointed BEFORE the explode:
    # fusing the explode into the gram projection re-evaluates the HOF
    # pipeline per gram element (the CLAUDE.md 75× CollapseProject
    # hazard — measured 6.4 s noop → 37 s for the fused explode at 50k
    # docs), and the self-join's two sides would recompute the pipeline
    # once each on top.  The checkpoint pins one clean per-row pass.
    grams = grams.localCheckpoint(eager=True)
    # Inverted index: one scalar row per (doc, distinct gram) off the
    # checkpointed table — the arrays themselves never ride the join.
    ex = grams.select("_id", "blk", "gs", F.explode("g").alias("gram"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a._id") < F.col("b._id"))
        # size-ratio upper bound on two scalars — prunes before the agg
        & (
            F.least(F.col("a.gs"), F.col("b.gs"))
            >= F.greatest(F.col("a.gs"), F.col("b.gs")) * threshold
        ),
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.col("a.gs").alias("gs_a"),
        F.col("b.gs").alias("gs_b"),
    )
    pairs = (
        cand.groupBy("id_a", "id_b", "gs_a", "gs_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "id_a",
            "id_b",
            (F.col("_c") / (F.col("gs_a") + F.col("gs_b") - F.col("_c"))).alias("jaccard"),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def ngram_jaccard_bruteforce(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.3,
    max_rows: int = 10_000,
) -> DataFrame:
    """Full-pair n-gram Jaccard — the UNBLOCKED oracle twin of
    `ngram_jaccard_pairs`: identical gram pipeline and score, every
    i<j pair considered (only the scalar size-ratio bound prunes, which
    is exact: jaccard ≤ min/max of the distinct-gram counts).

    Quadratic by construction — `max_rows` refuses corpora it was never
    meant for.  It exists to certify the blocked operator's semantics
    AND recall (blocked output must be ⊆ this, and equal within
    blocks); production corpora use the blocked operator.
    """
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"ngram_jaccard_bruteforce is O(n²) and capped at max_rows={max_rows}; "
            "use ngram_jaccard_pairs (blocked) for real corpora"
        )
    toks_df = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("toks"),
    )
    grams = toks_df.select(
        "_id",
        F.array_distinct(word_ngrams(F.col("toks"), n)).alias("g"),
    ).withColumn("gs", F.size("g")).localCheckpoint(eager=True)

    thin = grams.select("_id", "gs")
    a, b = thin.alias("a"), thin.alias("b")
    cand = a.join(
        b,
        (F.col("a._id") < F.col("b._id"))
        & (
            F.least(F.col("a.gs"), F.col("b.gs"))
            >= F.greatest(F.col("a.gs"), F.col("b.gs")) * threshold
        ),
    ).select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))

    g = grams.select("_id", "g")
    pairs = (
        cand.join(g.select(F.col("_id").alias("id_a"), F.col("g").alias("g_a")), "id_a")
        .join(g.select(F.col("_id").alias("id_b"), F.col("g").alias("g_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("g_a", "g_b"))
                / F.size(F.array_union("g_a", "g_b"))
            ).alias("jaccard"),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_paragraphs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", sep: str = "\n"
) -> DataFrame:
    """Corpus-level paragraph dedup (the C4 cleaning rule — Raffel et
    al. 2020 §2.2's repeated-span removal at paragraph granularity):
    every distinct non-blank paragraph keeps only its FIRST occurrence
    (lowest (doc id, position)); each document reassembles from its
    surviving paragraphs in original order.

    Output: (_id, text, kept_paras, removed_paras) — text '' when every
    paragraph lost, removed counts non-blank duplicates only.

    Scale shape: ONE shuffle of the paragraph rows keyed by md5 digest
    (16 bytes — grouping on the digest, not the text, exactly like
    exact_dedup) with a row_number window picking the (id, pos)-first
    winner, then one per-doc reassembly shuffle.  Blank-only docs have
    no paragraph rows and drop out."""
    paras = (
        docs.select(
            F.col(id_col).alias("_id"),
            # \Q...\E: sep is a LITERAL separator, not a regex
            F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias("pos", "para"),
        )
        .filter(F.trim("para") != "")
        .withColumn("md5", F.md5("para"))
    )
    w = Window.partitionBy("md5").orderBy("_id", "pos")
    kept = (
        paras.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    per_doc_total = paras.groupBy("_id").agg(F.count("*").alias("_total"))
    reassembled = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))), lambda x: x["para"]
            ),
            sep,
        ).alias("text"),
        F.count("*").alias("kept_paras"),
    )
    return (
        per_doc_total.join(reassembled, "_id", "left")
        .select(
            "_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("kept_paras", F.lit(0)).cast("int").alias("kept_paras"),
            (F.col("_total") - F.coalesce("kept_paras", F.lit(0))).cast("int").alias("removed_paras"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Training-set decontamination by word k-gram collision (the
    benchmark-leakage rule of GPT-3 appendix C / PaLM-style n-gram
    overlap checks): a training doc is CONTAMINATED when it shares any
    word k-gram with any benchmark doc.  Documents shorter than k
    tokens contribute their whole token sequence as one gram (the
    shingles() short-doc rule, shared with MinHash).

    Output: one row per training doc — (_id, contaminated,
    matches int = distinct colliding benchmark docs, first_gram =
    lexicographically-first colliding gram for auditability).

    Scale shape: both sides explode to DISTINCT md5(gram) digests, so
    the collision join shuffles 16-byte keys — never text; the
    benchmark side (eval sets: thousands of docs) broadcasts; training
    docs join their verdict back thin on _id."""
    d_grams = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("gram"),
    ).withColumn("g_md5", F.md5("gram"))
    b_grams = (
        benchmark.select(
            F.col(bench_id_col).alias("_bid"),
            F.explode(F.array_distinct(shingles(bench_text_col, k))).alias("gram"),
        )
        .select("_bid", F.md5("gram").alias("g_md5"))
        .distinct()
    )
    hits = (
        d_grams.join(F.broadcast(b_grams), "g_md5")
        .groupBy("_id")
        .agg(
            F.count_distinct("_bid").alias("matches"),
            F.min("gram").alias("first_gram"),
        )
    )
    return docs.select(F.col(id_col).alias("_id")).distinct().join(hits, "_id", "left").select(
        "_id",
        F.col("matches").isNotNull().alias("contaminated"),
        F.coalesce("matches", F.lit(0)).cast("int").alias("matches"),
        "first_gram",
    )


def dedup_substring(
    docs: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    policy: str = "remove_all",
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499
    ExactSubstr): any k-token span whose text appears verbatim more than
    once in the corpus is removed from every document; documents
    reassemble from their surviving tokens.

    Equivalence to the paper's suffix-array formulation, at token
    granularity: every token inside a duplicated substring of >= k
    tokens lies in at least one duplicated k-token window, and every
    duplicated k-token window IS a duplicated substring — so the
    per-token union of duplicated k-windows removes exactly the tokens
    the suffix-array pass removes.  `policy` = 'remove_all' (the
    paper's tool: all copies cut) or 'keep_first' (the lowest (id,
    position) occurrence of each duplicated window survives).

    Output: (_id, text, kept_tokens, removed_tokens).

    Scale shape (why this beats a distributed suffix array here): the
    window table is O(total_tokens) THIN rows (_id, wpos, 16-byte md5)
    built by ONE staged HOF projection over the token array (the token
    array column is referenced >= 2 times so CollapseProject cannot
    inline the split into the lambda body — the measured 75x re-eval
    trap); duplicate detection is one map-side-combinable groupBy on
    the digest; the join back is a thin equi-join; coverage explode is
    bounded by k x |duplicated windows|.  No pair join, no n^2 term
    anywhere.  remove_all (the paper's tool default) never ranks
    occurrences; keep_first adds a per-digest row_number window, so a
    window duplicated 10^6 times funnels its occurrence rows through
    one task — use remove_all at full corpus scale.
    """
    if policy not in ("remove_all", "keep_first"):
        raise ValueError(f"unknown policy: {policy}")
    toked = docs.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col), lower=False).alias("toks"),
    )
    # one compiled-regex gram pass (word_ngrams, full windows only) with
    # the md5 OUTSIDE the generator — evaluated per exploded row under
    # whole-stage codegen; wpos is the 0-based posexplode index,
    # identical to the old sequence(0, n-k) window position
    windows = toked.select(
        "_id",
        F.posexplode(word_ngrams(F.col("toks"), k, short_doc_whole=False)).alias(
            "wpos", "_g"
        ),
    ).select("_id", F.col("wpos").cast("int").alias("wpos"), F.md5("_g").alias("h"))
    dup_h = windows.groupBy("h").count().filter(F.col("count") >= 2).select("h")
    if policy == "keep_first":
        wseq = Window.partitionBy("h").orderBy("_id", "wpos")
        dup_wins = (
            windows.join(dup_h, "h")
            .withColumn("_rn", F.row_number().over(wseq))
            .filter(F.col("_rn") > 1)
            .drop("_rn")
        )
    else:  # remove_all
        dup_wins = windows.join(dup_h, "h", "left_semi")
    covered = dup_wins.select(
        "_id", F.explode(F.sequence(F.col("wpos"), F.col("wpos") + (k - 1))).alias("pos")
    ).distinct()
    tok_rows = toked.select("_id", F.posexplode("toks").alias("pos", "tok"))
    survivors = tok_rows.join(covered, ["_id", "pos"], "left_anti")
    reassembled = survivors.groupBy("_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda x: x["tok"]),
            " ",
        ).alias("text"),
        F.count("*").alias("kept_tokens"),
    )
    totals = toked.select("_id", F.size("toks").alias("_total"))
    return totals.join(reassembled, "_id", "left").select(
        "_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("kept_tokens", F.lit(0)).cast("int").alias("kept_tokens"),
        (F.col("_total") - F.coalesce("kept_tokens", F.lit(0))).cast("int").alias("removed_tokens"),
    )


def c4_span_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4's corpus-level THREE-SENTENCE-SPAN dedup (Raffel et al. 2020,
    arXiv:1910.10683 §2.2: "we discarded all but one of any
    three-sentence span occurring more than once in the data set" —
    the cross-document rule next to dedup_paragraphs' paragraph
    granularity and functions/text.c4_clean's per-page rules).

    Sentences are the trimmed matches of ``[^.!?]+[.!?]`` (the same
    deterministic stand-in for nltk punkt declared by c4_clean); a
    span at 1-based position p is sentences p, p+1, p+2 joined by one
    space.  Every span occurrence beyond the corpus-first (lowest
    (id, p)) marks its three sentences for removal; documents
    reassemble from surviving sentences in order.  Overlapping
    duplicate spans remove the union of their sentences (including
    intra-document repeats).

    Output: (_id, text = kept sentences space-joined, n_sentences,
    kept_sentences, removed_sentences) — one row per input doc;
    sentence-less docs keep n_sentences = 0 and text ''.

    Scale shape: sentences and spans derive from ONE staged sentence
    array (no per-doc window for adjacency); span occurrences shuffle
    as thin (md5, id, p) rows — ONE digest-keyed exchange with a
    row_number window whose partitions are duplicate groups; removed
    sentences fan out <= 3x removed spans and anti-join the sentence
    rows on (id, pos); one per-doc reassembly shuffle.  No UDF, no
    global sort, nothing driver-side."""
    sent_arr = F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[^.!?]+[.!?]"), 0),
        lambda s: F.trim(s),
    )
    staged = docs.select(F.col(id_col).alias("_id"), sent_arr.alias("_sents"))
    n = F.size("_sents")
    sents = staged.select("_id", F.posexplode("_sents").alias("pos0", "sent")).select(
        "_id", (F.col("pos0") + 1).alias("pos"), "sent"
    )
    spans = staged.select(
        "_id",
        F.explode(
            F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("p"),
        F.col("_sents"),
    ).select(
        "_id",
        "p",
        F.md5(
            F.concat_ws(
                " ",
                F.element_at("_sents", F.col("p")),
                F.element_at("_sents", F.col("p") + 1),
                F.element_at("_sents", F.col("p") + 2),
            )
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("_id", "p")
    removed_spans = (
        spans.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") > 1)
    )
    removed_sents = removed_spans.select(
        "_id", F.explode(F.sequence(F.col("p"), F.col("p") + 2)).alias("pos")
    ).distinct()
    kept = sents.join(removed_sents, ["_id", "pos"], "left_anti")
    reassembled = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                lambda x: x["sent"],
            ),
            " ",
        ).alias("text"),
        F.count("*").alias("_kept"),
    )
    totals = staged.select("_id", n.alias("_total"))
    return totals.join(reassembled, "_id", "left").select(
        "_id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.col("_total").cast("int").alias("n_sentences"),
        F.coalesce("_kept", F.lit(0)).cast("int").alias("kept_sentences"),
        (F.col("_total") - F.coalesce("_kept", F.lit(0)))
        .cast("int")
        .alias("removed_sentences"),
    )


def corpus_line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_count: int = 3,
    drop_char_ratio: float = 0.5,
) -> DataFrame:
    """RefinedWeb-style corpus-level line deduplication (Penedo et al.
    2023, "The RefinedWeb Dataset for Falcon LLM", arXiv:2306.01116 —
    line-wise corrections): any non-blank line whose exact text occurs
    at least `min_count` times ACROSS THE CORPUS is removed from EVERY
    document (including its first occurrence — unlike dedup_paragraphs'
    C4 keep-first rule, this targets boilerplate: nav bars, cookie
    banners, like-button labels that repeat on many pages); a document
    that loses more than `drop_char_ratio` of its non-blank line
    characters is flagged dropped, per the paper's "if removals exceed
    a fraction of the document, drop it" rule.

    Output: (_id, text, kept_lines, removed_lines, dropped) — text ''
    when every line was boilerplate; blank lines are neither counted
    nor reassembled (same blank handling as dedup_paragraphs); docs
    with no non-blank lines keep text '' with dropped = false.

    Scale shape: line rows shuffle ONCE keyed by md5(line) (16-byte
    digest, never the text — same digest-grouping as exact_dedup) with
    a map-side-combining count, the verdict joins back thin on the
    digest, and one per-doc shuffle reassembles survivors in original
    order.  No windows, no driver state."""
    lines = (
        docs.select(
            F.col(id_col).alias("_id"),
            # \Q...\E: sep is a LITERAL separator, not a regex
            F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias("pos", "line"),
        )
        .filter(F.trim("line") != "")
        .withColumn("md5", F.md5("line"))
    )
    counts = lines.groupBy("md5").agg(F.count("*").alias("_cnt"))
    tagged = lines.join(counts, "md5").withColumn(
        "_rm", F.col("_cnt") >= F.lit(min_count)
    )
    stats = tagged.groupBy("_id").agg(
        F.sum(F.when(~F.col("_rm"), 1).otherwise(0)).alias("kept_lines"),
        F.sum(F.when(F.col("_rm"), 1).otherwise(0)).alias("removed_lines"),
        F.sum(F.when(F.col("_rm"), F.length("line")).otherwise(0)).alias("_rm_chars"),
        F.sum(F.length("line")).alias("_tot_chars"),
    )
    reassembled = (
        tagged.filter(~F.col("_rm"))
        .groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda x: x["line"],
                ),
                sep,
            ).alias("text")
        )
    )
    base = docs.select(F.col(id_col).alias("_id")).distinct()
    return (
        base.join(stats, "_id", "left")
        .join(reassembled, "_id", "left")
        .select(
            "_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("kept_lines", F.lit(0)).cast("int").alias("kept_lines"),
            F.coalesce("removed_lines", F.lit(0)).cast("int").alias("removed_lines"),
            F.coalesce(
                F.col("_rm_chars") > F.col("_tot_chars") * F.lit(drop_char_ratio),
                F.lit(False),
            ).alias("dropped"),
        )
    )


def dedup_cluster_stats(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 20
) -> DataFrame:
    """Attrition report for a near-dup pass — the dedup twin of the
    curation funnel's `funnel_stats` (pipeline publications report
    exactly this table: how much of the corpus sat in duplicate
    clusters and what deduplication removed).

    Given the corpus and the near-dup pairs (from any of the *_pairs
    operators), emit one row per CLUSTER SIZE:

        (cluster_size, n_clusters, n_docs, n_removed)

    where n_removed = n_docs − n_clusters under the keep-one-
    representative policy of dedup_canonical; docs in no pair appear as
    the cluster_size = 1 row (n_removed 0, row omitted when there are
    no singletons).

    Pair ids that are NOT corpus documents (a stale or wider pair
    table) are excluded before sizing — the histogram accounts for
    actual corpus rows only, so n_docs sums exactly to |docs|.

    Scale shape: components via the O(log n) star contraction
    (dedup_components), then one semi-join restricting components to
    corpus ids, ONE map-side-combining count per component, a tiny size
    histogram, and a single anti-join counting singletons — the
    histogram is at most max-cluster-size rows; no driver loop."""
    ids = docs.select(F.col(id_col).alias("_id")).distinct()
    comp = dedup_components(pairs, max_iter=max_iter).join(ids, "_id", "left_semi")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    singles = (
        ids.join(comp, "_id", "left_anti")
        .agg(F.count("*").alias("n_clusters"))
        .select(F.lit(1).cast("long").alias("cluster_size"), "n_clusters")
        .filter(F.col("n_clusters") > 0)
    )
    # re-aggregate after the union: a component whose other members are
    # all outside the corpus is an effective singleton and must merge
    # into the cluster_size = 1 row, not sit beside it
    merged = (
        hist.unionByName(singles)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").cast("int").alias("n_clusters"))
    )
    return merged.select(
        F.col("cluster_size").cast("int").alias("cluster_size"),
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).cast("int").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.col("n_clusters")).cast("int").alias("n_removed"),
    )


def phash_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    phash_col: str = "phash",
    query_id_col: str = "query_id",
    max_query_batch: int | None = None,
) -> DataFrame:
    """Exact hamming top-k retrieval over the 64-bit perceptual-hash
    column — query-by-image for the input_hint table (the retrieval
    twin of phash_hamming_pairs' threshold dedup, mirroring
    similarity.brute_force_topk's contract for embeddings).

    → (query_id, doc_id, hamming, rank), rank 1..k per query, ordered
    by hamming asc then id asc.  Queries broadcast (the small-query-
    batch contract, guarded); the scan is one codegen'd
    bit_count(xor) per (corpus row × query) — 8 bytes a row, no pixel
    data, no Python.  For threshold-bounded candidate generation at
    very large |Q| use phash_topk_banded."""
    from sosse_spark.operators.similarity import _guard_query_batch

    _guard_query_batch(queries, max_query_batch)
    q = queries.select(F.col(query_id_col), F.col(phash_col).alias("_q"))
    scored = (
        corpus.select(F.col(id_col), F.col(phash_col).cast("long").alias("_p"))
        .crossJoin(F.broadcast(q))
        .select(
            query_id_col,
            id_col,
            F.bit_count(F.col("_p").bitwiseXOR(F.col("_q"))).cast("int").alias("hamming"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("hamming").asc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def phash_topk_banded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_hamming: int = 4,
    n_bits: int = 64,
    fill_min_candidates: int | None = None,
    id_col: str = "doc_id",
    phash_col: str = "phash",
    query_id_col: str = "query_id",
    max_query_batch: int | None = None,
) -> DataFrame:
    """Banded hamming top-k: pigeonhole chunks bound WHICH corpus rows
    are candidates (any signature within max_hamming of the query
    agrees on >= 1 whole chunk — recall 1 for the in-radius set), so
    the scan is a chunk equi-join instead of corpus × |Q|.  Queries
    whose in-radius candidate set is starved (< fill_min_candidates,
    default 2k) fall back to the exact scan — every query returns
    min(k, |corpus|) rows, the same contract as lsh/ivf_topk.

    NOTE the semantic difference from phash_topk: when a query has >=
    fill_min candidates in radius, ranks beyond the radius are NOT
    searched — the result is the top-k OF THE IN-RADIUS SET.  Exact
    equality with phash_topk holds when the true k-th neighbor sits
    within max_hamming (the near-dup retrieval regime); the starved
    fallback restores it everywhere else.

    EAGER: building this DataFrame runs Spark jobs immediately — the
    candidate side is localCheckpoint(eager=True)-materialized so the
    starved-query probe and the re-rank share one pass (the same eager
    contract as minhash_lsh_pairs); callers composing plans without
    executing them should construct it last, and the checkpoint blocks
    free on GC once the frame goes out of scope (ADVICE r5)."""
    from sosse_spark.operators.similarity import _guard_query_batch

    _guard_query_batch(queries, max_query_batch)
    # clamp: fill_min below k would let a query with k > candidates >=
    # fill_min skip the fallback and silently return < k rows
    fill_min = max(k, fill_min_candidates if fill_min_candidates is not None else 2 * k)
    n_chunks = max_hamming + 1

    def _chunks(df, idc):
        return df.select(
            F.col(idc).alias("_cid"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk_no"),
                            F.shiftright(F.col(phash_col).cast("long"), start)
                            .bitwiseAND(F.lit((1 << width) - 1))
                            .alias("chunk"),
                        )
                        for c, (start, width) in enumerate(_chunk_bounds(n_bits, n_chunks))
                    ]
                )
            ).alias("ch"),
        ).select("_cid", "ch.chunk_no", "ch.chunk")

    qc = _chunks(queries, query_id_col).withColumnRenamed("_cid", "_qid")
    cc = _chunks(corpus, id_col)
    cand = (
        cc.join(F.broadcast(qc), ["chunk_no", "chunk"])
        .select(F.col("_qid").alias(query_id_col), F.col("_cid").alias(id_col))
        .dropDuplicates([query_id_col, id_col])
    )
    qv = queries.select(F.col(query_id_col), F.col(phash_col).alias("_q"))
    cv = corpus.select(F.col(id_col), F.col(phash_col).cast("long").alias("_p"))
    scored = (
        cand.join(F.broadcast(qv), query_id_col)
        .join(cv, id_col)
        .select(
            query_id_col,
            id_col,
            F.bit_count(F.col("_p").bitwiseXOR(F.col("_q"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # the thin (qid, id, hamming) candidate table feeds THREE
        # consumers (starved counts, the banded ranking arm, and the
        # fallback's semi-join) — materialize once instead of
        # re-running the chunk explode + equi-join per consumer; the
        # blocks free when this frame goes out of scope (the same
        # localCheckpoint-over-persist rationale as minhash_lsh_pairs)
        .localCheckpoint(eager=True)
    )
    counts = scored.groupBy(query_id_col).agg(F.count("*").alias("_n"))
    starved_q = (
        counts.filter(F.col("_n") < fill_min)
        .select(query_id_col)
        .unionByName(
            qv.select(query_id_col).join(counts, query_id_col, "left_anti")
        )
    )
    fallback = phash_topk(
        corpus,
        queries.join(F.broadcast(starved_q), query_id_col, "left_semi"),
        k=k,
        id_col=id_col,
        phash_col=phash_col,
        query_id_col=query_id_col,
        max_query_batch=max_query_batch,
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("hamming").asc(), F.col(id_col).asc())
    banded = (
        scored.join(F.broadcast(starved_q), query_id_col, "left_anti")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return banded.unionByName(fallback)
