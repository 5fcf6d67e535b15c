"""Text-analysis kernels for the training-data pipeline + reference parity.

Reference parity:
  * accent strip / NFD normalization — remove_accent (se/document.py:63-66)
    producing normalized_title/content/url
  * language detect — Document._get_lang (se/document.py:250-261); the
    reference uses langdetect (seeded).  We implement a deterministic
    stopword/character n-gram heuristic instead (no external model).

Training-data additions (per build brief): quality scoring, token
counting, rolling-hash document fingerprinting.  All built-in column
algebra where possible; NFD strip is a pandas UDF (Spark has no builtin
Unicode-decomposition strip).

Tokenizer contract: every tokenizing operator uses tokens() (whitespace
runs split, optionally lowercased) or alnum_tokens() (lowercased,
non-[a-z0-9] runs split — the rule the DuckDB oracles mirror).  Neither
yields an empty token: a blank doc is [], NULL stays NULL.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

__all__ = [
    "tokens",
    "alnum_tokens",
    "remove_accents",
    "remove_accents_udf",
    "lang_id_expr",
    "quality_score_expr",
    "token_count_expr",
    "bpe_ish_token_count_expr",
    "gopher_quality_flags",
    "gopher_repetition",
    "fingerprint_expr",
    "pii_scrub",
    "unigram_logprob",
    "hashed_classifier_score",
    "pareto_classifier_filter",
    "bigram_logprob",
    "c4_clean",
    "fineweb_quality",
    "char_entropy",
    "frequent_ngrams",
]


def tokens(col, lower: bool = True) -> Column:
    """Tokens between runs of space/tab/newline/CR/VT/FF; no empties."""
    return F.array_remove(F.split(F.lower(col) if lower else col, r"\s+"), "")


def alnum_tokens(col) -> Column:
    """Lowercased [a-z0-9] tokens: the LM/classifier/DSIR/caption/FTS
    rule, which every oracle's string_split_regex CTE must match."""
    return F.array_remove(F.split(F.lower(col), "[^a-z0-9]+"), "")


# Tiny deterministic stopword lists for the lang-ID heuristic.  Scoring is
# pure column algebra: count of language-marker words per language, argmax.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "es": ["el", "los", "las", "y", "es", "una", "que", "por"],
}


def _strip_series(s: pd.Series) -> pd.Series:
    def one(v):
        if v is None:
            return None
        return "".join(c for c in unicodedata.normalize("NFD", v) if not unicodedata.combining(c))

    return s.map(one)


remove_accents_udf = F.pandas_udf(_strip_series, StringType())


def remove_accents(text: str) -> str:
    """Scalar NFD accent strip (parity: se/document.py:63-66)."""
    return "".join(c for c in unicodedata.normalize("NFD", text) if not unicodedata.combining(c))


def _marker_count(tokens: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(tokens, arr))


def lang_id_expr(text_col: Column) -> Column:
    """Deterministic n-gram/stopword language-ID heuristic.

    Counts distinct language-marker stopwords per language over the
    lowercased token set; highest count wins, ties broken by fixed
    language order; zero markers → 'und' (undetermined).
    """
    toks = F.split(F.lower(text_col), r"[^\p{L}]+")
    scores = [(lang, _marker_count(toks, words)) for lang, words in _LANG_MARKERS.items()]
    best = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # reversed so earlier languages win ties via later when() precedence
    for lang, score in reversed(scores):
        result = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(result)
    return result


def quality_score_expr(text_col: Column) -> Column:
    """Heuristic document-quality score in [0,1]: blend of length,
    alpha ratio, punctuation ratio, and mean word length sanity."""
    n = F.length(text_col).cast("double")
    alpha = F.length(F.regexp_replace(text_col, r"[^\p{L}]", "")).cast("double")
    punct = F.length(F.regexp_replace(text_col, r"[^.,;:!?]", "")).cast("double")
    words = F.size(tokens(text_col, lower=False)).cast("double")
    mean_wlen = F.when(words > 0, n / words).otherwise(F.lit(0.0))
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_score = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_penalty = F.when(n > 0, F.least(punct / n * 10.0, F.lit(1.0))).otherwise(F.lit(0.0))
    wlen_score = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        0.4 * len_score + 0.4 * alpha_score + 0.2 * wlen_score - 0.2 * punct_penalty, 6
    )


def token_count_expr(text_col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col, lower=False))


def bpe_ish_token_count_expr(text_col: Column) -> Column:
    """BPE-ish token estimate: count of word/number/punct fragments via a
    GPT-2-style pre-tokenizer regex (letters runs, digit runs, other)."""
    toks = F.regexp_extract_all(text_col, F.lit(r"(\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+)"), 1)
    return F.size(toks)


def gopher_quality_flags(text_col: Column) -> list[Column]:
    """Gopher-style document-quality rules (Rae et al. 2021, §A1.1 —
    public) as pure column algebra; aliased boolean columns + a
    composite `gopher_pass`.  Deterministic approximations:

      * word count in [min_words, max_words]
      * mean word length in [3, 10]
      * ellipsis-line fraction <= 0.3, bullet-line fraction <= 0.9
      * >= 80% of words contain an alphabetic character
      * >= 2 distinct common stop words present

    Each rule is one codegen'd expression over the text column — the
    whole filter is a projection, no shuffle, no UDF.
    """
    words = tokens(text_col, lower=False)
    n_words = F.size(words)
    chars = F.length(F.concat_ws("", words)).cast("double")
    mean_wlen = F.when(n_words > 0, chars / n_words).otherwise(F.lit(0.0))
    lines = F.filter(F.split(text_col, "\n"), lambda l: F.trim(l) != F.lit(""))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_lines = F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*\u2022]")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.trim(l).endswith("...")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("\\p{L}")))
    stop = ["the", "be", "to", "of", "and", "that", "have", "with"]
    toks = F.split(F.lower(text_col), "[^a-z]+")
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(x) for x in stop])))
    flags = [
        ((n_words >= 50) & (n_words <= 100000)).alias("g_word_count"),
        ((mean_wlen >= 3.0) & (mean_wlen <= 10.0)).alias("g_mean_word_len"),
        ((ellipsis_lines / n_lines) <= 0.3).alias("g_ellipsis"),
        ((bullet_lines / n_lines) <= 0.9).alias("g_bullets"),
        (F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0)) >= 0.8).alias("g_alpha_words"),
        (n_stop >= 2).alias("g_stop_words"),
    ]
    composite = flags[0]
    for f in flags[1:]:
        composite = composite & f
    # rebuild from the aliased columns is caller-side; return flags+pass
    return flags + [composite.alias("gopher_pass")]


def fingerprint_expr(text_field: str, window: int = 8) -> Column:
    """Rolling-hash document fingerprint: lexicographic-min md5 over
    character shingles of `window` chars (winnowing-style min-sample,
    stable under small edits elsewhere in the document).  md5 rather than
    xxhash64 so a DuckDB oracle computes the identical value."""
    return F.expr(
        f"array_min(transform(sequence(1, greatest(length({text_field}) - {window - 1}, 1)), "
        f"i -> md5(substring({text_field}, i, {window}))))"
    )


# Gopher repetition thresholds (Rae et al. 2021, Table A1 — public):
# {n: max top-n-gram char fraction} and {n: max duplicate-n-gram char
# fraction}; line rules 0.30 (fraction) / 0.20 (char fraction)
_GOPHER_TOP_NGRAM = {2: 0.20, 3: 0.18, 4: 0.16}
_GOPHER_DUP_NGRAM = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher repetition-removal signals (Rae et al. 2021, §A1.1 /
    Table A1 — the *other* half of the Gopher filter next to
    gopher_quality_flags): per document

      * dup_line_frac       duplicate lines / lines
      * dup_line_char_frac  chars in duplicate line occurrences / line chars
      * top{2,3,4}_frac     chars covered by the single most
                            character-covering n-gram / non-space chars
      * dup{5..10}_frac     chars in n-grams occurring >= 2 times /
                            chars in all n-grams

    plus per-rule booleans against the Table-A1 thresholds and a
    composite `rep_pass`.  Declared deterministic variants: "top"
    means max over grams of count*len (the most character-covering
    gram — tie-free where PG-style arg-max would need a tiebreak), and
    duplicate-gram char fractions are overlap-agnostic (every
    occurrence weighted by its full char length).  The newline-less
    document model makes paragraph rules coincide with line rules.

    100 TB shape: line metrics are per-row array algebra (no shuffle);
    gram metrics explode to (doc, n, gram) rows — linear in corpus
    size — then ONE hash aggregation keyed by (doc, n, gram) with
    map-side combine and ONE conditional re-aggregation keyed by doc.
    All JVM; no UDF, no window, no driver loop."""
    w = tokens(F.col(text_col), lower=False)
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != F.lit("")
    )
    n_lines = F.size(lines)
    d_lines = F.array_distinct(lines)
    sum_len = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    line_chars = sum_len(lines)
    dup_line_frac = F.when(
        n_lines > 0, (n_lines - F.size(d_lines)) / n_lines
    ).otherwise(F.lit(0.0))
    dup_line_char_frac = F.when(
        line_chars > 0, (line_chars - sum_len(d_lines)) / line_chars
    ).otherwise(F.lit(0.0))

    def _gram_builder(n):
        # bind n OUTSIDE the HOF lambda: a default-arg lambda would gain
        # a second signature parameter and PySpark would call it with
        # (element, index), silently binding n to the index column
        return lambda i: F.struct(
            F.lit(n).alias("n"),
            F.concat_ws(" ", F.slice(w, i, n)).alias("gram"),
        )

    gram_arrays = []
    for n in sorted({*_GOPHER_TOP_NGRAM, *_GOPHER_DUP_NGRAM}):
        grams_n = F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1), _gram_builder(n)
            ),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))
        gram_arrays.append(grams_n)

    base = df.select(
        F.col(id_col),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(dup_line_char_frac, 6).alias("dup_line_char_frac"),
        sum_len(w).alias("_doc_chars"),
        F.flatten(F.array(*gram_arrays)).alias("_grams"),
    )

    counts = (
        base.select(F.col(id_col), F.explode("_grams").alias("s"))
        .select(F.col(id_col), F.col("s.n").alias("n"), F.col("s.gram").alias("gram"))
        .groupBy(id_col, "n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("chars", F.col("cnt") * F.length("gram"))
    )
    aggs = []
    for n in _GOPHER_TOP_NGRAM:
        aggs.append(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("chars"))), F.lit(0)
            ).alias(f"_top{n}")
        )
    for n in _GOPHER_DUP_NGRAM:
        aggs.append(
            F.coalesce(
                F.sum(F.when((F.col("n") == n) & (F.col("cnt") >= 2), F.col("chars"))),
                F.lit(0),
            ).alias(f"_dup{n}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("n") == n, F.col("chars"))), F.lit(0)
            ).alias(f"_tot{n}")
        )
    per_doc = counts.groupBy(id_col).agg(*aggs)

    out = base.drop("_grams").join(per_doc, id_col, "left")
    cols = [F.col(id_col), F.col("dup_line_frac"), F.col("dup_line_char_frac")]
    flag_cols = [
        (F.col("dup_line_frac") <= 0.30).alias("r_dup_line"),
        (F.col("dup_line_char_frac") <= 0.20).alias("r_dup_line_char"),
    ]
    for n, thr in _GOPHER_TOP_NGRAM.items():
        frac = F.when(
            F.col("_doc_chars") > 0,
            F.coalesce(F.col(f"_top{n}"), F.lit(0)) / F.col("_doc_chars"),
        ).otherwise(F.lit(0.0))
        cols.append(F.round(frac, 6).alias(f"top{n}_frac"))
        flag_cols.append((F.round(frac, 6) <= thr).alias(f"r_top{n}"))
    for n, thr in _GOPHER_DUP_NGRAM.items():
        frac = F.when(
            F.coalesce(F.col(f"_tot{n}"), F.lit(0)) > 0,
            F.coalesce(F.col(f"_dup{n}"), F.lit(0)) / F.col(f"_tot{n}"),
        ).otherwise(F.lit(0.0))
        cols.append(F.round(frac, 6).alias(f"dup{n}_frac"))
        flag_cols.append((F.round(frac, 6) <= thr).alias(f"r_dup{n}"))
    composite = flag_cols[0]
    for fc in flag_cols[1:]:
        composite = composite & fc
    return out.select(*cols, *flag_cols, composite.alias("rep_pass"))


# PII patterns (the regex-scrub stage of public cleaning pipelines —
# BigScience ROOTS / FineWeb-style redaction).  Each pattern is valid
# and equivalent under BOTH Java regex (Spark) and RE2 (DuckDB oracle):
# ASCII \d / \b, greedy leftmost-first, no backrefs or lookaround.
_PII_RULES = (
    # (name, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # international +NNNNNNN... and US-style NNN-NNN-NNNN (dash only —
    # a dotted phone form would collide with the IPv4 rule)
    ("phone", r"\+\d{7,15}|\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def pii_scrub(df, id_col: str = "doc_id", text_col: str = "text"):
    """PII redaction (the regex-scrub stage of public LLM data
    pipelines): replaces emails, IPv4 addresses, and phone numbers with
    <EMAIL>/<IP>/<PHONE> tokens and counts each category.

    Rules apply IN ORDER (email, then IPv4, then phone), each counting
    matches on its own stage input — so an IPv4 inside an already
    scrubbed email local-part is not double-counted.  Output:
    (id, text_scrubbed, n_emails, n_ipv4, n_phones, has_pii).

    100 TB shape: per-row regexp algebra inside one projection — no
    shuffle, no UDF, whole-stage codegen end to end."""
    stage = F.col(text_col)
    counts = []
    for name, pat, repl in _PII_RULES:
        counts.append(F.regexp_count(stage, F.lit(pat)).alias(f"_n_{name}"))
        stage = F.regexp_replace(stage, pat, repl)
    staged = df.select(F.col(id_col), stage.alias("text_scrubbed"), *counts)
    total = (
        F.col("_n_email") + F.col("_n_ipv4") + F.col("_n_phone")
    )
    return staged.select(
        id_col,
        "text_scrubbed",
        F.col("_n_email").cast("int").alias("n_emails"),
        F.col("_n_ipv4").cast("int").alias("n_ipv4"),
        F.col("_n_phone").cast("int").alias("n_phones"),
        (total > 0).alias("has_pii"),
    )


def word_ngrams(toks, n: int, short_doc_whole: bool = True):
    """Overlapping word n-grams of a token array as ONE compiled-regex
    pass over the single-space join: a zero-width lookahead anchored at
    token starts captures the next n tokens — whole-stage-codegen'd
    instead of a transform/slice/concat_ws HOF interpreted per gram
    (CLAUDE.md HOF rule; measured ~2× on 50k-doc gram builds).

    Input contract: a tokens()/alnum_tokens() array (no empty token),
    so the join splits back into the same tokens and gram i starts at
    token i — the position dedup_substring maps back to.

    short_doc_whole: a doc with fewer than n tokens contributes its
    whole token sequence as one gram (the dedup shingle rule); False →
    empty array (full windows only).  NULL arrays pass through."""
    pat = "(?<=^| )(?=(\\S+" + " \\S+" * (n - 1) + "))"
    joined = F.concat_ws(" ", toks)
    short = (
        F.array(joined) if short_doc_whole else F.array().cast("array<string>")
    )
    return F.when(toks.isNull(), toks).otherwise(
        F.when(F.size(toks) < n, short).otherwise(
            F.regexp_extract_all(joined, F.lit(pat), F.lit(1))
        )
    )


def unigram_logprob(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 65536,
):
    """Corpus-trained unigram language-model quality score — the
    deterministic proxy for CCNet's KenLM perplexity filter (Wenzek et
    al. 2020 train a 5-gram LM and keep low-perplexity docs; this
    engine trains a unigram LM on the corpus itself, no external
    model): per document the mean negative log-probability of its
    tokens under corpus unigram frequencies, and its exp (a
    perplexity).  Common-word documents score LOW avg_nll (keep);
    rare-token noise scores HIGH.

    The vocabulary keeps the top `vocab_size` tokens by corpus count
    (ties by token ascending — deterministic); out-of-vocabulary
    tokens take the add-one floor count 1.  Output: (id, n_tokens,
    avg_nll, ppl), docs with no tokens drop out.

    100 TB shape: two linear passes over the token stream — ONE
    map-side-combinable (token → count) aggregation, a top-V cut via
    orderBy().limit() (TakeOrderedAndProject — parallel partial
    top-k, never a global sort), the V-row vocab + 1-row total
    BROADCAST into the scoring join, then ONE per-doc aggregation.
    No UDF, no driver loop; the only all-reduce objects are the
    bounded vocab and a scalar."""
    toks = alnum_tokens(text_col)
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    counts = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    vocab = counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(vocab_size)
    scored = (
        tok_rows.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (F.log(F.col("_total").cast("double"))
             - F.log(F.coalesce(F.col("cnt"), F.lit(1)).cast("double"))).alias("_nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.round(F.avg("_nll"), 6).alias("avg_nll"),
        F.round(F.exp(F.avg("_nll")), 4).alias("ppl"),
    )


def hashed_classifier_score(
    df,
    weights,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 16,
    bias: float = 0.0,
):
    """Hashing-trick linear quality classifier — the GPT-3 Appendix A
    document-filtering shape (Brown et al. 2020: a linear classifier
    over hashed token features scores each document's similarity to a
    high-quality corpus; LLaMA/CCNet pipelines use the same
    classifier-filter step).  `weights` is a (bucket:int, w:double)
    table from any offline trainer; tokens hash into `n_buckets` via
    the md5-derived bucket (engine- and oracle-reproducible — Spark's
    xxhash64 does not exist in DuckDB), and the document scores

        prob = sigmoid(bias + mean_over_tokens(w[bucket(token)]))

    (mean, not sum — length-invariant, the standard averaged
    bag-of-features form).  Unweighted buckets contribute 0.

    Output: (id, n_tokens, prob).  Docs with no tokens drop out.

    100 TB shape: ONE token explode, a BROADCAST join against the
    bounded weights table, ONE per-doc aggregation — no UDF, no
    unbounded shuffle."""
    toks = alnum_tokens(text_col)
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    bucket = F.pmod(F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"), F.lit(n_buckets))
    scored = tok_rows.withColumn("bucket", bucket).join(
        F.broadcast(weights.select(F.col("bucket"), F.col("w"))), "bucket", "left"
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.avg(F.coalesce(F.col("w"), F.lit(0.0))).alias("_m"),
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + F.col("_m"))))
    return agg.select(id_col, "n_tokens", F.round(prob, 9).alias("prob"))


def pareto_classifier_filter(scored, alpha: float = 9.0, seed: int = 42, id_col: str = "doc_id"):
    """GPT-3 Appendix A's stochastic keep rule, made deterministic:
    the reference keeps a document when

        np.random.pareto(alpha) > 1 - document_score

    (Brown et al. 2020 eq. in Appendix A — low-scoring docs still get
    sampled occasionally, proportional to a heavy tail).  Here the
    Pareto draw comes from the md5-derived uniform via the inverse
    CDF, pareto(u) = (1-u)^(-1/alpha) - 1, so the decision is
    replay/engine-reproducible.  Adds (pareto_draw, keep) columns."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{seed}"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return scored.withColumn("pareto_draw", F.round(draw, 9)).withColumn(
        "keep", draw > (F.lit(1.0) - F.col("prob"))
    )


def bigram_logprob(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
):
    """Corpus-trained interpolated-bigram language-model score — one
    step up the n-gram ladder from unigram_logprob toward CCNet's
    5-gram KenLM filter (Wenzek et al. 2020), still fully deterministic
    and self-trained (no external model):

        p(w2 | w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/total

    scored over every adjacent token pair; the unigram back-off term
    never needs an OOV floor because the corpus scores itself (every
    token has count >= 1).  Output: (id, n_pairs, avg_nll, ppl); docs
    with fewer than 2 tokens drop out (no pairs to score).

    100 TB shape: TWO map-side-combinable count aggregations (unigram,
    bigram), then the per-bigram NLL is computed ON THE BIGRAM TABLE
    (its joins against the unigram table touch vocabulary-sized rows
    only) and the pair stream crosses exactly ONE equi-join to pick its
    score up — the nll is a pure function of (w1, w2), so joining the
    corpus-sized pair stream three times (its old shape) moved the same
    information three times (guide §2.3: shuffle keys, not payloads;
    measured 10.4 s → ~4 s at 50k docs).  The bigram vocabulary is
    corpus-sized, so neither it nor the score table is ever broadcast
    by construction (AQE may still elect to when it measures them
    small).  The thin (id, w1, w2) pair stream is localCheckpointed so
    tokenization runs once for the bigram side (the unigram side scans
    ALL docs, including the short ones the pair stream drops)."""
    toks = alnum_tokens(text_col)
    staged = df.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= 2)
    n = F.size("_toks")
    pairs = staged.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice("_toks", 1, n - 1).alias("w1"),
                F.slice("_toks", 2, n - 1).alias("w2"),
            )
        ).alias("_p"),
    ).select(
        F.col(id_col), F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    ).localCheckpoint(eager=True)
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    c1 = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    total = c1.agg(F.sum("c1").alias("_total"))
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c2"))
    nll_tab = (
        c2.join(c1.select(F.col("tok").alias("w1"), F.col("c1").alias("_c1w1")), "w1")
        .join(c1.select(F.col("tok").alias("w2"), F.col("c1").alias("_c1w2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            (
                -F.log(
                    F.lit(float(lam)) * F.col("c2") / F.col("_c1w1")
                    + F.lit(1.0 - float(lam)) * F.col("_c1w2") / F.col("_total")
                )
            ).alias("_nll"),
        )
    )
    scored = pairs.join(nll_tab, ["w1", "w2"]).select(F.col(id_col), "_nll")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_pairs"),
        F.round(F.avg("_nll"), 6).alias("avg_nll"),
        F.round(F.exp(F.avg("_nll")), 4).alias("ppl"),
    )


# C4 cleaning thresholds (Raffel et al. 2020, arXiv:1910.10683 §2.2)
_C4_MIN_WORDS_PER_LINE = 5
_C4_MIN_SENTENCES = 3
# a "sentence end" for the line-keep rule includes the closing quote,
# per the paper ("period, exclamation mark, question mark, or end
# quotation mark"); the page-level sentence COUNT uses [.!?] only
_C4_TERMINAL_RE = '[.!?"]$'


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    badwords: tuple[str, ...] = (),
) -> DataFrame:
    """C4 line/page cleaning rules (Raffel et al. 2020,
    arXiv:1910.10683 §2.2 — the cleaning half next to the paragraph
    dedup already in operators/dedup.py dedup_paragraphs):

    line rules (a line survives iff ALL hold):
      * ends in a terminal punctuation mark (``. ! ? "``)
      * contains at least 5 words
      * does not contain the word "javascript" (case-insensitive)

    page rules (the whole document is dropped iff ANY holds):
      * fewer than 3 retained sentences
      * any bad word from the caller's list (word-boundary match on the
        RAW text — the paper's "List of Dirty, Naughty, Obscene ..."
        list is parameterized, not vendored)
      * the phrase "lorem ipsum" (case-insensitive, raw text)
      * a curly bracket ``{`` anywhere (raw text)

    Output: (id, text_clean = retained lines newline-joined, n_lines,
    n_kept, n_sentences, has_badword, has_lorem, has_brace, keep).
    Dropped pages still emit their row with keep=false — callers
    filter; this keeps the op certifiable end to end.

    Declared deterministic variant: the reference implementation counts
    sentences with an nltk punkt tokenizer over the retained text; here
    n_sentences = occurrences of [.!?] in retained lines — deterministic
    and engine-reproducible (the DuckDB oracle recomputes it exactly).

    100 TB shape: two staged projections (lines, then kept-lines —
    each staged column referenced >= 2 times so CollapseProject cannot
    re-inline the interpreted HOFs per element), zero shuffle, no UDF,
    no window; the only non-codegen pieces are the array HOFs."""
    low = F.lower(F.col(text_col))
    if badwords:
        pat = r"\b(" + "|".join(sorted(w.lower() for w in badwords)) + r")\b"
        has_badword = low.rlike(pat)
    else:
        has_badword = F.lit(False)
    staged = df.select(
        F.col(id_col),
        has_badword.alias("has_badword"),
        low.contains("lorem ipsum").alias("has_lorem"),
        F.col(text_col).contains("{").alias("has_brace"),
        F.filter(
            F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
            lambda l: l != F.lit(""),
        ).alias("_lines"),
    )
    kept = staged.select(
        F.col(id_col),
        "has_badword",
        "has_lorem",
        "has_brace",
        F.size("_lines").alias("n_lines"),
        F.filter(
            F.col("_lines"),
            lambda l: l.rlike(_C4_TERMINAL_RE)
            & (F.size(tokens(l, lower=False)) >= _C4_MIN_WORDS_PER_LINE)
            & ~F.lower(l).contains("javascript"),
        ).alias("_kept"),
    )
    n_sentences = F.aggregate(
        F.col("_kept"),
        F.lit(0),
        lambda acc, l: acc + F.regexp_count(l, F.lit("[.!?]")).cast("int"),
    )
    return kept.select(
        F.col(id_col),
        F.array_join("_kept", "\n").alias("text_clean"),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.size("_kept").cast("int").alias("n_kept"),
        n_sentences.cast("int").alias("n_sentences"),
        "has_badword",
        "has_lorem",
        "has_brace",
        (
            ~F.col("has_badword")
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
            & (n_sentences >= _C4_MIN_SENTENCES)
        ).alias("keep"),
    )


# Unicode script ranges for script_profile — BMP-only blocks (no
# surrogate pairs, so Spark's and DuckDB's code-point length() agree)
# in PRIORITY order: dominant-script ties break toward the earlier
# entry (argmax = first index of the max, the staged array_position
# pattern).  \x{...} escapes parse identically in Java regex and RE2.
_SCRIPT_BLOCKS = (
    ("latin", "[A-Za-z\\x{00C0}-\\x{024F}]"),
    ("cyrillic", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[\\x{0370}-\\x{03FF}]"),
    ("cjk", "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]"),
    ("arabic", "[\\x{0600}-\\x{06FF}]"),
    ("hangul", "[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}]"),
)
_SCRIPT_DIGIT = "[0-9]"


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode script profiling — the writing-system half of language
    ID (CLD/fastText pipelines gate on script before n-gram language
    scoring; CCNet §4.2 and Gopher both partition the crawl by
    language, which first requires knowing the script): per document,
    the fraction of characters in each major script block and the
    dominant script.

    Blocks (BMP-only, so cross-engine code-point counts agree): latin
    (ASCII + Latin-1/Extended), cyrillic, greek, cjk (unified
    ideographs + kana), arabic, hangul, plus a digit fraction.
    Fractions are count/length(text) rounded to 6; `script` is the
    argmax over the BLOCK COUNTS (integers — no float-tie edge), ties
    to the priority order above, 'other' when no block matches at all.

    100 TB shape: one codegen'd projection of regexp_count columns and
    a STAGED count array referenced twice (array_position + element_at
    — the O(K) argmax pattern, not an O(K²) CASE chain); zero shuffle,
    zero UDF, zero join."""
    total = F.length(F.col(text_col))
    counts = F.array(
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("int")
            for _, pat in _SCRIPT_BLOCKS
        ]
    )
    staged = df.select(
        F.col(id_col),
        total.alias("n_chars"),
        counts.alias("_cnt"),
        F.regexp_count(F.col(text_col), F.lit(_SCRIPT_DIGIT))
        .cast("int")
        .alias("_dig"),
    )
    frac = lambda c: F.round(  # noqa: E731
        F.when(F.col("n_chars") > 0, c / F.col("n_chars")).otherwise(F.lit(0.0)), 6
    )
    names = F.array(*[F.lit(nm) for nm, _ in _SCRIPT_BLOCKS])
    script = F.when(
        F.array_max("_cnt") > 0,
        F.element_at(names, F.array_position("_cnt", F.array_max("_cnt")).cast("int")),
    ).otherwise(F.lit("other"))
    cols = [F.col(id_col), F.col("n_chars").cast("int").alias("n_chars")]
    for j, (nm, _) in enumerate(_SCRIPT_BLOCKS):
        cols.append(frac(F.element_at("_cnt", j + 1)).alias(f"{nm}_frac"))
    cols.append(frac(F.col("_dig")).alias("digit_frac"))
    cols.append(script.alias("script"))
    return staged.select(*cols)


# CCNet bucket grid: scores quantize into centi-NLL bins before the
# per-language ECDF cut, so the tertile rule is pure integer algebra
# (engine- and oracle-reproducible) and the cumulative window runs
# over a BOUNDED bin table instead of every document.
_CCNET_BIN_SCALE = 100


def ccnet_ppl_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    lam: float = 0.7,
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.4: per language, order documents by LM
    perplexity and cut the corpus into three equal parts — "head" is
    the Wikipedia-like third, "tail" the noisiest; downstream training
    sets sample by bucket).  The LM is the engine's self-trained
    interpolated bigram (bigram_logprob — the deterministic stand-in
    for CCNet's external KenLM, same contract as text_bigram_lm).

    Deterministic variant (declared): CCNet computes per-language
    percentile cutoffs over a histogram of perplexities; here the
    histogram bins are floor(avg_nll * 100) (centi-NLL), and a bin
    belongs to
        head    iff  cum(bin) * 3 <= n_lang
        middle  iff  cum(bin) * 3 <= 2 * n_lang  (and not head)
        tail    otherwise
    where cum(bin) counts documents in the language scoring <= the
    bin.  Bin groups are atomic (every doc in a bin shares its
    bucket), and the rule is integer-only — no interpolated-quantile
    float edge can diverge between engines.  Docs with < 2 tokens have
    no pairs to score and drop out (bigram_logprob's contract).

    Output: (id, lang, avg_nll, ppl, nll_bin, bucket).

    100 TB shape: bigram_logprob's passes, then ONE map-side-combinable
    (lang, bin) count, a cumulative window over the BOUNDED bin table
    (<= a few thousand rows per language — never a per-document
    window), a 1-row-per-language count broadcast, and a thin hash
    join back on (lang, bin).  No UDF, no global sort."""
    from pyspark.sql import Window

    scored = bigram_logprob(df, id_col=id_col, text_col=text_col, lam=lam)
    # `s` feeds the bin histogram, the per-language counts AND the final
    # join — localCheckpoint pins the thin scored rows so the bigram-LM
    # passes (token explode + corpus bigram join) run ONCE, not three
    # times (measured 7.2 s → ~3 s at 50k docs), and all three consumers
    # see byte-identical doubles.
    s = (
        scored.join(df.select(id_col, lang_col), id_col)
        .withColumn("nll_bin", F.floor(F.col("avg_nll") * _CCNET_BIN_SCALE).cast("long"))
        .localCheckpoint(eager=True)
    )
    bins = s.groupBy(lang_col, "nll_bin").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(lang_col).orderBy("nll_bin")
    cum = bins.withColumn("_cum", F.sum("_c").over(w)).drop("_c")
    n_lang = s.groupBy(lang_col).agg(F.count(F.lit(1)).alias("_n"))
    bucket = (
        F.when(F.col("_cum") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("_cum") * 3 <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        s.join(cum, [lang_col, "nll_bin"])
        .join(F.broadcast(n_lang), lang_col)
        .select(
            id_col,
            lang_col,
            "avg_nll",
            "ppl",
            "nll_bin",
            bucket.alias("bucket"),
        )
    )


# FineWeb custom-filter thresholds (Penedo et al. 2024,
# arXiv:2406.17557 §3.6: the three filters FineWeb adds on top of its
# Gopher/C4 stack).  Directions are DROP rules in the paper; `keep`
# below is their conjunction negated per-rule.
_FINEWEB_PUNCT_MIN = 0.12  # drop iff punct-terminated line fraction <= this
_FINEWEB_DUP_CHAR_MAX = 0.1  # drop iff duplicated-line char fraction >= this
_FINEWEB_SHORT_MAX = 0.67  # drop iff short-line fraction >= this
_FINEWEB_SHORT_LEN = 30  # a "short" line has fewer than this many chars


def fineweb_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """FineWeb's three custom quality filters (Penedo et al. 2024,
    arXiv:2406.17557 §3.6 — the filters FineWeb derived by inspecting
    what its Gopher+C4 stack still let through):

      * punct_line_frac   fraction of lines ending in terminal
                          punctuation (C4's set: ``. ! ? "``);
                          drop iff <= 0.12
      * dup_line_char_frac fraction of characters in duplicated line
                          occurrences (the gopher_repetition formula);
                          drop iff >= 0.1
      * short_line_frac   fraction of lines shorter than 30 chars;
                          drop iff >= 0.67

    Lines are the trimmed non-empty '\\n' splits (the same line model
    as gopher_repetition and c4_clean).  A document with no lines fails
    the punctuation rule (fraction 0).  Fractions are rounded to 6
    places before thresholding so the DuckDB oracle reproduces every
    verdict bit-exactly.

    100 TB shape: one staged line projection (referenced >= 2 times so
    the interpreted HOFs evaluate once), then per-row array algebra —
    zero shuffle, no UDF, no window."""
    staged = df.select(
        F.col(id_col),
        F.filter(
            F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
            lambda l: l != F.lit(""),
        ).alias("_lines"),
    )
    lines = F.col("_lines")
    n = F.size(lines)
    sum_len = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    line_chars = sum_len(lines)
    punct_frac = F.round(
        F.when(
            n > 0,
            F.size(F.filter(lines, lambda l: l.rlike(_C4_TERMINAL_RE))) / n,
        ).otherwise(F.lit(0.0)),
        6,
    )
    short_frac = F.round(
        F.when(
            n > 0,
            F.size(
                F.filter(lines, lambda l: F.length(l) < _FINEWEB_SHORT_LEN)
            )
            / n,
        ).otherwise(F.lit(0.0)),
        6,
    )
    dup_char_frac = F.round(
        F.when(
            line_chars > 0,
            (line_chars - sum_len(F.array_distinct(lines))) / line_chars,
        ).otherwise(F.lit(0.0)),
        6,
    )
    scored = staged.select(
        F.col(id_col),
        n.cast("int").alias("n_lines"),
        punct_frac.alias("punct_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
        short_frac.alias("short_line_frac"),
    )
    f_punct = F.col("punct_line_frac") > _FINEWEB_PUNCT_MIN
    f_dup = F.col("dup_line_char_frac") < _FINEWEB_DUP_CHAR_MAX
    f_short = F.col("short_line_frac") < _FINEWEB_SHORT_MAX
    return scored.select(
        id_col,
        "n_lines",
        "punct_line_frac",
        "dup_line_char_frac",
        "short_line_frac",
        f_punct.alias("r_punct"),
        f_dup.alias("r_dup_char"),
        f_short.alias("r_short"),
        (f_punct & f_dup & f_short).alias("keep"),
    )


def char_entropy(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix: int = 256,
    lo: float = 2.0,
    hi: float = 6.0,
):
    """Character-level Shannon entropy gate — the classic gibberish /
    degenerate-text screen (low entropy = repeated-character spam like
    "aaaa…" or boilerplate padding; implausibly high entropy = random
    bytes / encoder junk; used as a cheap quality signal in web-corpus
    pipelines alongside the Gopher rules).

        H = -sum_c p_c * log2(p_c)   over the characters of the first
                                     `prefix` chars of the document

    Output: (_id, n_chars, entropy double rounded 6, entropy_pass bool
    = lo <= H <= hi).  Empty/whitespace-only prefixes score H = 0 and
    fail the gate (n_chars counts every prefix char, including spaces —
    entropy is over the raw prefix, case-sensitive).

    100 TB shape: the prefix bound caps the explode at `prefix` rows
    per document regardless of document size, then ONE hash aggregation
    keyed by (doc, char) with map-side combine and ONE re-aggregation
    keyed by doc.  All JVM expression algebra — no UDF, no window."""
    chars = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.substring(F.col(text_col), 1, prefix), "")).alias("ch"),
        )
        # both engines: guard against empty-string artifacts of char-split
        .filter(F.col("ch") != "")
    )
    per_char = chars.groupBy("_id", "ch").agg(F.count("*").alias("_c"))
    per_doc = per_char.groupBy("_id").agg(
        F.sum("_c").alias("n_chars"),
        (-F.sum(F.col("_c") * F.log2(F.col("_c")))).alias("_num"),
    )
    # -sum(c*log2(c))/n + log2(n)  ==  -sum(p*log2(p))
    ent = F.round(
        F.when(
            F.col("n_chars") > 0,
            F.col("_num") / F.col("n_chars") + F.log2(F.col("n_chars")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    base = df.select(F.col(id_col).alias("_id")).distinct()
    return (
        base.join(per_doc, "_id", "left")
        .select(
            "_id",
            F.coalesce("n_chars", F.lit(0)).cast("int").alias("n_chars"),
            F.coalesce(ent, F.lit(0.0)).alias("entropy"),
        )
        .withColumn(
            "entropy_pass",
            (F.col("entropy") >= F.lit(lo)) & (F.col("entropy") <= F.lit(hi)),
        )
    )


def frequent_ngrams(
    df,
    n: int = 3,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Corpus-frequent word n-grams — the boilerplate DISCOVERY pass
    that pairs with corpus_line_dedup's removal (pipeline practice:
    mine the most document-frequent n-grams, eyeball/threshold them,
    then feed the confirmed boilerplate into the removal rules; CCNet/
    Dolma-style corpus statistics).

    Tokenization matches the dedup shingles (lowercased, whitespace
    split); documents shorter than n tokens contribute their whole
    token sequence as one gram (the same short-doc rule).  Output: the
    top_k rows (gram, doc_freq = documents containing it, total_freq =
    occurrences corpus-wide), ordered by doc_freq desc, total_freq
    desc, gram asc — fully deterministic under ties.

    100 TB shape: one staged HOF projection builds each doc's gram
    array (referenced twice — the CollapseProject/interpreted-HOF
    re-eval defeat), the explode feeds ONE map-side-combining hash
    aggregation keyed by gram, and the top-k is orderBy().limit()
    (TakeOrderedAndProject — parallel partial top-k, no global sort
    materialization)."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("toks"),
    )
    grams = toks.select(
        "_id",
        F.explode(word_ngrams(F.col("toks"), n)).alias("gram"),
    )
    # two-level aggregation instead of count_distinct + count in one agg:
    # the mixed distinct/non-distinct form plans an Expand (×2 rows of
    # the gram stream) plus distinct machinery; per-(gram, doc) partial
    # counts first are map-side combinable and produce identical ints
    per_doc = grams.groupBy("gram", "_id").agg(F.count(F.lit(1)).alias("_c"))
    counted = per_doc.groupBy("gram").agg(
        F.count(F.lit(1)).cast("int").alias("doc_freq"),
        F.sum("_c").cast("int").alias("total_freq"),
    )
    return counted.orderBy(
        F.col("doc_freq").desc(), F.col("total_freq").desc(), F.col("gram").asc()
    ).limit(top_k)
