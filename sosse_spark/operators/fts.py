"""Q1: full-text match + rank — the websearch approximation.

The reference ranks with PostgreSQL tsvector + SearchRank
(se/search.py:104-119, websearch_to_tsquery semantics; tests
se/test_search.py:110-155).  There is no GIN/tsvector in Spark; the
SURVEY-sketched approximable form is token-overlap scoring with pure
column algebra (array ops, codegen'd — no UDF):

  * tokens   = non-empty [a-z0-9]+ runs of lower(text), each folded by
    a 3-rule suffix stemmer (sses→ss, ies→i, trailing s drops) — the
    cheap deterministic slice of the snowball stemmer the PG config
    applies; query terms fold identically so 'query'/'queries' and
    'term'/'terms' co-match
  * websearch grammar (websearch_to_tsquery):
      - unquoted words AND within a group
      - "quoted phrases" must appear as substrings of lower(text)
      - the word `or` splits groups: the document matches if ANY
        group matches
      - `-term` / -"phrase" negate within their group
  * rank     = (occurrences of any positive query term, folded) /
    (total tokens) — a TF-style score, deterministic and
    oracle-expressible
  * rows with rank <= rank_floor are dropped (reference drops
    rank <= 0.01 unless the result would be empty)

Scale shape: one projection + filter over the corpus — no shuffle, no
join; tokenize + fold is a split + per-element regexp chain inside one
projection (staged so CollapseProject cannot inline the split into the
fold lambda — the interpreted-HOF re-eval trap, CLAUDE.md).  An
inverted-index variant (explode → token table) is the right layout
when the same corpus serves many queries; this operator is the
scan-per-query form.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sosse_spark.functions.text import alnum_tokens

__all__ = [
    "fts_bm25_rank",
    "WebsearchGroup",
    "parse_websearch",
    "fold_suffix",
    "fts_tokens",
    "fts_fold",
    "fts_match_rank",
    "fts_rank_order",
    "fts_rank_order_pg",
    "fts_words_view",
    "phrase_lexeme_cond",
    "phrase_words",
    "pg_rank_or_col",
    "pg_rank_and_col",
    "fts_build_index",
    "fts_query_index",
]


@dataclass
class WebsearchGroup:
    """One AND-conjunction between `or` operators."""

    terms: list[str] = field(default_factory=list)
    phrases: list[str] = field(default_factory=list)
    neg_terms: list[str] = field(default_factory=list)
    neg_phrases: list[str] = field(default_factory=list)


def fold_suffix(term: str) -> str:
    """Python replica of the column-side suffix fold (query terms must
    fold exactly as document tokens do)."""
    if term.endswith("sses"):
        return term[:-2]
    if term.endswith("ies"):
        return term[:-2]
    if len(term) >= 2 and term.endswith("s") and not term.endswith("ss"):
        return term[:-1]
    return term


def _positive_terms(groups: list[WebsearchGroup]) -> list[str]:
    """Sorted distinct folded positive terms across all groups — the
    single source of truth for fts_match_rank / fts_query_index /
    fts_bm25_rank term extraction."""
    return sorted({fold_suffix(t) for g in groups for t in g.terms})


def _query_items(groups: list[WebsearchGroup]) -> list[str]:
    """ALL QI_VAL lexemes of the equivalent tsquery, sorted and deduped
    — PG's SortAndUniqItems(q) view that BOTH ts_rank arms rank over
    (tsrank.c): phrase operands contribute their individual lexemes
    (websearch '"a b"' → 'a <-> b' = two items), and NEGATED lexemes
    are items too (they rank when present — a doc can match 'x -"a b"'
    while containing 'a' and 'b' non-adjacently, and PG then counts
    their positions).  Bare negated terms can never be present in a
    matching doc, so keeping them only adds empty position arrays."""
    items: set[str] = set()
    for g in groups:
        for t in g.terms:
            items.add(fold_suffix(t))
        for t in g.neg_terms:
            items.add(fold_suffix(t))
        for p in g.phrases + g.neg_phrases:
            for w in re.split(r"[^a-z0-9]+", p.lower()):
                if w:
                    items.add(fold_suffix(w))
    return sorted(items)


def parse_websearch(query: str) -> list[WebsearchGroup]:
    """websearch_to_tsquery grammar → OR-list of AND-groups.

    Tokens: optionally '-'-prefixed quoted phrases or bare words; a
    bare (unquoted, unnegated) `or` splits groups.  Bare words split
    further on non-alnum runs; phrases keep their inner spacing.
    """
    groups = [WebsearchGroup()]
    for tok in re.findall(r'-?"[^"]*"|\S+', query):
        neg = tok.startswith("-")
        body = tok[1:] if neg else tok
        if not neg and body.lower() == "or":
            if (
                groups[-1].terms
                or groups[-1].phrases
                or groups[-1].neg_terms
                or groups[-1].neg_phrases
            ):
                groups.append(WebsearchGroup())
            continue  # leading/duplicate `or` is a no-op, as in PG
        g = groups[-1]
        if body.startswith('"'):
            p = body.strip('"').strip().lower()
            if p:
                (g.neg_phrases if neg else g.phrases).append(p)
        else:
            words = [w for w in re.split(r"[^a-zA-Z0-9]+", body.lower()) if w]
            (g.neg_terms if neg else g.terms).extend(words)
    return [
        g
        for g in groups
        if g.terms or g.phrases or g.neg_terms or g.neg_phrases
    ]


# the tsvector-lexeme analog, before folding: the shared alnum rule
fts_tokens = alnum_tokens


def fts_fold(tokens: Column) -> Column:
    """Suffix-fold every token: sses$→ss, ies$→i, then a trailing s not
    preceded by s drops (chained regexps — exclusive by construction:
    sses→ss ends in double-s so rule 3 skips it).

    Implementation: the rules run over the space-joined token string
    with token-end lookaheads — ONE compiled-regex pass per rule per
    document instead of an interpreted transform() lambda with three
    regexp_replace evaluations per TOKEN (measured: the per-token HOF
    dominated every q1 scan).  Equivalence: tokens are [a-z0-9]+ so no
    pattern can span the space separator; rule 3's [^s] is narrowed to
    the alnum class minus s ([0-9a-rt-z]) so the separator itself can
    never act as the preceding character (a bare "s" token stays "s",
    as it did per-token); folding never empties a token, so the final
    split round-trips exactly."""
    joined = F.concat_ws(" ", tokens)
    folded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(joined, "sses(?= |$)", "ss"), "ies(?= |$)", "i"
        ),
        "([0-9a-rt-z])s(?= |$)",
        "$1",
    )
    # null/empty arrays pass through unchanged (concat_ws would fold a
    # NULL array to "" and re-split it to [''] otherwise)
    return F.when(tokens.isNull() | (F.size(tokens) == 0), tokens).otherwise(
        F.split(folded, " ")
    )


def phrase_words(phrase: str) -> list[str]:
    """Folded lexeme sequence of a quoted phrase — what PG's
    websearch_to_tsquery turns '"a b"' into ('a <-> b', consecutive
    positions; the config here removes no stopwords, so positions are
    contiguous)."""
    return [
        fold_suffix(w) for w in re.split(r"[^a-z0-9]+", phrase.lower()) if w
    ]


def phrase_lexeme_cond(ftoks: Column, phrase: str) -> Column:
    """EXACT PG phrase-match semantics over the folded token stream:
    '"a b"' matches iff lexeme a appears at some position i AND lexeme
    b at i+1 (tsquery's <-> operator with distance 1 — TS_phrase_execute
    over consecutive positions; the engine removes no stopwords so
    websearch phrase distances are always 1).  This is the lexeme-true
    alternative to the engine's declared substring phrase semantics:
    'tables, hash!' matches '"table hash"' here (folded adjacency) but
    not by substring; 'table hashing' matches by substring but not here.

    Pure per-row array algebra (one EXISTS over a position sequence,
    k cheap element_at comparisons per candidate) — no shuffle, no UDF;
    an empty phrase (no alnum word) matches everything, as PG's empty
    tsquery arm does."""
    ws = phrase_words(phrase)
    if not ws:
        return F.lit(True)
    if len(ws) == 1:
        return F.array_contains(ftoks, ws[0])
    k = len(ws)

    def _at(i: Column, j: int, w: str) -> Column:
        return F.element_at(ftoks, i + F.lit(j)) == F.lit(w)

    def _pred(i: Column) -> Column:
        c = _at(i, 0, ws[0])
        for j, w in enumerate(ws[1:], start=1):
            c = c & _at(i, j, w)
        return c

    return F.when(
        F.size(ftoks) >= k,
        F.exists(F.sequence(F.lit(1), F.size(ftoks) - k + 1), _pred),
    ).otherwise(F.lit(False))


def _stage_barrier(col: Column) -> Column:
    """Pushdown barrier for a staged expensive column: predicate
    pushdown substitutes projection aliases into FILTER conditions
    regardless of reuse count (CLAUDE.md), and whole-stage codegen's
    common-subexpression elimination cannot merge copies that land
    inside CASE WHEN branches — measured 4 inlined copies of the
    tokenize+fold tree (20 s vs 3 s for the q1 scan at 50k docs).  A
    filter whose references come from a NONDETERMINISTIC projection is
    not pushed below it, so the wrapped column is evaluated exactly
    once per row.  Value-transparent: element_at(shuffle([0]), 1) == 0
    is always true, and shuffle() is nondeterministic in a way the
    optimizer cannot simplify away (rand(seed) >= -1 gets folded)."""
    return F.when(F.element_at(F.shuffle(F.array(F.lit(0))), 1) == 0, col)


def fts_match_rank(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    rank_floor: float = 0.01,
) -> DataFrame:
    """Append `rank` and keep matching rows (Q1).  Output: input columns
    + rank (double, rounded 6), rank > rank_floor; full websearch
    grammar: AND within groups, `or` between groups, `-` negation,
    suffix-folded term matching.
    """
    groups = parse_websearch(query)
    # staged projection: toks/ftoks land as real columns referenced
    # multiple times below, so CollapseProject cannot inline the split
    # into the (interpreted) fold/filter lambdas
    staged = docs.withColumn("_toks", fts_tokens(F.col(text_col))).withColumn(
        "_ftoks", _stage_barrier(fts_fold(F.col("_toks")))
    )
    low = F.lower(F.col(text_col))

    def group_cond(g: WebsearchGroup) -> Column:
        cond = F.lit(True)
        for t in g.terms:
            cond = cond & F.array_contains("_ftoks", fold_suffix(t))
        for p in g.phrases:
            cond = cond & low.contains(p)
        for t in g.neg_terms:
            cond = cond & ~F.array_contains("_ftoks", fold_suffix(t))
        for p in g.neg_phrases:
            cond = cond & ~low.contains(p)
        return cond

    if groups:
        cond = group_cond(groups[0])
        for g in groups[1:]:
            cond = cond | group_cond(g)
    else:
        cond = F.lit(False)

    pos_terms = _positive_terms(groups)
    if pos_terms:
        # count of tokens equal to ANY positive term, as size(ftoks) −
        # size(ftoks with every term occurrence removed): codegen'd
        # array_remove chain instead of the interpreted filter() HOF
        rem: Column = F.col("_ftoks")
        for t in pos_terms:
            rem = F.array_remove(rem, t)
        matched = F.size("_ftoks") - F.size(rem)
    else:
        matched = F.size("_toks")  # phrase-only query: every token "matches"
    rank = F.round(matched / F.greatest(F.size("_toks"), F.lit(1)), 6)
    return (
        staged.filter(cond)
        .withColumn("rank", rank)
        .filter(F.col("rank") > rank_floor)
        .drop("_toks", "_ftoks")
    )


def fts_rank_order(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_results: int | None = 1000,
) -> DataFrame:
    """Q1 result ORDERING surface — ts_rank-lite (se/search.py:104-119
    + the rank sort of se/search_form.py:109-129).

    rank_lite = Σ_t tf_t / (1 + tf_t) over the query's positive folded
    terms: monotone and SUB-LINEAR in each term's frequency, with NO
    document-length normalization — matching SearchRank's default
    ts_rank normalization=0, under which PG's ordering is also a pure
    function of term frequencies.  Declared deltas vs exact PG ts_rank
    (documented, ordering-affecting only in corners): PG's per-position
    weight-label accumulation and proximity terms are not reproduced,
    and phrases gate matching but do not contribute rank.  Ties break
    by id (the reference appends title, then pk — se/search_form.py:
    109-129; the driver corpus carries no title).

    Output: (id, pos, rank_lite) — `pos` is the 1-based result
    position, so a value-hash oracle match certifies the ORDER itself.

    Scale bound (ENFORCED): `max_results` mirrors the reference's
    Paginator slice (se/search.py:330-332 — a user never consumes more
    than the paged top of the ranking).  The top slice is computed with
    orderBy().limit(max_results), which compiles to
    TakeOrderedAndProject — each partition keeps a local top-k and only
    k rows merge — so a broad query over a 10^8-doc corpus never
    funnels the full match set through a single-partition sort.  The
    row_number window that assigns `pos` then runs over at most
    max_results rows.  Pass max_results=None only for oracle twins
    that genuinely need the full ordered set.
    """
    groups = parse_websearch(query)
    staged = docs.withColumn("_toks", fts_tokens(F.col(text_col))).withColumn(
        "_ftoks", _stage_barrier(fts_fold(F.col("_toks")))
    )
    low = F.lower(F.col(text_col))

    def group_cond(g: WebsearchGroup) -> Column:
        cond = F.lit(True)
        for t in g.terms:
            cond = cond & F.array_contains("_ftoks", fold_suffix(t))
        for p in g.phrases:
            cond = cond & low.contains(p)
        for t in g.neg_terms:
            cond = cond & ~F.array_contains("_ftoks", fold_suffix(t))
        for p in g.neg_phrases:
            cond = cond & ~low.contains(p)
        return cond

    if groups:
        cond = group_cond(groups[0])
        for g in groups[1:]:
            cond = cond | group_cond(g)
    else:
        cond = F.lit(False)

    rank = F.lit(0.0)
    for t in _positive_terms(groups):
        # tf as a codegen'd size difference (see fts_match_rank)
        tf = (F.size("_ftoks") - F.size(F.array_remove("_ftoks", t))).cast("double")
        rank = rank + tf / (F.lit(1.0) + tf)

    ranked = staged.filter(cond).select(F.col(id_col), rank.alias("_r"))
    if max_results is not None:
        ranked = ranked.orderBy(F.col("_r").desc(), F.col(id_col).asc()).limit(
            max_results
        )
    w = Window.orderBy(F.col("_r").desc(), F.col(id_col).asc())
    return (
        ranked.withColumn("pos", F.row_number().over(w))
        .select(id_col, "pos", F.round("_r", 6).alias("rank_lite"))
    )


# PG's magic rank normalizer: zeta(2) = pi^2/6 (tsrank.c, the
# /1.64493406685 divisor in calc_rank_or/calc_rank_and)
_PG_RANK_DIVISOR = 1.64493406685
# default SearchRank weight for unlabeled positions: {D,C,B,A} =
# {0.1, 0.2, 0.4, 1.0}; to_tsvector without setweight labels D
_PG_WEIGHT_D = 0.1


def pg_rank_or_col(ftoks: Column, terms: list[str], weight: float = _PG_WEIGHT_D) -> Column:
    """EXACT PostgreSQL ts_rank, calc_rank_or arm (tsrank.c — the code
    path SearchRank takes for OR-rooted and single-term tsqueries,
    se/search.py:112-115), specialized to unweighted documents (every
    position carries the to_tsvector default label D = 0.1, which is
    what the reference's indexer produces — it never calls setweight):

        per present term: resj = Σ_{j=1..tf} w / j²   (position decay)
                          wjm  = w, jm = 0            (all weights equal)
                          contrib = (wjm + resj − wjm/1²) / (π²/6)
                                  = w · H2(tf) / 1.64493406685
        rank = Σ contribs / n_query_items             (the res/size mean)

    Monotone and saturating in tf like rank_lite, but with PG's exact
    1/j² position decay and ζ(2) normalization, so VALUES — not just
    order — match ts_rank(vector, query, 0) for this query class.
    Remaining declared delta: AND/phrase-ROOTED tsqueries take PG's
    calc_rank_and arm (pairwise position-distance products), which is
    not reproduced; see fts_rank_order_pg's docstring."""
    contribs = []
    for t in terms:
        tf = F.size(ftoks) - F.size(F.array_remove(ftoks, t))
        # H2(tf) = sum_{j=1..tf} 1/j^2; Spark sequence(1, 0) would be
        # DESCENDING [1, 0], so the tf=0 arm must short-circuit
        h2 = (
            F.when(
                tf > 0,
                F.aggregate(
                    F.sequence(F.lit(1), tf),
                    F.lit(0.0),
                    lambda acc, j: acc + F.lit(1.0) / (j * j).cast("double"),
                ),
            )
            .otherwise(F.lit(0.0))
        )
        contribs.append(F.lit(weight) * h2 / F.lit(_PG_RANK_DIVISOR))
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return total / F.lit(float(len(terms)))


def _pg_word_distance(d: Column) -> Column:
    """PG word_distance (tsrank.c): 1/(1.005 + 0.05·e^(d/1.5 − 2)),
    1e-30 beyond distance 100 — the proximity decay calc_rank_and
    multiplies into every position-pair weight."""
    return F.when(d > 100, F.lit(1e-30)).otherwise(
        F.lit(1.0)
        / (F.lit(1.005) + F.lit(0.05) * F.exp(d.cast("double") / F.lit(1.5) - F.lit(2.0)))
    )


def pg_rank_and_col(ftoks: Column, terms: list[str], weight: float = _PG_WEIGHT_D) -> Column:
    """EXACT PostgreSQL ts_rank, calc_rank_and arm (tsrank.c — the path
    SearchRank takes for AND/PHRASE-rooted tsqueries, e.g. websearch
    "spark vector" → 'spark & vector'), for unweighted documents:

        for items i > k, every position pair (l ∈ pos_i, p ∈ pos_k):
            if |l − p| == 0: skip              (PG's `if (dist ...)`)
            curw = sqrt(w · w · word_distance(|l − p|))
            res  = 1 − (1 − res)·(1 − curw)        (noisy-or fold)
        no pair fired → res stays −1 → calc_rank clamps to 1e-20

    `terms` must be PG's SortAndUniqItems view: ALL QI_VAL lexemes of
    the query — including phrase operands' words and negated lexemes —
    sorted and deduped (_query_items builds it).  Items absent from the
    document (e.g. a bare negated term) have empty position arrays and
    contribute no pairs, exactly as find_wordentry returning NULL does.
    Positions are 1-based token indexes in the folded token stream
    (PG counts pre-stopword-removal positions; this engine removes no
    stopwords, so the streams align under the engine's declared
    simplified-stemming config).  Arithmetic runs in double where PG
    uses float4 — values can differ in the 7th significant digit,
    which the 6-decimal output rounding absorbs except at exact
    rounding boundaries; ordering is identical.

    HOF caveat (CLAUDE.md): the position arrays are built per term and
    referenced inside nested transform lambdas — the expression is
    interpreted, O(|pos_i|·|pos_k|) per pair, fine for document-sized
    token streams; do not lift this onto a 10^6-token column."""
    pos = {
        t: F.filter(
            F.sequence(F.lit(1), F.size(ftoks)),
            lambda j: F.element_at(ftoks, j) == F.lit(t),
        )
        for t in terms
    }

    def curw(d: Column) -> Column:
        return F.sqrt(F.lit(weight * weight) * _pg_word_distance(d))

    # PG iterates items in query order, pairs (i, k < i), l over pos_i
    # OUTER, p over pos_k INNER — keep that order so the float fold
    # matches the oracle's identically-ordered fold
    pair_arrays = []
    for i in range(1, len(terms)):
        for k in range(i):
            pair_arrays.append(
                F.flatten(
                    F.transform(
                        pos[terms[i]],
                        lambda l: F.transform(pos[terms[k]], lambda p: F.abs(l - p)),
                    )
                )
            )
    dists = pair_arrays[0] if len(pair_arrays) == 1 else F.concat(*pair_arrays)
    # PG skips dist==0 pairs for positioned entries (`if (dist || ...)`,
    # the POSNULL arm never fires here — every present lexeme carries
    # real positions); distinct lexemes can't share a token index, so
    # this only matters if a caller bypasses the SortAndUniqItems dedup
    dists = F.filter(dists, lambda d: d != 0)
    keep = F.aggregate(
        dists, F.lit(1.0), lambda acc, d: acc * (F.lit(1.0) - curw(d))
    )
    # no pair ever fired -> PG's res stays -1 and calc_rank clamps to
    # 1e-20 (reachable: 'spark -vector' matches leave 'vector' with no
    # positions, so the single item pair list is empty)
    return F.when(F.size(dists) > 0, F.lit(1.0) - keep).otherwise(F.lit(1e-20))


def fts_rank_order_pg(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_results: int | None = 1000,
    rank_floor: float | None = None,
    phrase_mode: str = "substring",
) -> DataFrame:
    """Q1 ordering with the EXACT PG ts_rank value (pg_rank_or_col) —
    the round-5 strengthening of fts_rank_order's ts_rank-lite
    (VERDICT r4 next-round #7): for OR-rooted and single-term queries
    the emitted ``rank_pg`` equals PostgreSQL's
    ``ts_rank('{0.1,0.2,0.4,1.0}', vector, query, 0)`` on unweighted
    documents, and ``pos`` embeds the resulting order.

    AND/PHRASE-ROOTED queries (a single group whose SortAndUniqItems
    view — _query_items: bare terms + phrase words + negated lexemes,
    sorted/deduped — has ≥2 entries) dispatch to pg_rank_and_col, PG's
    calc_rank_and proximity arm (noisy-or over word_distance-weighted
    position pairs), so proximity ordering matches PG too; phrase
    operands rank through their individual lexemes and negated items
    rank when present (tsrank.c ranks the items of the query tree, not
    its boolean structure), both exactly as PG does.  OR-rooted /
    single-item queries take calc_rank_or over the same item view.

    phrase_mode selects the phrase FILTER semantics:
      * "substring" (default — the engine-wide declared semantics):
        quoted phrases must appear as substrings of lower(text)
      * "lexeme" — EXACT PG semantics: phrase lexemes must occur at
        consecutive positions of the folded token stream
        (phrase_lexeme_cond; tsquery <-> with distance 1)
    With "lexeme" the only remaining declared delta is PG's float4 vs
    this engine's double.  Same top-k scale bound as fts_rank_order
    (TakeOrderedAndProject before the pos window)."""
    if phrase_mode not in ("substring", "lexeme"):
        raise ValueError(f"phrase_mode must be substring|lexeme, got {phrase_mode!r}")
    groups = parse_websearch(query)
    staged = docs.withColumn("_toks", fts_tokens(F.col(text_col))).withColumn(
        "_ftoks", _stage_barrier(fts_fold(F.col("_toks")))
    )
    low = F.lower(F.col(text_col))

    def phrase_cond(p: str) -> Column:
        if phrase_mode == "lexeme":
            return phrase_lexeme_cond(F.col("_ftoks"), p)
        return low.contains(p)

    def group_cond(g: WebsearchGroup) -> Column:
        cond = F.lit(True)
        for t in g.terms:
            cond = cond & F.array_contains("_ftoks", fold_suffix(t))
        for p in g.phrases:
            cond = cond & phrase_cond(p)
        for t in g.neg_terms:
            cond = cond & ~F.array_contains("_ftoks", fold_suffix(t))
        for p in g.neg_phrases:
            cond = cond & ~phrase_cond(p)
        return cond

    if groups:
        cond = group_cond(groups[0])
        for g in groups[1:]:
            cond = cond | group_cond(g)
    else:
        cond = F.lit(False)

    # SortAndUniqItems view of the whole query: sorted distinct QI_VAL
    # lexemes incl. phrase words and negated items (_query_items); a
    # single group is an AND/PHRASE-rooted tsquery -> calc_rank_and
    # when it has >= 2 unique items (PG: `if (size < 2) return
    # calc_rank_or`), everything else -> calc_rank_or over the items
    items = _query_items(groups)
    if len(groups) == 1 and len(items) >= 2:
        rank = pg_rank_and_col(F.col("_ftoks"), items)
    else:
        rank = pg_rank_or_col(F.col("_ftoks"), items) if items else F.lit(0.0)
    ranked = staged.filter(cond).select(F.col(id_col), rank.alias("_r"))
    if rank_floor is not None:
        # se/search.py:115-118: exclude(rank__lte=floor), falling back
        # to ALL matches when that empties the set.  Equivalent set
        # algebra without a second pass: keep a row iff its rank clears
        # the floor OR no row does (corpus max <= floor).  The max is a
        # 1-row aggregate broadcast into the filter — no extra shuffle
        # of the result set, no driver round-trip.
        mx = ranked.agg(F.max("_r").alias("_mx"))
        ranked = (
            ranked.crossJoin(F.broadcast(mx))
            .filter((F.col("_r") > rank_floor) | (F.col("_mx") <= rank_floor))
            .drop("_mx")
        )
    if max_results is not None:
        ranked = ranked.orderBy(F.col("_r").desc(), F.col(id_col).asc()).limit(
            max_results
        )
    w = Window.orderBy(F.col("_r").desc(), F.col(id_col).asc())
    return (
        ranked.withColumn("pos", F.row_number().over(w))
        .select(id_col, "pos", F.round("_r", 6).alias("rank_pg"))
    )


def fts_words_view(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document tsvector word listing — the /words archive view
    (se/words.py:26-33 splits Document.vector into (word, positions)
    pairs; the folded token stream is this engine's vector analog), so
    the listing is one row per (doc, word) with the 1-based positions
    comma-joined exactly as PG prints them in the tsvector text form.

    Pure-JVM shape: posexplode → one (id, word)-keyed aggregation with
    map-side combine; no window, no driver work — at 10^10 tokens this
    is a single hash shuffle whose keys are as fine-grained as the
    data allows."""
    t = docs.select(
        F.col(id_col),
        F.posexplode(fts_fold(fts_tokens(F.col(text_col)))).alias("_p", "word"),
    )
    return (
        t.groupBy(id_col, "word")
        .agg(F.sort_array(F.collect_list(F.col("_p") + 1)).alias("_pos"))
        .select(
            id_col,
            "word",
            F.concat_ws(
                ",", F.transform(F.col("_pos"), lambda x: x.cast("string"))
            ).alias("positions"),
        )
    )


def fts_build_index(
    docs: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """The inverted-index layout (the GIN-analog): one build pays the
    tokenize+fold cost ONCE, then every query is a few thin equi-joins
    instead of a corpus scan — the right shape when the same corpus
    serves many queries.

    Output: (token, _id, tf, doc_len) — folded token postings with
    per-doc term frequency and the document's total token count (kept
    denormalized on the posting so ranking needs no extra join).  The
    explode→groupBy shape map-side combines; at corpus scale, persist
    the index bucketed/sorted by token so query joins prune.
    """
    staged = docs.select(
        F.col(id_col).alias("_id"), fts_tokens(F.col(text_col)).alias("_toks")
    ).withColumn("_ftoks", fts_fold(F.col("_toks")))
    exploded = staged.select(
        "_id", F.size("_toks").alias("doc_len"), F.explode("_ftoks").alias("token")
    )
    return exploded.groupBy("token", "_id", "doc_len").agg(F.count("*").alias("tf"))


def fts_query_index(
    index: DataFrame,
    query: str,
    rank_floor: float = 0.01,
) -> DataFrame:
    """Run a websearch query against an fts_build_index table.  Output:
    (_id, rank) with scan-variant rank semantics — (matched positive
    token occurrences) / doc_len — so index and scan paths agree.

    Shapes: each group's positive terms filter the postings with an
    isin on a literal list (partition-prunable on a token-bucketed
    index); AND is a count-distinct == n_terms aggregate; negation is
    a thin anti-join on the negated tokens' postings.  Phrases need
    original text and are not supported in the index layout (the scan
    operator handles them) — ValueError rather than silent wrong
    answers.
    """
    groups = parse_websearch(query)
    if any(g.phrases or g.neg_phrases for g in groups):
        raise ValueError("phrase queries need fts_match_rank (index has no positions)")
    if not groups:
        return index.select(F.col("_id"), F.lit(0.0).alias("rank")).limit(0)

    matched_ids = None
    for g in groups:
        terms = sorted({fold_suffix(t) for t in g.terms})
        neg = sorted({fold_suffix(t) for t in g.neg_terms})
        if terms:
            hit = (
                index.filter(F.col("token").isin(terms))
                .groupBy("_id")
                .agg(F.count_distinct("token").alias("_nt"))
                .filter(F.col("_nt") == len(terms))
                .select("_id")
            )
        else:
            # negation-only group: every indexed doc is a candidate
            hit = index.select("_id").distinct()
        if neg:
            neg_posts = index.filter(F.col("token").isin(neg)).select("_id").distinct()
            hit = hit.join(neg_posts, "_id", "left_anti")
        matched_ids = hit if matched_ids is None else matched_ids.unionByName(hit)
    matched_ids = matched_ids.distinct()

    pos_terms = _positive_terms(groups)
    if pos_terms:
        scores = (
            index.filter(F.col("token").isin(pos_terms))
            .groupBy("_id", "doc_len")
            .agg(F.sum("tf").alias("_m"))
            .select(
                "_id",
                F.round(F.col("_m") / F.greatest(F.col("doc_len"), F.lit(1)), 6).alias("rank"),
            )
        )
        out = matched_ids.join(scores, "_id")
    else:
        doc_lens = index.select("_id").distinct()
        out = matched_ids.join(doc_lens, "_id").withColumn("rank", F.lit(1.0))
    return out.filter(F.col("rank") > rank_floor)


def fts_bm25_rank(
    index: DataFrame,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 over an fts_build_index postings table (Robertson &
    Walker 1994) — the ranking upgrade over the TF rank that PG's
    ts_rank approximates.  OR semantics across the query's positive
    folded terms: every doc holding >= 1 term scores

        sum_t  idf_t * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
        idf_t = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))

    Output: (_id, bm25 double rounded 6), descending relevance.

    Corpus stats (N, avgdl) cover the INDEXED corpus — docs with >= 1
    token (the operator's whole visible world); the stats/df frames are
    1-row / terms-row aggregates broadcast into the plan, so the whole
    operator stays lazy (no driver collect).  Negated terms anti-join
    their postings out of the result; phrases need positions the index
    lacks — ValueError, matching fts_query_index's policy.  The per-doc
    sum folds contributions in sorted-token order via a staged array so
    double addition order — and therefore the rounded score — is
    deterministic and engine-reproducible."""
    groups = parse_websearch(query)
    if any(g.phrases or g.neg_phrases for g in groups):
        raise ValueError("phrase queries need fts_match_rank (index has no positions)")
    terms = _positive_terms(groups)
    if not terms:
        return index.select("_id", F.lit(0.0).alias("bm25")).limit(0)
    stats = (
        index.select("_id", "doc_len")
        .distinct()
        .agg(
            F.count("*").cast("double").alias("_n"),
            (F.sum("doc_len") / F.count("*")).alias("_avgdl"),
        )
    )
    hits = index.filter(F.col("token").isin(terms))
    df_t = hits.groupBy("token").agg(F.count_distinct("_id").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = (
        idf
        * F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.col("_avgdl"))
        )
    )
    scored = (
        hits.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(stats))
        .select("_id", F.struct(F.col("token"), contrib.alias("c")).alias("_tc"))
    )
    out = scored.groupBy("_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("_tc")),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ),
            6,
        ).alias("bm25")
    )
    neg = sorted({fold_suffix(t) for g in groups for t in g.neg_terms})
    if neg:
        neg_posts = index.filter(F.col("token").isin(neg)).select("_id").distinct()
        out = out.join(neg_posts, "_id", "left_anti")
    return out
