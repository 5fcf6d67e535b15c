"""Search/query operator surface (SURVEY §2.3, se/search.py + se/rest_api.py).

PostgreSQL-FTS rank/headline (Q1/Q9) are out of crawl scope (SURVEY
§7.4); everything else is a thin declarative DataFrame composition —
Catalyst handles pushdown/pruning:

  Q2  filter predicates  contain/icontains, regex/iregex, exact/iexact,
      include/exclude              (se/search.py:148-161,194-199)
  Q3  multi-field OR     doc ≡ content|title|url (se/search.py:167-171)
  Q4  link-graph semi-joins lto_*/lby_*          (se/search.py:172-182)
  Q5  tag-tree filter     subtree by path prefix (se/search.py:183-189)
  Q6  lang/collection/hidden/status filters      (se/search.py:121-129)
  Q7  sort + distinct                            (se/search.py:217-224)
  Q8  pagination                                 (se/search.py:330-332)
  Q10 group-by aggregations: lang counts, mime counts w/ NULL coalesce,
      tag-tree rollup    (se/rest_api.py:131-195, se/tag.py:52-82)
  Q11 CSV export ordering                        (se/csv.py:45-130)
  Q9  headline/snippet — fixed-window approximation of ts_headline
      with <b> match markers                     (se/search.py:239-290)
  Q12 Atom feed entry rendering                  (se/atom.py:36-147)
  Q14 !bang shortcut redirect                    (se/models.py:344-374)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sosse_spark.functions.text import tokens

__all__ = [
    "filter_predicate",
    "multi_field_or",
    "linked_to",
    "linked_by",
    "tag_subtree_filter",
    "sort_distinct",
    "paginate",
    "lang_stats",
    "mime_stats",
    "tag_rollup",
    "csv_export_order",
    "snippet_headline",
    "atom_feed_entries",
    "bang_redirect",
    "search_redirect",
]


def filter_predicate(col: Column, op: str, value: str) -> Column:
    """Q2: one filter operator.  op ∈ contain|icontain|regex|iregex|
    exact|iexact; negate with a leading '!' (exclude)."""
    neg = op.startswith("!")
    if neg:
        op = op[1:]
    if op == "contain":
        c = col.contains(value)
    elif op == "icontain":
        c = F.lower(col).contains(value.lower())
    elif op == "regex":
        c = col.rlike(value)
    elif op == "iregex":
        c = F.lower(col).rlike(value.lower())
    elif op == "exact":
        c = col == value
    elif op == "iexact":
        c = F.lower(col) == value.lower()
    else:
        raise ValueError(f"unknown filter op {op}")
    return ~c if neg else c


def multi_field_or(fields: list[Column], op: str, value: str) -> Column:
    """Q3: `doc` pseudo-field = OR over content/title/url."""
    out = filter_predicate(fields[0], op, value)
    for f in fields[1:]:
        out = out | filter_predicate(f, op, value)
    return out


def linked_to(docs: DataFrame, links: DataFrame, pred: Column) -> DataFrame:
    """Q4 lto_*: documents with an out-link matching `pred` (left-semi —
    no fan-out, no dedup needed)."""
    matching = links.filter(pred).select(F.col("src_url").alias("url"))
    return docs.join(matching, "url", "left_semi")


def linked_by(docs: DataFrame, links: DataFrame, pred: Column) -> DataFrame:
    """Q4 lby_*: documents linked FROM a page matching `pred`."""
    matching = links.filter(pred).select(F.col("dst_url").alias("url"))
    return docs.join(matching, "url", "left_semi")


def tag_subtree_filter(docs: DataFrame, doc_tags: DataFrame, tags: DataFrame, tag_path: str) -> DataFrame:
    """Q5: tag match expands to the whole subtree — materialized-path
    semantics: the tag itself plus every tag under it at a '/' segment
    boundary (se/tag.py treebeard MP_Node; segment-aware so 'a' never
    claims 'ab')."""
    subtree = tags.filter(
        (F.col("path") == tag_path) | F.col("path").startswith(tag_path + "/")
    ).select("tag_id")
    tagged = doc_tags.join(F.broadcast(subtree), "tag_id", "left_semi").select("url").distinct()
    return docs.join(tagged, "url", "left_semi")


def sort_distinct(df: DataFrame, order: list[Column]) -> DataFrame:
    """Q7: order_by(*order).distinct()."""
    return df.dropDuplicates().orderBy(*order)


def paginate(df: DataFrame, order: list[Column], page: int, page_size: int) -> DataFrame:
    """Q8: stable pagination via offset/limit (Spark's offset is exact
    under a total order)."""
    return df.orderBy(*order).offset((page - 1) * page_size).limit(page_size)


def lang_stats(docs: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Q10: language counts desc (se/rest_api.py:131-148)."""
    return (
        docs.groupBy(F.col(lang_col).alias("lang"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("lang").asc())
    )


def mime_stats(docs: DataFrame, mime_col: str = "fmt") -> DataFrame:
    """Q10: mimetype counts with NULL coalesced to a sentinel
    (se/rest_api.py:165-195)."""
    return (
        docs.groupBy(F.coalesce(F.col(mime_col), F.lit("<none>")).alias("mimetype"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("mimetype").asc())
    )


def _ancestor_paths(path: Column) -> Column:
    """'a/b/c' → ['a', 'a/b', 'a/b/c'] — every ancestor prefix at '/'
    segment boundaries (the '/'-separated spelling of treebeard's
    fixed-width MP_Node levels; segment-aware, so 'a' never claims
    'ab')."""
    segs = F.split(path, "/")
    return F.transform(
        F.sequence(F.lit(1), F.size(segs)),
        lambda i: F.array_join(F.slice(segs, 1, i), "/"),
    )


def tag_rollup(tags: DataFrame, doc_tags: DataFrame) -> DataFrame:
    """Q10 tag-tree rollup (se/tag.py:52-82): per-tag direct doc counts,
    then bottom-up accumulation into ancestors.

    Scale shape: each tag explodes into its ancestor-prefix list and the
    rollup is one EQUI-join groupBy on the ancestor path — linear in
    Σ tree depth, never the CartesianProduct a raw startswith prefix
    join plans."""
    direct = doc_tags.groupBy("tag_id").agg(F.count("*").alias("direct_count"))
    t = tags.join(direct, "tag_id", "left").fillna({"direct_count": 0})
    rolled = (
        t.select(
            F.explode(_ancestor_paths(F.col("path"))).alias("anc_path"),
            F.col("direct_count").alias("dc"),
        )
        .groupBy("anc_path")
        .agg(F.sum("dc").alias("rolled_count"))
    )
    return (
        t.join(rolled, t["path"] == rolled["anc_path"], "left")
        .select("tag_id", "path", "direct_count", F.coalesce("rolled_count", F.lit(0)).alias("rolled_count"))
        .orderBy("path")
    )


def snippet_headline(
    docs: DataFrame, term: str, text_col: str = "text", window: int = 40
) -> DataFrame:
    """Q9: headline/snippet approximation of PG ts_headline
    (se/search.py:239-290): for rows containing `term`
    (case-insensitive), cut a fixed window around the FIRST match and
    wrap every in-window occurrence in <b>…</b> markers.

    The reference remaps sentinel markers from normalized back to
    original text; here the snippet is cut from the original text
    directly.  The term is regex-escaped before the highlight pattern
    is built, so user terms with metacharacters ('c++', '1.5)') match
    literally — agreeing with the literal locate() that finds the
    window.  Pure column algebra — locate/substring/regexp_replace,
    all codegen'd.
    """
    import re as _re

    pos = F.locate(term.lower(), F.lower(F.col(text_col)))
    start = F.greatest(pos - window, F.lit(1))
    snip = F.substring(F.col(text_col), start, window * 2 + len(term))
    return (
        docs.withColumn("_pos", pos)
        .filter(F.col("_pos") > 0)
        .withColumn(
            "snippet", F.regexp_replace(snip, f"(?i)({_re.escape(term)})", "<b>$1</b>")
        )
        .drop("_pos")
    )


def atom_feed_entries(
    docs: DataFrame,
    title_col: str = "title",
    url_col: str = "url",
    updated_col: str = "updated",
    limit: int = 50,
) -> DataFrame:
    """Q12: Atom feed export (se/atom.py:36-147) — the same ranked query
    rendered as one <entry> XML string per row, newest first.  XML
    escaping covers & < > (ampersand first) on the title AND the url —
    crawled URLs routinely carry '&' in query strings, which would
    otherwise emit invalid XML — plus '"' on the url for the href
    attribute; timestamps in RFC-3339 Z form as the reference's
    template emits."""
    esc = F.col(title_col)
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(a), F.lit(b))
    url_esc = F.col(url_col)
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;")):
        url_esc = F.replace(url_esc, F.lit(a), F.lit(b))
    entry = F.concat(
        F.lit("<entry><title>"),
        esc,
        F.lit('</title><link href="'),
        url_esc,
        F.lit('"/><id>'),
        url_esc,
        F.lit("</id><updated>"),
        F.date_format(F.col(updated_col), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("</updated></entry>"),
    )
    return (
        docs.select(F.col(url_col).alias("url"), F.col(updated_col).alias("_u"), entry.alias("entry"))
        .orderBy(F.col("_u").desc(), F.col("url").asc())
        .limit(limit)
        .select("url", "entry")
    )


def bang_redirect(queries: DataFrame, engines: DataFrame, query_col: str = "q") -> DataFrame:
    """Q14: !bang shortcut redirect (se/models.py:344-374,
    SearchEngine.should_redirect): queries starting with `!<shortcut> `
    resolve against the engine table's OpenSearch-style template, with
    the remaining terms substituted into `%s` (space → '+', the
    quote_plus subset the test corpus uses).  Non-bang queries and
    unknown shortcuts drop out (the reference returns None → no
    redirect).  `engines` is tiny — broadcast."""
    q = F.col(query_col)
    parsed = queries.withColumn(
        "shortcut", F.regexp_extract(q, r"^!(\w+)\s+(.+)$", 1)
    ).withColumn("terms", F.regexp_extract(q, r"^!(\w+)\s+(.+)$", 2))
    hit = parsed.filter(F.col("shortcut") != "").join(F.broadcast(engines), "shortcut")
    return hit.select(
        query_col,
        F.replace(
            F.col("url_template"), F.lit("%s"), F.replace(F.col("terms"), F.lit(" "), F.lit("+"))
        ).alias("redirect_url"),
    )


def _template_search_url(template: Column, terms: Column) -> Column:
    """SearchEngine.get_search_url (se/models.py:287-343) as column
    algebra, for single-placeholder templates (every real OpenSearch
    template carries exactly one `{searchTerms}` or
    `{searchTermsBase64}`; the reference's four arms are mutually
    exclusive then).

    Arm selection mirrors the reference's check order — path, fragment,
    query parameters — with the reference's per-arm encoding:

      path     {searchTerms}        quote_plus(query)
      path     {searchTermsBase64}  quote_plus(b64(query))
      fragment {searchTerms}        quote_plus(query)
      fragment {searchTermsBase64}  b64(query)           (RAW — the one
                                    arm the reference does not quote,
                                    se/models.py:312-317)
      query    either               parse_qs + urlencode ≡ quote_plus
                                    of the substituted value when the
                                    placeholder is the whole value

    quote_plus is exact for any string: url_encode (Java URLEncoder,
    UTF-8, uppercase hex, space → '+') differs from Python's quote_plus
    only on '*' (left raw) and '~' (escaped), both undone here — the
    default arm passes the RAW query, tabs and newlines included."""

    def quote_plus(c):
        return F.replace(
            F.replace(F.url_encode(c), F.lit("*"), F.lit("%2A")), F.lit("%7E"), F.lit("~")
        )

    qp = quote_plus(terms)
    b64 = F.base64(F.encode(terms, "UTF-8"))
    b64_qp = quote_plus(b64)
    plain = F.lit("{searchTerms}")
    b64ph = F.lit("{searchTermsBase64}")
    ppos = F.locate("{searchTerms}", template)
    bpos = F.locate("{searchTermsBase64}", template)
    qpos = F.locate("?", template)
    hpos = F.locate("#", template)
    path_end = F.least(
        F.nullif(qpos, F.lit(0)), F.nullif(hpos, F.lit(0))
    )
    path_end = F.coalesce(path_end, F.length(template) + 1)
    return (
        F.when((ppos > 0) & (ppos < path_end), F.replace(template, plain, qp))
        .when((bpos > 0) & (bpos < path_end), F.replace(template, b64ph, b64_qp))
        .when((hpos > 0) & (ppos > hpos), F.replace(template, plain, qp))
        .when((hpos > 0) & (bpos > hpos), F.replace(template, b64ph, b64))
        .when(ppos > 0, F.replace(template, plain, qp))
        .when(bpos > 0, F.replace(template, b64ph, b64_qp))
    )


def search_redirect(
    queries: DataFrame,
    engines: DataFrame,
    query_col: str = "q",
    shortcut_char: str = "!",
    default_short_name: str | None = None,
    sosse_shortcut: str = "sosse",
) -> DataFrame:
    """Q14 full parity: SearchEngine.should_redirect + get_search_url
    (se/models.py:287-374).  Unlike the `bang_redirect` fast path
    (leading `!x ` only, `%s` templates), this walks the reference's
    actual algorithm:

    - scan the query's WORDS in order; the first word starting with
      `shortcut_char` that resolves decides (se/models.py:347-362):
      resolving to `sosse_shortcut` (active only when
      `default_short_name` is set, ≙ SOSSE_DEFAULT_SEARCH_REDIRECT
      gating SOSSE_SOSSE_SHORTCUT) stops redirection; resolving to an
      enabled engine redirects; unknown shortcuts are skipped and the
      scan continues,
    - the resolving word is REMOVED from the terms
      (se/models.py:359-361 `del q[i]`),
    - no word resolved → the `default_short_name` engine takes the
      whole query, unless it is blank (se/models.py:368-372),
    - disabled engines never match (filter(enabled=True)),
    - URL construction per `_template_search_url`.

    Output: one `(query_col, redirect_url)` row per redirected query;
    non-redirecting queries emit nothing (the reference returns None).
    Whitespace matches the reference exactly: the shortcut arm rebuilds
    the terms from split words (`' '.join` ≙ se/models.py:359-361), the
    default arm passes the RAW query string — so ` id4` quote_pluses
    its leading space, exactly like the reference (fuzz-pinned).

    Scale shape: `engines` is a tiny dimension (broadcast, twice); the
    word scan is one posexplode + one per-query min-pos window over
    only the shortcut-prefixed words — O(words) rows, never O(words²).
    Query text must be unique per row (it is the join-back key)."""
    en = F.broadcast(engines.filter(F.col("enabled")))
    q = F.col(query_col)
    words = queries.select(q, tokens(q, lower=False).alias("_words")).filter(
        F.size("_words") > 0
    )
    exploded = words.select(
        q, "_words", F.posexplode("_words").alias("_pos", "_w")
    ).filter(F.col("_w").startswith(shortcut_char))
    cand = exploded.withColumn(
        "_se", F.expr(f"substring(_w, {len(shortcut_char) + 1})")
    )
    joined = cand.join(en.select(F.col("shortcut").alias("_se"), "html_template"), "_se", "left")
    # The sosse shortcut stops redirection BEFORE the engine lookup
    # (se/models.py:352-354), so it wins even over an engine whose
    # shortcut collides with it — and it is live only when the default
    # redirect is configured.
    stop = (
        (F.col("_se") == sosse_shortcut)
        if default_short_name is not None
        else F.lit(False)
    )
    resolved = joined.withColumn("_stop", stop).filter(
        F.col("_stop") | F.col("html_template").isNotNull()
    )
    w = Window.partitionBy(query_col).orderBy("_pos")
    first_hit = (
        resolved.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(~F.col("_stop"))
    )
    n = F.size(F.col("_words"))
    shortcut_terms = F.array_join(
        F.concat(
            F.slice(F.col("_words"), F.lit(1), F.col("_pos")),
            F.when(F.col("_pos") + 2 <= n, F.slice(F.col("_words"), F.col("_pos") + 2, n)).otherwise(
                F.array().cast("array<string>")
            ),
        ),
        " ",
    )
    hits = first_hit.select(
        q, _template_search_url(F.col("html_template"), shortcut_terms).alias("redirect_url")
    )
    if default_short_name is None:
        return hits
    default_engine = en.filter(F.col("short_name") == default_short_name).select("html_template")
    fallback = (
        words.join(resolved.select(query_col).distinct(), query_col, "left_anti")
        .crossJoin(F.broadcast(default_engine))
        .select(
            q,
            _template_search_url(F.col("html_template"), q).alias("redirect_url"),
        )
    )
    return hits.unionByName(fallback)


def csv_export_order(docs: DataFrame, limit: int = 1000) -> DataFrame:
    """Q11: crawl_last desc (non-null first), head `limit`
    (se/csv.py:45-130 re-sort semantics)."""
    return docs.filter(F.col("crawl_last").isNotNull()).orderBy(
        F.col("crawl_last").desc(), F.col("url").asc()
    ).limit(limit)


def csv_export_flatten(
    docs: DataFrame, metadata_col: str = "metadata", limit: int = 1000
) -> DataFrame:
    """Q11 metadata flattening (se/csv.py:84-103): when NO exported
    row's JSON metadata holds a structured value (list/dict), the union
    of metadata keys flattens into per-key columns named
    'metadata <key>' (sorted, missing → ''), and the metadata column
    drops; if ANY row is structured, metadata stays as-is.

    Scale shape: the key-set/structured scan is ONE aggregation over
    the already-limited export slice; the collect is bounded by the
    number of distinct metadata keys (CSV headers must be known
    driver-side to emit columns — same constraint the reference's
    csv.DictWriter has).  Extraction is get_json_object column algebra,
    no UDF.
    """
    out = csv_export_order(docs, limit).localCheckpoint(eager=True)
    m = F.col(metadata_col)
    # from_json(map<string,string>) stringifies nested values as minified
    # JSON; a value is structured iff it re-parses as an object/array
    # (exact up to the pathological scalar string that IS json text)
    v = F.col("_v")
    is_structured_val = (v.startswith("{") | v.startswith("[")) & (
        F.from_json(v, "map<string,string>").isNotNull()
        | F.from_json(v, "array<string>").isNotNull()
    )
    probe = (
        out.select(F.explode_outer(F.from_json(m, "map<string,string>")).alias("_k", "_v"))
        .agg(
            F.collect_set("_k").alias("keys"),
            F.max(F.coalesce(is_structured_val, F.lit(False))).alias("structured"),
        )
        .collect()[0]
    )
    keys, structured = sorted(probe["keys"] or []), bool(probe["structured"])
    if structured or not keys:
        return out
    # extraction via the SAME from_json map the probe used — a map
    # lookup by literal key has no JSON-path syntax, so keys holding
    # quotes/brackets extract correctly (a $['{k}'] path would break)
    # the parse lands as ONE staged column referenced k times, not k
    # copies of the from_json subtree in k output columns
    staged = out.withColumn("_parsed_md", F.from_json(m, "map<string,string>"))
    return staged.select(
        *[c for c in out.columns if c != metadata_col],
        *[
            F.coalesce(F.col("_parsed_md").getItem(k), F.lit("")).alias(f"metadata {k}")
            for k in keys
        ],
    )
