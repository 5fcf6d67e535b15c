"""Q14 full-parity tests: search_redirect vs a pure-Python replica of
the reference's SearchEngine.should_redirect + get_search_url
(se/models.py:287-374), exercised over the arm grid the reference's own
ShortcutTest pins (se/test_search.py:339-395).

The replica uses urllib.parse / base64 exactly as the reference does,
so any divergence between the Spark column algebra and real quote_plus /
parse_qs / urlencode behavior fails here — not just on the restricted
oracle corpus.
"""

import base64
import urllib.parse

import pytest

from sosse_spark.operators.search import search_redirect

ENGINES = [
    # (shortcut, short_name, html_template, enabled)
    ("f", "fake", "http://test.com/?q={searchTerms}", True),
    ("g", "fake2", "http://test2.com/?q={searchTerms}", True),
    ("p", "pathy", "http://p.example/search/{searchTerms}/hits", True),
    ("pb", "pathy64", "http://p.example/b/{searchTermsBase64}", True),
    ("h", "fraggy", "http://h.example/app#q={searchTerms}", True),
    ("hb", "fraggy64", "http://h.example/app#b={searchTermsBase64}", True),
    ("qb", "query64", "http://q.example/?b={searchTermsBase64}&l=en", True),
    ("q2", "query2", "http://q.example/?l=en&q={searchTerms}", True),
    ("off", "disabled", "http://off.example/?q={searchTerms}", False),
]


def _ref_get_search_url(html_template, query):
    """Literal port of SearchEngine.get_search_url (se/models.py:287-343)."""
    se_url = urllib.parse.urlsplit(html_template)
    b64 = base64.b64encode(query.encode("utf-8")).decode("utf-8")

    if "{searchTerms}" in se_url.path:
        path = se_url.path.replace("{searchTerms}", urllib.parse.quote_plus(query))
        return urllib.parse.urlunsplit(se_url._replace(path=path))
    if "{searchTermsBase64}" in se_url.path:
        path = se_url.path.replace("{searchTermsBase64}", urllib.parse.quote_plus(b64))
        return urllib.parse.urlunsplit(se_url._replace(path=path))
    if "{searchTerms}" in se_url.fragment:
        frag = se_url.fragment.replace("{searchTerms}", urllib.parse.quote_plus(query))
        return urllib.parse.urlunsplit(se_url._replace(fragment=frag))
    if "{searchTermsBase64}" in se_url.fragment:
        frag = se_url.fragment.replace("{searchTermsBase64}", b64)
        return urllib.parse.urlunsplit(se_url._replace(fragment=frag))

    se_params = urllib.parse.parse_qs(se_url.query)
    for key, val in se_params.items():
        val = val[0]
        if "{searchTerms}" in val:
            se_params[key] = [val.replace("{searchTerms}", query)]
            break
        if "{searchTermsBase64}" in val:
            se_params[key] = [val.replace("{searchTermsBase64}", b64)]
            break
    else:
        raise Exception("no placeholder")
    se_url_query = urllib.parse.urlencode(se_params, doseq=True)
    return urllib.parse.urlunsplit(se_url._replace(query=se_url_query))


def _ref_should_redirect(
    query, engines=ENGINES, shortcut_char="!", default_short_name=None, sosse_shortcut="sosse"
):
    """Literal port of SearchEngine.should_redirect (se/models.py:344-374)."""
    live = {s: t for (s, _n, t, e) in engines if e}
    by_name = {n: t for (_s, n, t, e) in engines if e}
    se = None
    for i, w in enumerate(query.split()):
        if not w.startswith(shortcut_char):
            continue
        se_str = w[len(shortcut_char):]
        if default_short_name and se_str == sosse_shortcut:
            return None
        if se_str not in live:
            continue
        se = live[se_str]
        q = query.split()
        del q[i]
        query = " ".join(q)
        break
    else:
        if default_short_name and query.strip():
            se = by_name.get(default_short_name)
    if se:
        return _ref_get_search_url(se, query)
    return None


def _run(spark, queries, **kw):
    qdf = spark.createDataFrame([(q,) for q in queries], "q string")
    edf = spark.createDataFrame(ENGINES, "shortcut string, short_name string, html_template string, enabled boolean")
    rows = search_redirect(qdf, edf, **kw).collect()
    return {r["q"]: r["redirect_url"] for r in rows}


GRID = [
    "plain words only",
    "!f test",
    "!g test",
    "!p two words here",
    "!pb abc",          # b64('abc') = 'YWJj' (no padding)
    "!pb ab",           # b64('ab') = 'YWI=' (padding → %3D in path arm)
    "!h find me",
    "!hb ab",           # raw b64 in fragment, padding stays '='
    "!qb ab cd",        # b64 of 5 chars → padding quote_plus'd by urlencode
    "!q2 multi word query",
    "mid !f scan words",
    "!zz unknown then !g works",
    "trailing word hit !f",
    "!off disabled engine",
    "!f",               # shortcut word only → empty terms
]


def test_arm_grid_matches_reference_port(spark):
    got = _run(spark, GRID)
    for q in GRID:
        want = _ref_should_redirect(q)
        if want is None:
            assert q not in got, q
        else:
            assert got.get(q) == want, (q, got.get(q), want)


def test_custom_shortcut_char(spark):
    queries = ["+f test", "!f test", "+g a b", "+zz nope"]
    got = _run(spark, queries, shortcut_char="+")
    for q in queries:
        want = _ref_should_redirect(q, shortcut_char="+")
        if want is None:
            assert q not in got
        else:
            assert got.get(q) == want


def test_default_redirect_and_sosse_stop(spark):
    queries = [
        "test plain",
        "!f test",
        "!g test",
        "!sosse test",          # sosse stop → None even with default set
        "!zz !sosse then !f",   # stop wins at first RESOLVING word
        "!zz only unknown",     # unresolved → default with FULL query
        "",
        "   ",
        "\t\n",                 # whitespace-only: no default redirect
        "\t!f alpha",           # tab/newline split words like a space
        " !f alpha",
    ]
    got = _run(spark, queries, default_short_name="fake")
    for q in queries:
        want = _ref_should_redirect(q, default_short_name="fake")
        if want is None:
            assert q not in got, q
        else:
            assert got.get(q) == want, (q, got.get(q), want)
    assert got["\t!f alpha"] == got[" !f alpha"] == "http://test.com/?q=alpha"


def test_sosse_stop_beats_engine_shortcut_collision(spark):
    # an enabled engine whose shortcut IS the sosse shortcut: the
    # reference checks the sosse stop before the lookup (se/models.py:352)
    engines = ENGINES + [("sosse", "selfsearch", "http://self.example/?q={searchTerms}", True)]
    qdf = spark.createDataFrame([("!sosse x",), ("!f x",)], "q string")
    edf = spark.createDataFrame(engines, "shortcut string, short_name string, html_template string, enabled boolean")
    got = {r["q"]: r["redirect_url"] for r in search_redirect(qdf, edf, default_short_name="fake").collect()}
    assert "!sosse x" not in got
    assert got["!f x"] == "http://test.com/?q=x"
    # without the default redirect the sosse stop is OFF and the engine matches
    got2 = {r["q"]: r["redirect_url"] for r in search_redirect(qdf, edf).collect()}
    assert got2["!sosse x"] == "http://self.example/?q=x"


def test_disabled_engine_shadowed_by_enabled_same_shortcut(spark):
    # se/test_search.py:394-404 test_50_shortcut_disable
    engines = [
        ("f", "fake", "http://off.example/?q={searchTerms}", False),
        ("f", "fake enabled", "http://on.example/?q={searchTerms}", True),
    ]
    qdf = spark.createDataFrame([("!f test",)], "q string")
    edf = spark.createDataFrame(engines, "shortcut string, short_name string, html_template string, enabled boolean")
    got = search_redirect(qdf, edf).collect()
    assert len(got) == 1 and got[0]["redirect_url"] == "http://on.example/?q=test"


def test_fuzz_bulk_queries_match_reference_port(spark):
    """300 seeded-random queries (shortcut chars sprinkled anywhere,
    unknown shortcuts, multi-shortcut, blank/whitespace, space/tab/
    newline separators and padding, default fallback + sosse stop
    active) in ONE job vs the literal port."""
    import random

    rng = random.Random(20240518)
    words = ["alpha", "beta", "gamma", "x1", "zz9", "!f", "!g", "!p", "!pb",
             "!h", "!hb", "!qb", "!q2", "!zz", "!nope", "!sosse", "w"]
    spaces = [" ", " ", " ", "\t", "\n", " \t", "\n\n"]
    queries = []
    for i in range(300):
        n = rng.randint(0, 6)
        q = "".join(rng.choice(words) + rng.choice(spaces) for _ in range(n)) + f"id{i}"
        if rng.random() < 0.3:
            q = rng.choice(spaces) + q + rng.choice(["", *spaces])
        if rng.random() < 0.1:
            q = rng.choice(["   ", "", "\t", " \n\t "])
        queries.append(q)
    queries = list(dict.fromkeys(queries))  # the query string is the join key

    got = _run(spark, queries, default_short_name="fake")
    for q in queries:
        want = _ref_should_redirect(q, default_short_name="fake")
        if want is None:
            assert q not in got, q
        else:
            assert got.get(q) == want, (q, got.get(q), want)
