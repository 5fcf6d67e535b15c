"""The tokenizer contract (functions/text.py): whitespace-tokenizing
operators see only the token sequence, never the kind or length of the
whitespace between or around tokens.

Each hypothesis example draws a small corpus, re-spaces every doc with
random runs of ' ' / '\\t' / '\\n' (leading and trailing runs included)
and checks the operator's output equals its output on the single-space
original.  Both outputs are tagged and unioned, so an example costs one
collect."""

import hashlib

import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sosse_spark.functions.text import (
    frequent_ngrams,
    token_count_expr,
    tokens,
    word_ngrams,
)
from sosse_spark.operators.dedup import (
    dedup_substring,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from sosse_spark.operators.sampling import chunk_documents

OPERATORS = {
    "token_count_expr": lambda df: df.select(
        "doc_id", token_count_expr(F.col("text")).alias("n")
    ),
    "dedup_substring": lambda df: dedup_substring(df, k=3),
    "minhash_lsh_pairs": lambda df: minhash_lsh_pairs(
        df, "text", "doc_id", k=2, num_hashes=16, bands=8, jaccard_threshold=0.3
    ),
    "ngram_jaccard_pairs": lambda df: ngram_jaccard_pairs(
        df, "text", "doc_id", n=2, threshold=0.3
    ),
    "simhash_signatures": lambda df: simhash_signatures(df, "text", "doc_id"),
    "frequent_ngrams": lambda df: frequent_ngrams(df, n=2, top_k=50),
    "chunk_documents": lambda df: chunk_documents(df, max_tokens=3, overlap=1),
}

_VOCAB = ["a", "b", "c", "Dd", "e1"]
_gap = st.text(alphabet=" \t\n", min_size=1, max_size=3)
_edge = st.text(alphabet=" \t\n", min_size=0, max_size=3)


@st.composite
def respaced_docs(draw):
    """(canonical, respaced) pair of one doc."""
    words = draw(st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=8))
    out = draw(_edge)
    for i, w in enumerate(words):
        out += (draw(_gap) if i else "") + w
    return " ".join(words), out + draw(_edge)


def _rows(spark, docs):
    return spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")


def _collect(spark, op, canonical, respaced):
    run = OPERATORS[op]
    tagged = run(_rows(spark, canonical)).withColumn("_v", F.lit(0)).unionByName(
        run(_rows(spark, respaced)).withColumn("_v", F.lit(1))
    )
    out = ({}, {})
    for r in tagged.collect():
        d = r.asDict()
        v = d.pop("_v")
        key = tuple(sorted(d.items()))
        out[v][key] = out[v].get(key, 0) + 1
    return out


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_whitespace_invariance(spark, op):
    @given(st.lists(respaced_docs(), min_size=3, max_size=6))
    # no shrink phase: every shrink step is another Spark job, and the
    # assertion already prints the failing corpus
    @settings(
        max_examples=4,
        deadline=None,
        derandomize=True,
        database=None,
        phases=[Phase.explicit, Phase.generate],
    )
    def check(pairs):
        canonical = [c for c, _ in pairs]
        respaced = [r for _, r in pairs]
        want, got = _collect(spark, op, canonical, respaced)
        assert got == want, (canonical, respaced)

    check()


# blank-doc output of every operator, pinned: docs 1 and 3 are blank
BLANK_CORPUS = ["x y z w", "", "x y z q", "", "p q"]
_SIG_EMPTY = int(hashlib.md5(b"").hexdigest()[:15], 16)
BLANK_WANT = {
    "token_count_expr": lambda rows: [r["n"] for r in rows] == [4, 0, 4, 0, 2],
    "dedup_substring": lambda rows: [
        (r["text"], r["kept_tokens"], r["removed_tokens"]) for r in rows if r["_id"] in (1, 3)
    ] == [("", 0, 0), ("", 0, 0)],
    # two blank docs share the single gram '' and pair at jaccard 1
    "minhash_lsh_pairs": lambda rows: (1, 3, 1.0)
    in [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows],
    "ngram_jaccard_pairs": lambda rows: (1, 3, 1.0)
    in [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows],
    # a blank doc votes as one empty token: its sig is that token's hash
    "simhash_signatures": lambda rows: {
        r["_id"]: r["sig"] for r in rows if r["_id"] in (1, 3)
    } == {1: _SIG_EMPTY, 3: _SIG_EMPTY},
    "frequent_ngrams": lambda rows: ("", 2, 2)
    in [(r["gram"], r["doc_freq"], r["total_freq"]) for r in rows],
    "chunk_documents": lambda rows: {r["doc_id"] for r in rows} == {0, 2, 4},
}


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_blank_doc_output_pinned(spark, op):
    out = OPERATORS[op](_rows(spark, BLANK_CORPUS))
    rows = sorted(out.collect(), key=lambda r: tuple(str(v) for v in r))
    assert BLANK_WANT[op](rows), rows


def test_token_rules_and_word_ngrams_blank_edge(spark):
    df = spark.createDataFrame([("\tAb  c\n",), ("",), (" \t\n",), (None,)], "t string")
    rows = df.select(
        tokens(F.col("t")).alias("low"),
        tokens(F.col("t"), lower=False).alias("raw"),
        word_ngrams(tokens(F.col("t")), 1).alias("g1"),
        word_ngrams(tokens(F.col("t")), 1, short_doc_whole=False).alias("g1_full"),
    ).collect()
    assert [r["low"] for r in rows] == [["ab", "c"], [], [], None]
    assert rows[0]["raw"] == ["Ab", "c"]
    assert [r["g1"] for r in rows] == [["ab", "c"], [""], [""], None]
    assert [r["g1_full"] for r in rows] == [["ab", "c"], [], [], None]
