"""Exact-substring dedup (Lee et al. 2021, arXiv:2107.06499): any
k-token span appearing verbatim more than once in the corpus is cut
from every document (remove_all) or from all but its first occurrence
(keep_first).  Verified against a pure-Python replica of the rule and
hand-built goldens for overlap/merging cases."""

from collections import defaultdict

import pytest

from sosse_spark.operators.dedup import dedup_substring


def _ref(texts: dict, k: int, policy: str = "remove_all"):
    toks = {i: t.split() for i, t in texts.items()}
    occ = defaultdict(list)
    for i, tk in sorted(toks.items()):
        for p in range(len(tk) - k + 1):
            occ[tuple(tk[p:p + k])].append((i, p))
    covered = defaultdict(set)
    for lst in occ.values():
        if len(lst) < 2:
            continue
        cut = lst if policy == "remove_all" else sorted(lst)[1:]
        for i, p in cut:
            covered[i].update(range(p, p + k))
    return {
        i: (
            " ".join(t for j, t in enumerate(tk) if j not in covered[i]),
            len(tk) - len(covered[i]),
            len(covered[i]),
        )
        for i, tk in toks.items()
    }


def _run(spark, texts: dict, k: int, policy: str = "remove_all"):
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    rows = dedup_substring(df, k=k, policy=policy).collect()
    return {r["_id"]: (r["text"], r["kept_tokens"], r["removed_tokens"]) for r in rows}


CORPUS = {
    # docs 1/2 share an exact 5-token passage embedded in different
    # contexts; doc 3 repeats ITS OWN 4-token span twice; doc 4 is
    # short; doc 5 is blank; doc 6 shares nothing
    1: "alpha beta the quick brown fox jumps gamma delta",
    2: "start the quick brown fox jumps end tail words here",
    3: "one two three four x one two three four y",
    4: "tiny doc",
    5: "",
    6: "completely unrelated content with unique tokens only",
}


@pytest.mark.parametrize("k", [3, 4, 5])
def test_matches_python_replica(spark, k):
    got = _run(spark, CORPUS, k)
    want = _ref(CORPUS, k)
    assert got == want


def test_keep_first_policy(spark):
    got = _run(spark, CORPUS, 5, policy="keep_first")
    want = _ref(CORPUS, 5, policy="keep_first")
    assert got == want
    # the first occurrence (lowest (id, pos)) keeps its text intact
    assert got[1][0] == CORPUS[1]
    assert "the quick brown fox jumps" not in got[2][0]


def test_hand_golden_cross_doc_cut(spark):
    got = _run(spark, CORPUS, 5)
    # the shared 5-gram is cut from BOTH docs (remove_all)
    assert got[1] == ("alpha beta gamma delta", 4, 5)
    assert got[2] == ("start end tail words here", 5, 5)
    # doc 3's self-repeat: both copies of the 4-token span covered at k=4
    got4 = _run(spark, CORPUS, 4)
    assert got4[3] == ("x y", 2, 8)
    # short, blank, and unique docs untouched
    assert got[4] == ("tiny doc", 2, 0)
    assert got[5] == ("", 0, 0)
    assert got[6][2] == 0


def test_edge_newline_does_not_shift_positions(spark):
    # a doc starting with '\n' must tokenize like one starting with a
    # space: the shared 'one two three' is cut, 'zzz' survives
    texts = {1: "one two three four", 2: "\nzzz one two three"}
    got = _run(spark, texts, 3)
    assert got[1] == ("four", 1, 3)
    assert got[2] == ("zzz", 1, 3)
    assert got == _ref(texts, 3)


def test_overlapping_duplicate_spans_merge(spark):
    # two different duplicated 3-grams overlap within one doc; coverage
    # is the UNION of their token ranges, not double-counted
    texts = {
        1: "a b c d e tail1",
        2: "a b c front2",
        3: "c d e front3",
    }
    got = _run(spark, texts, 3)
    want = _ref(texts, 3)
    assert got == want
    assert got[1] == ("tail1", 1, 5)


def test_fully_covered_doc_empties(spark):
    texts = {1: "p q r", 2: "p q r", 3: "other stuff entirely"}
    got = _run(spark, texts, 3)
    assert got[1] == ("", 0, 3)
    assert got[2] == ("", 0, 3)
    assert got[3][2] == 0


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fuzz_random_corpora_match_replica(spark, seed):
    """Seeded-random corpora (repeated phrases planted at random
    offsets, variable doc lengths, shared vocab) vs the replica — one
    Spark job per seed, both policies."""
    import random

    rng = random.Random(seed * 7919)
    vocab = [f"t{j}" for j in range(12)]
    phrases = [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 6))) for _ in range(3)]
    texts = {}
    for i in range(18):
        parts = [rng.choice(vocab) for _ in range(rng.randint(0, 10))]
        if rng.random() < 0.6:
            pos = rng.randint(0, max(len(parts) - 1, 0))
            parts[pos:pos] = rng.choice(phrases).split()
        texts[i] = " ".join(parts)
    for policy in ("remove_all", "keep_first"):
        got = _run(spark, texts, 3, policy=policy)
        want = _ref(texts, 3, policy=policy)
        assert got == want, policy
