"""Training-data ops: dedup (exact/minhash/simhash/ngram), similarity
(brute force vs LSH recall), text analysis, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different content about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "le chat et le chien sont dans la maison est belle"),
    (5, "der hund ist nicht das problem und die katze"),
    (6, "short text 123 here"),
    (7, "short text 456 here"),  # number-normalized dup of 6
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from sosse_spark.operators.dedup import exact_dedup

    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 2  # doc 3 collapsed into 0
    assert 3 not in out
    # number normalization collapses 6 and 7
    out2 = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs, "text", "doc_id", no_numbers=True).collect()}
    assert out2[6] == 2 and 7 not in out2


def test_minhash_lsh_finds_near_dup(spark, docs):
    from sosse_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, "text", "doc_id", k=3, num_hashes=16, bands=8, jaccard_threshold=0.3).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup always found
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup caught by some band
    assert all(not (a == 2 or b == 2) for a, b in pairs)  # unique doc never pairs


def test_simhash_near_dup(spark, docs):
    from sosse_spark.operators.dedup import simhash_near_dup_pairs, simhash_signatures

    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=10).collect()}
    assert pairs.get((0, 3)) == 0  # identical text ⇒ identical signature
    # one-word difference ⇒ distinctly closer than unrelated docs
    sigs = {r["_id"]: r["sig"] for r in simhash_signatures(docs, "text", "doc_id").collect()}
    ham = lambda a, b: bin(sigs[a] ^ sigs[b]).count("1")  # noqa: E731
    assert ham(0, 1) < ham(0, 2)
    assert ham(0, 1) < ham(0, 4)


def test_ngram_jaccard(spark, docs):
    from sosse_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).collect()}
    assert pairs.get((0, 3)) == 1.0
    assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1.0


def _embeddings(spark, n=60, dim=16):
    rng = np.random.RandomState(42)
    base = rng.randn(n, dim)
    base[10] = base[0] + rng.randn(dim) * 0.01  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark):
    from sosse_spark.operators.similarity import brute_force_topk

    emb = _embeddings(spark)
    queries = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    got = brute_force_topk(emb, queries, k=3).orderBy("rank").collect()
    assert got[0]["vec_id"] == 0 and got[0]["cos_sim"] == 1.0
    assert got[1]["vec_id"] == 10  # planted near-dup is rank 2


def test_lsh_topk_recall_vs_bruteforce(spark):
    """LSH top-k measured against exact brute force (not just a planted
    0.9999-cosine pair): k rows per query ALWAYS (starved queries fall
    back to an exact scan) and recall ≥ 0.9 at the entry's parameters."""
    from sosse_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = _embeddings(spark, n=200, dim=16)
    queries = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}
    got = lsh_topk(emb, queries, dim=16, k=5, bands=48, rows_per_band=5).collect()
    assert len(got) == 15  # k rows per query, no silent under-fill
    approx = {(r["query_id"], r["vec_id"]) for r in got}
    assert len(exact & approx) / len(exact) >= 0.9


def test_lsh_topk_starved_query_fill(spark):
    """A query whose buckets hold < k candidates still returns k rows
    (brute-force fill), never silently fewer."""
    from sosse_spark.operators.similarity import lsh_topk

    emb = _embeddings(spark, n=20, dim=16)
    queries = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    got = lsh_topk(emb, queries, dim=16, k=5, bands=2, rows_per_band=10).collect()
    assert len(got) == 5
    # fill_min_candidates below k is clamped to k: a query with fewer
    # than k band hits still takes the exact-scan fallback
    got = lsh_topk(
        emb, queries, dim=16, k=5, bands=2, rows_per_band=10, fill_min_candidates=1
    ).collect()
    assert len(got) == 5


def test_ann_topk_string_ids_and_empty_batch_schema(spark):
    """Every top-k operator takes its id types from the inputs: string
    ids give k rows per query and brute_force_topk's schema, at
    exhaustive settings the exact top-k, and an empty query batch
    yields that same schema."""
    from sosse_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_train,
        ivfpq_topk,
        lsh_topk,
        pq_topk,
        pq_train,
        sq_topk,
        sq_train,
    )

    emb = _embeddings(spark, n=20, dim=16).select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id").isin("v0", "v7")).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_train(emb, n_centroids=4, iters=3)
    books = pq_train(emb, m_sub=4, n_codes=8, iters=3)
    bounds = sq_train(emb)
    ops = {
        "lsh": lambda q: lsh_topk(emb, q, dim=16, k=3, bands=2, rows_per_band=10),
        "ivf": lambda q: ivf_topk(emb, q, cents, k=3, n_probe=4),
        "pq": lambda q: pq_topk(emb, q, books, k=3, shortlist_mult=10),
        "ivfpq": lambda q: ivfpq_topk(emb, q, cents, books, k=3, n_probe=4, shortlist_mult=10),
        "sq": lambda q: sq_topk(emb, q, bounds, k=3, shortlist_mult=10),
    }
    exact = brute_force_topk(emb, queries, k=3)
    want = sorted(tuple(r) for r in exact.collect())
    assert len(want) == 6 and all(r[1].startswith("v") for r in want)
    assert brute_force_topk(emb, queries.limit(0), k=3).schema == exact.schema
    for name, op in ops.items():
        got = op(queries)
        assert got.schema == exact.schema, name
        assert sorted(tuple(r) for r in got.collect()) == want, name
        assert op(queries.limit(0)).schema == exact.schema, name


def test_ivf_topk_recall_and_fill(spark):
    """IVF index path: recall ≥ 0.9 vs exact brute force at n_probe <
    n_centroids, k rows ALWAYS (starved queries fall back), and the
    probe-all configuration is EXACT (candidates ≡ corpus)."""
    from sosse_spark.operators.similarity import brute_force_topk, ivf_topk, ivf_train

    emb = _embeddings(spark, n=200, dim=16)
    queries = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = ivf_train(emb, n_centroids=8, iters=5)
    assert cents == ivf_train(emb, n_centroids=8, iters=5), "training is deterministic"
    exact = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}

    got = ivf_topk(emb, queries, cents, k=5, n_probe=4).collect()
    assert len(got) == 15  # k rows per query, no silent under-fill
    approx = {(r["query_id"], r["vec_id"]) for r in got}
    assert len(exact & approx) / len(exact) >= 0.9

    all_probe = {
        (r["query_id"], r["vec_id"]) for r in ivf_topk(emb, queries, cents, k=5, n_probe=8).collect()
    }
    assert all_probe == exact  # probing every cell ≡ exhaustive


def test_ivf_assign_partitions_corpus(spark):
    """Every vector lands in exactly one cell; cells are non-degenerate
    on clustered data (index actually partitions the corpus)."""
    from sosse_spark.operators.similarity import ivf_assign, ivf_train

    emb = _embeddings(spark, n=200, dim=16)
    cents = ivf_train(emb, n_centroids=8, iters=5)
    cells = ivf_assign(emb, cents)
    assert cells.count() == 200
    n_cells = cells.select("cell").distinct().count()
    assert n_cells >= 4, f"degenerate clustering: {n_cells} cells"


def test_embedding_near_dup_recall_vs_bruteforce(spark):
    """Recall measured against numpy brute force at the OPERATING
    threshold (0.5 ⇒ θ≈60°, barely above random — the regime where the
    round-1 single AND-only signature had 0 recall)."""
    from sosse_spark.operators.similarity import embedding_near_dup_pairs

    n, dim = 120, 16
    rng = np.random.RandomState(42)
    base = rng.randn(n, dim)
    base[10] = base[0] + rng.randn(dim) * 0.01  # planted near-identical pair
    norms = np.linalg.norm(base, axis=1, keepdims=True)
    cos = (base / norms) @ (base / norms).T
    truth = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if round(cos[i, j], 6) >= 0.5
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)], "vec_id long, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.5, rows_per_band=8, target_recall=0.995, dim=dim
        ).collect()
    }
    assert (0, 10) in got
    assert got <= truth  # exact-cosine verify ⇒ no false positives
    assert len(got & truth) / max(len(truth), 1) >= 0.9


def test_embedding_near_dup_low_threshold_string_ids(spark):
    """The low-threshold blocked-BLAS path keeps the id column's type:
    string ids pair exactly as their long twins, ordered id_a < id_b by
    STRING comparison ('10' < '9')."""
    from sosse_spark.operators.similarity import embedding_near_dup_pairs

    n, dim = 40, 8
    rng = np.random.RandomState(7)
    base = rng.randn(n, dim)
    norms = np.linalg.norm(base, axis=1, keepdims=True)
    cos = (base / norms) @ (base / norms).T
    truth = {
        (min(str(i), str(j)), max(str(i), str(j)))
        for i in range(n)
        for j in range(i + 1, n)
        if round(cos[i, j], 6) >= 0.5
    }
    emb = spark.createDataFrame(
        [(str(i), [float(x) for x in base[i]]) for i in range(n)],
        "vec_id string, embedding array<double>",
    )
    out = embedding_near_dup_pairs(
        emb, threshold=0.5, rows_per_band=8, target_recall=0.995, dim=dim
    )
    assert dict(out.dtypes)["id_a"] == "string"
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert truth and got == truth


def test_simhash_equals_bruteforce_at_large_hamming(spark, docs):
    """Pigeonhole contract: with chunks derived from max_hamming, the
    bucketed operator must EQUAL brute-force hamming pairs for ANY h —
    including h far beyond the old fixed-4-chunk guarantee of 3."""
    from sosse_spark.operators.dedup import simhash_near_dup_pairs, simhash_signatures

    sigs = {r["_id"]: r["sig"] for r in simhash_signatures(docs, "text", "doc_id").collect()}
    for h in (5, 16):
        truth = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a in sigs
            for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= h
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=h).collect()
        }
        assert got == truth


def test_lang_id(spark, docs):
    from sosse_spark.functions.text import lang_id_expr

    got = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", lang_id_expr(F.col("text")).alias("lang")).collect()}
    assert got[0] == "en"
    assert got[4] == "fr"
    assert got[5] == "de"


def test_token_counts_and_quality(spark, docs):
    from sosse_spark.functions.text import bpe_ish_token_count_expr, quality_score_expr, token_count_expr

    r = docs.filter(F.col("doc_id") == 0).select(
        token_count_expr(F.col("text")).alias("ws"),
        bpe_ish_token_count_expr(F.col("text")).alias("bpe"),
        quality_score_expr(F.col("text")).alias("q"),
    ).collect()[0]
    assert r["ws"] == 9
    assert r["bpe"] == 9
    assert 0.0 <= r["q"] <= 1.0


def test_fingerprint_stability(spark):
    """Winnowing min-hash: stable under a far-away edit, changes when the
    minimal shingle itself is touched."""
    from sosse_spark.functions.text import fingerprint_expr

    df = spark.createDataFrame(
        [(0, "abcdefghijklmnopqrstuvwxyz0123"), (1, "abcdefghijklmnopqrstuvwxyzZZ99")],
        "id long, text string",
    )
    got = [r["fp"] for r in df.select(fingerprint_expr("text", 8).alias("fp")).collect()]
    assert len(got[0]) == 32  # md5 hex


def test_accent_strip(spark):
    from sosse_spark.functions.text import remove_accents, remove_accents_udf

    assert remove_accents("café Über naïve") == "cafe Uber naive"
    df = spark.createDataFrame([("éàü",)], "s string")
    assert df.select(remove_accents_udf("s").alias("o")).collect()[0]["o"] == "eau"


# --- multimodal plumbing ----------------------------------------------------

def test_image_features_and_resize(spark):
    from sosse_spark.operators.multimodal import image_features, image_resize
    from sosse_spark.sources.corpus import corpus_df

    corpus = corpus_df(spark, 12, partitions=2)
    feats = image_features(corpus).collect()
    assert len(feats) == 12
    assert all(abs(sum(r["hist"]) - 1.0) < 1e-9 for r in feats)
    small = image_resize(corpus, 8, 6).collect()
    assert all((r["w"], r["h"]) == (8, 6) for r in small)
    from sosse_spark.functions.images import decode_image

    px = decode_image(bytes(small[0]["bytes"]), "png")
    assert px.shape == (6, 8, 3)


def test_mimetype_sniff(spark):
    from sosse_spark.operators.multimodal import sniff_mimetype_expr
    from sosse_spark.sources.corpus import corpus_df

    got = corpus_df(spark, 6, partitions=1).select(
        "fmt", sniff_mimetype_expr(F.col("bytes")).alias("mime")
    ).collect()
    expect = {"png": "image/png", "bmp": "image/bmp", "lossy": "image/x-slc"}
    assert all(r["mime"] == expect[r["fmt"]] for r in got)


def test_audio_video_stubs(spark):
    from sosse_spark.operators.multimodal import audio_features, video_frame_sample

    media = spark.createDataFrame([("m1", b"\x01\x02\x03\x04abcd")], "media_id string, bytes binary")
    with pytest.raises(Exception):
        audio_features(media, allow_fake=False).collect()
    fake = audio_features(media, allow_fake=True).collect()
    assert fake[0]["duration_ms"] > 0 and 0 < fake[0]["rms"] < 1.5
    frames = video_frame_sample(media, every_ms=500, allow_fake=True).collect()
    assert len(frames) >= 4
    assert [f["frame_no"] for f in frames] == list(range(len(frames)))


def test_dedup_components_paths_stars_merges(spark):
    """Connected components (alternating star contraction): long path,
    disjoint cluster, and a bridge merge all resolve to min-id labels."""
    from sosse_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),          # path 1..6
         (10, 11), (11, 12),                              # star-ish 10..12
         (20, 21),                                        # pair
         (6, 10)],                                        # bridge merges path+star
        "id_a long, id_b long",
    )
    got = {r["_id"]: r["component"] for r in dedup_components(pairs).collect()}
    assert {k: v for k, v in got.items() if k <= 12} == {i: 1 for i in [1, 2, 3, 4, 5, 6, 10, 11, 12]}
    assert got[20] == 20 and got[21] == 20
    assert set(got) == {1, 2, 3, 4, 5, 6, 10, 11, 12, 20, 21}


def test_dedup_components_empty_and_self(spark):
    from sosse_spark.operators.dedup import dedup_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_components(empty).count() == 0
    selfy = spark.createDataFrame([(7, 7), (1, 2)], "id_a long, id_b long")
    got = {r["_id"]: r["component"] for r in dedup_components(selfy).collect()}
    assert got == {1: 1, 2: 1}  # self-loop dropped entirely


def test_dedup_canonical_keeps_min_and_unpaired(spark):
    """End-to-end corpus dedup: minhash pairs -> components -> keep the
    min-id representative plus every unpaired row."""
    from sosse_spark.operators.dedup import dedup_canonical, minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, base), (4, "something entirely different here")],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", k=3, num_hashes=16, bands=8,
                              jaccard_threshold=0.5)
    kept = sorted(r["doc_id"] for r in dedup_canonical(docs, pairs, "doc_id").collect())
    assert kept == [1, 4]


def test_gopher_quality_flags_rules(spark):
    """Gopher rules (Rae et al. 2021 §A1.1): each rule trips on its own
    adversarial document and the composite ANDs them."""
    from sosse_spark.functions.text import gopher_quality_flags

    good = "the data " + " ".join(f"token{i} with that have" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, good),                                              # passes all
            (2, "short of the and"),                                # word count
            (3, "the of " + "a b c d " * 30),                       # mean word len < 3
            (4, "the of that " + "\n".join(["looks truncated..."] * 10)),  # ellipsis
            (5, "the of that\n" + "\n".join(f"- item {i} ok fine" for i in range(30))),  # bullets
            (6, "the of that " + " ".join(["123 456 789"] * 40)),   # alpha ratio
            (7, " ".join(f"word{i} more text here" for i in range(30))),   # stop words
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in docs.select("doc_id", *gopher_quality_flags(F.col("text"))).collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["g_word_count"] is False and out[2]["gopher_pass"] is False
    assert out[3]["g_mean_word_len"] is False
    assert out[4]["g_ellipsis"] is False
    assert out[5]["g_bullets"] is False
    assert out[6]["g_alpha_words"] is False
    assert out[7]["g_stop_words"] is False


def test_pq_topk_recall_rerank_and_codes(spark):
    """PQ-ADC: codes table is m_sub ints per vector; the coarse
    (m=4, 16-code) quantization with a tight 2k shortlist still reaches
    recall ≥ 0.6 vs brute force on near-random vectors (tight margins
    are PQ's worst case — the oracle entry's 16×64 config is recall 1);
    a corpus-wide shortlist reproduces exact top-k; k rows per query
    always; training is deterministic."""
    from sosse_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = _embeddings(spark, n=200, dim=16)
    queries = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    books = pq_train(emb, m_sub=4, n_codes=16, iters=5)
    assert books == pq_train(emb, m_sub=4, n_codes=16, iters=5)

    codes = pq_encode(emb, books)
    row = codes.first()
    assert len(row["codes"]) == 4 and all(0 <= c < 16 for c in row["codes"])
    assert codes.count() == 200

    exact = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}
    tight = pq_topk(emb, queries, books, k=5, shortlist_mult=2, codes=codes).collect()
    assert len(tight) == 15
    got = {(r["query_id"], r["vec_id"]) for r in tight}
    assert len(exact & got) / len(exact) >= 0.6

    generous = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk(emb, queries, books, k=5, shortlist_mult=40, codes=codes).collect()
    }
    assert generous == exact  # shortlist ⊇ corpus ⇒ re-rank ≡ brute force


def test_ivfpq_topk_recall_and_exhaustive(spark):
    """IVF+PQ composition: tight (n_probe < cells, coarse PQ) reaches
    recall ≥ 0.6 vs brute force; probing every cell with a corpus-wide
    shortlist reproduces exact top-k; k rows always."""
    from sosse_spark.operators.similarity import (
        brute_force_topk,
        ivf_train,
        ivfpq_topk,
        pq_train,
    )

    emb = _embeddings(spark, n=200, dim=16)
    queries = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = ivf_train(emb, n_centroids=8, iters=5)
    books = pq_train(emb, m_sub=4, n_codes=16, iters=5)
    exact = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, queries, k=5).collect()}

    tight = ivfpq_topk(emb, queries, cents, books, k=5, n_probe=4, shortlist_mult=2).collect()
    assert len(tight) == 15
    got = {(r["query_id"], r["vec_id"]) for r in tight}
    assert len(exact & got) / len(exact) >= 0.6

    full = {
        (r["query_id"], r["vec_id"])
        for r in ivfpq_topk(emb, queries, cents, books, k=5, n_probe=8, shortlist_mult=40).collect()
    }
    assert full == exact  # all cells + corpus-wide shortlist ≡ exhaustive


def test_image_transcode_roundtrip(spark):
    """P10's batchable half: PNG→lossy re-encode decodes back within the
    lossy codec's PSNR envelope; lossless→lossless is exact."""
    from sosse_spark.functions.images import decode_image, psnr
    from sosse_spark.operators.multimodal import image_transcode
    from sosse_spark.sources.corpus import corpus_df

    src = corpus_df(spark, 6, partitions=1).filter(F.col("fmt") == "png")
    out = image_transcode(src, "lossy").collect()
    assert out and all(r["fmt"] == "lossy" and r["out_bytes"] > 0 for r in out)
    orig = {r["image_id"]: bytes(r["bytes"]) for r in src.collect()}
    for r in out:
        a = decode_image(orig[r["image_id"]], "png")
        b = decode_image(bytes(r["bytes"]), "lossy")
        assert psnr(a, b) >= 40.0
    exact = image_transcode(src, "bmp").collect()
    for r in exact:
        a = decode_image(orig[r["image_id"]], "png")
        b = decode_image(bytes(r["bytes"]), "bmp")
        assert (a == b).all()


def test_bm25_rank_semantics(spark):
    """BM25: rarer terms weigh more; higher tf scores higher at equal
    length; longer docs are normalized down at equal tf."""
    from sosse_spark.operators.fts import fts_bm25_rank, fts_build_index

    docs = spark.createDataFrame(
        [
            (1, "rare common filler filler"),
            (2, "common filler filler filler"),
            (3, "common common filler filler"),
            (4, "common filler filler filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    idx = fts_build_index(docs, "doc_id")
    out = {r["_id"]: r["bm25"] for r in fts_bm25_rank(idx, "rare common").collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 1 holds the rare term: top score
    assert out[1] == max(out.values())
    # same length, higher tf of 'common' -> 3 beats 2
    assert out[3] > out[2]
    # longer doc with same tf -> normalized below the short one
    assert out[4] < out[2]


def test_dedup_paragraphs_first_occurrence_wins(spark):
    from sosse_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared"),
            (2, "shared\nbeta"),
            (3, "shared\n \nshared"),
            (4, "   "),  # blank-only doc: no non-blank paragraphs
        ],
        "doc_id long, text string",
    )
    out = {r["_id"]: r for r in dedup_paragraphs(docs, "doc_id", "text").collect()}
    assert out[1]["text"] == "alpha\nshared" and out[1]["removed_paras"] == 0
    # doc 2 loses 'shared' (doc 1 owns it) but keeps beta
    assert out[2]["text"] == "beta" and out[2]["removed_paras"] == 1
    # doc 3: both copies are duplicates of doc 1's
    assert out[3]["text"] == "" and out[3]["kept_paras"] == 0 and out[3]["removed_paras"] == 2
    # blank-only docs carry no paragraphs and drop out
    assert 4 not in out


def test_bm25_negation_and_phrase_policy(spark):
    import pytest as _pytest

    from sosse_spark.operators.fts import fts_bm25_rank, fts_build_index

    docs = spark.createDataFrame(
        [(1, "spark java"), (2, "spark scala")], "doc_id long, text string"
    )
    idx = fts_build_index(docs, "doc_id")
    got = {r["_id"] for r in fts_bm25_rank(idx, "spark -java").collect()}
    assert got == {2}  # negated term anti-joined, not silently ignored
    with _pytest.raises(ValueError):
        fts_bm25_rank(idx, '"exact phrase"')


def test_dedup_paragraphs_literal_separator(spark):
    from sosse_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "alpha|shared"), (2, "shared|beta")], "doc_id long, text string"
    )
    out = {r["_id"]: r for r in dedup_paragraphs(docs, "doc_id", "text", sep="|").collect()}
    assert out[1]["text"] == "alpha|shared"  # '|' split literally, not as regex
    assert out[2]["text"] == "beta" and out[2]["removed_paras"] == 1


def test_decontaminate_flags_benchmark_overlap(spark):
    from sosse_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text with no overlap whatsoever here now"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog"),  # 8-gram overlap w/ doc 1
         (101, "short doc")],                                # whole-text gram w/ doc 3
        "bench_id long, text string",
    )
    out = {r["_id"]: r for r in decontaminate(docs, bench, k=8).collect()}
    assert out[1]["contaminated"] and out[1]["matches"] == 1
    assert out[1]["first_gram"].startswith("quick brown fox")
    assert not out[2]["contaminated"] and out[2]["matches"] == 0
    assert out[3]["contaminated"]  # short docs compare whole-sequence


def test_stratified_sample_deterministic_proportions(spark):
    from sosse_spark.operators.sampling import stratified_sample

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("stratum"),
    )
    frac = {"s0": 0.5, "s1": 0.0}
    a = stratified_sample(docs, "stratum", frac).collect()
    b = stratified_sample(docs, "stratum", frac).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)  # rerun-stable
    kept = [r for r in a if r["stratum"] == "s0"]
    assert not any(r["stratum"] == "s1" for r in a)
    assert 0.42 * 2000 < len(kept) < 0.58 * 2000  # ~Binomial(2000, .5)
    # unknown strata fall to default_fraction
    assert stratified_sample(docs, "stratum", {}, default_fraction=1.0).count() == 4000


def test_ann_query_batch_guard(spark):
    """The 'small query batch' contract is enforced: an oversized query
    side raises with a chunking instruction before any broadcast, and
    the guard reads at most cap+1 query rows, never the full set (all
    six top-k entry points)."""
    import pytest as _pytest

    from sosse_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
        pq_topk,
        sq_topk,
    )

    emb = _embeddings(spark, n=20)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")  # 20 > cap 5
    for call in (
        lambda: brute_force_topk(emb, queries, k=2, max_query_batch=5),
        lambda: lsh_topk(emb, queries, dim=16, k=2, max_query_batch=5),
        lambda: ivf_topk(emb, queries, [[0.0] * 16], k=2, max_query_batch=5),
        lambda: pq_topk(emb, queries, [[[0.0] * 8]], k=2, max_query_batch=5),
        lambda: ivfpq_topk(emb, queries, [[0.0] * 16], [[[0.0] * 8]], k=2, max_query_batch=5),
        lambda: sq_topk(emb, queries, [[0.0] * 16, [1.0] * 16], k=2, max_query_batch=5),
    ):
        with _pytest.raises(ValueError, match="max_query_batch"):
            call()
    # at/under the cap: passes through (the guard is a limit(cap+1)
    # count or collect — at most cap+1 rows, never the full set)
    small = queries.limit(3)
    got = brute_force_topk(emb, small, k=2, max_query_batch=5).collect()
    assert len(got) == 6


def test_ngram_blocked_subset_of_bruteforce(spark, docs):
    """Recall certification for the blocked n-gram operator: blocked ⊆
    full-pair brute force at the same threshold, and every brute-force
    pair that shares the blocking key is found by the blocked operator
    (exactness within blocks)."""
    from sosse_spark.operators.dedup import (
        ngram_jaccard_bruteforce,
        ngram_jaccard_pairs,
    )

    blocked = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_bruteforce(docs, "text", "doc_id", n=3, threshold=0.3).collect()
    }
    assert set(blocked) <= set(brute)
    for k, v in blocked.items():
        assert brute[k] == v  # identical score where both find the pair
    # blocking-key replica: pairs sharing (first token, len band) in the
    # brute-force result MUST appear in the blocked result
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}

    def blk(t):
        toks = t.strip().lower().split()
        return (toks[0], len(toks) // 8)

    for (a, b), v in brute.items():
        if blk(rows[a]) == blk(rows[b]):
            assert (a, b) in blocked, (a, b)
    # the fixture really exercises both sides
    assert brute and blocked


def test_bruteforce_ngram_refuses_big_corpus(spark, docs):
    import pytest as _pytest

    from sosse_spark.operators.dedup import ngram_jaccard_bruteforce

    with _pytest.raises(ValueError, match="max_rows"):
        ngram_jaccard_bruteforce(docs, "text", "doc_id", max_rows=3)


def test_gopher_repetition_rules(spark):
    """Gopher Table-A1 repetition signals (functions/text.py
    gopher_repetition): dup-line fractions, top-n-gram char coverage,
    duplicate-n-gram char fraction — hand-computed goldens."""
    from sosse_spark.functions.text import gopher_repetition

    docs = spark.createDataFrame(
        [
            # 3 lines, one duplicated: dup_line_frac 1/3; line chars
            # 3+3+5=11, distinct 3+5=8 -> char frac 3/11
            (1, "aaa\naaa\nbbbbb"),
            # 'x y' bigram repeated 3x in 6 words: top2 = 3*len('x y')=9
            # over doc_chars 6 -> capped at >1 is fine (coverage metric)
            (2, "x y x y x y"),
            # no repetition at all
            (3, "one two three four five six seven eight nine ten eleven"),
            # single word: no grams, no lines dup
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}

    assert rows[1]["dup_line_frac"] == round(1 / 3, 6)
    assert rows[1]["dup_line_char_frac"] == round(3 / 11, 6)
    assert rows[3]["dup_line_frac"] == 0.0

    # doc2: words = [x,y]*3 (6 words, doc_chars=6).  2-grams: 'x y' x3
    # (len 3), 'y x' x2 -> top2 = 9/6; 5-grams: 'x y x y x' and
    # 'y x y x y' each once -> dup5 = 0
    assert rows[2]["top2_frac"] == round(9 / 6, 6)
    assert rows[2]["dup5_frac"] == 0.0
    assert rows[2]["r_top2"] is False and rows[2]["rep_pass"] is False

    # doc3: all grams unique -> top2 = max bigram chars/doc_chars,
    # dup fractions 0, everything passes except possibly top rules
    assert rows[3]["dup5_frac"] == 0.0 and rows[3]["dup10_frac"] == 0.0

    # doc4: no grams at all -> all gram fractions 0, passes
    assert rows[4]["top2_frac"] == 0.0 and rows[4]["rep_pass"] is True


def test_gopher_repetition_dup_ngram_arm(spark):
    """A 5-gram repeated verbatim drives dup5_frac above threshold."""
    from sosse_spark.functions.text import gopher_repetition

    phrase = "alpha beta gamma delta epsilon"
    text = (phrase + " ") * 4 + "zeta eta theta iota kappa"
    (row,) = gopher_repetition(
        spark.createDataFrame([(1, text)], "doc_id long, text string")
    ).collect()
    # the repeated phrase makes many 5-grams recur (period 5 in a
    # 25-word prefix); the rule must trip
    assert row["dup5_frac"] > 0.15 and row["r_dup5"] is False
    assert row["rep_pass"] is False


def test_pii_scrub(spark):
    """Regex PII redaction: email / IPv4 / phone replaced with typed
    tokens, per-category counts, rule order prevents double counting."""
    from sosse_spark.functions.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@example.co.uk or call 555-123-4567"),
            (2, "server at 10.0.255.3 and backup 192.168.1.1"),
            (3, "intl +4915112345678 done"),
            (4, "clean text, no pii; version 1.2 and 1.2.3 stay"),
            (5, "a@b.io at 1.2.3.4"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in pii_scrub(docs).collect()}
    assert rows[1]["text_scrubbed"] == "mail me at <EMAIL> or call <PHONE>"
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert rows[2]["text_scrubbed"] == "server at <IP> and backup <IP>"
    assert rows[2]["n_ipv4"] == 2
    assert rows[3]["text_scrubbed"] == "intl <PHONE> done"
    # dotted version numbers: 1.2.3 has only three groups -> not an IP
    assert rows[4] == {
        "doc_id": 4,
        "text_scrubbed": "clean text, no pii; version 1.2 and 1.2.3 stay",
        "n_emails": 0,
        "n_ipv4": 0,
        "n_phones": 0,
        "has_pii": False,
    }
    assert rows[5]["text_scrubbed"] == "<EMAIL> at <IP>"
    assert rows[5]["has_pii"] is True


def test_unigram_logprob(spark):
    """Corpus-unigram LM scoring: common-word docs score lower avg_nll
    than rare-word docs; OOV floor applies under a tight vocab cap."""
    import math

    from sosse_spark.functions.text import unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "the the the cat"),
            (2, "zyzzyva qwerty"),
            (3, "the cat"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in unigram_logprob(docs).collect()}
    assert 4 not in rows  # no tokens -> drops out
    # corpus counts: the=4, cat=2, zyzzyva=1, qwerty=1, total=8
    t = 8.0
    nll = lambda c: math.log(t) - math.log(c)  # noqa: E731
    exp1 = round((3 * nll(4) + nll(2)) / 4, 6)
    assert rows[1]["avg_nll"] == exp1
    assert rows[2]["avg_nll"] == round(nll(1), 6)
    assert rows[1]["avg_nll"] < rows[3]["avg_nll"] < rows[2]["avg_nll"]
    assert rows[1]["n_tokens"] == 4

    # vocab cap 2 keeps {the, cat} (top counts); zyzzyva/qwerty take the
    # add-one floor cnt=1 — same here since their true count IS 1
    capped = {
        r["doc_id"]: r["avg_nll"]
        for r in unigram_logprob(docs, vocab_size=2).collect()
    }
    assert capped[2] == round(nll(1), 6)
    assert capped[1] == exp1


def test_semantic_dedup_min_id_wins_within_cluster(spark):
    """SemDeDup-lite: same-direction vectors in one cluster collapse to
    the lowest id; cross-cluster vectors never pair; below-threshold
    cluster-mates are kept."""
    from sosse_spark.operators.similarity import semantic_dedup

    vecs = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),
            (2, [4.0, 0.0]),      # dup of 1 (cos 1)
            (3, [0.0, 3.0]),      # other cluster
            (4, [0.0, 1.0]),      # dup of 3 (cos 1)
            (5, [1.0, 0.9]),      # cell 0 but cos(5,1) = 0.743 < 0.95 -> kept
            (6, [2.0, 0.0]),      # dup of BOTH 1 and 2 -> dup_of = min = 1
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r.asDict() for r in semantic_dedup(
        vecs, [[1.0, 0.0], [0.0, 1.0]], threshold=0.95).collect()}
    assert len(got) == 6
    assert got[1]["is_dup"] is False and got[1]["dup_of"] is None
    assert got[2]["dup_of"] == 1 and got[2]["is_dup"] is True
    assert got[3]["is_dup"] is False
    assert got[4]["dup_of"] == 3
    assert got[5]["is_dup"] is False and got[5]["cell"] == 0
    assert got[6]["dup_of"] == 1
    assert got[1]["cell"] == got[2]["cell"] == 0 and got[3]["cell"] == got[4]["cell"] == 1


def test_pack_sequences_contiguous_bins_and_overflow(spark):
    """Packing: per-group cumsum binning in id order; a doc belongs to
    the bin where it starts; bins overrun by at most one doc; docs over
    the budget are flagged oversize."""
    from sosse_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([40, 40, 40, 250, 40, 40])],
        "doc_id long, n_tokens int",
    )
    got = {r["doc_id"]: r.asDict() for r in pack_sequences(
        docs, budget=100, n_groups=1).collect()}
    assert len(got) == 6
    # single group: cumsum order is doc_id order
    befores = [got[i]["tokens_before"] for i in range(6)]
    assert befores == [0, 40, 80, 120, 370, 410]
    assert [got[i]["bin_no"] for i in range(6)] == [0, 0, 0, 1, 3, 4]
    # doc 2 starts at 80 and overruns bin 0 by 20 — allowed (<= 1 doc)
    assert got[3]["oversize"] is True and got[0]["oversize"] is False
    # grouped run: same ids split across groups still cover every doc once
    multi = pack_sequences(docs, budget=100, n_groups=4).collect()
    assert sorted(r["doc_id"] for r in multi) == list(range(6))
    assert all(0 <= r["pack_group"] < 4 for r in multi)


def test_semantic_dedup_with_trained_centroids(spark):
    """Production path: ivf_train (bounded-sample Lloyd) centroids feed
    semantic_dedup.  Planted same-direction twins share their base's
    cell by construction (identical normalized vector) so they are
    dropped regardless of which cells training converges to."""
    from sosse_spark.operators.similarity import ivf_train, semantic_dedup

    base = [[float(((i * 7 + j * 13) % 17) - 8) for j in range(8)] for i in range(15)]
    rows = [(i, base[i]) for i in range(15)] + [
        (100 + i, [2.0 * x for x in base[i]]) for i in range(0, 15, 5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(df, n_centroids=4, iters=4, seed=7)
    got = {r["vec_id"]: r.asDict() for r in semantic_dedup(df, cents, threshold=0.9999).collect()}
    assert len(got) == 18
    for i in (0, 5, 10):
        assert got[100 + i]["is_dup"] is True and got[100 + i]["dup_of"] == i
        assert got[100 + i]["cell"] == got[i]["cell"]
        assert got[i]["is_dup"] is False


def test_chunk_documents_sliding_windows(spark):
    """Chunking: stride = max - overlap; last chunk reaches the final
    token; short docs yield one chunk; empty docs yield none."""
    from sosse_spark.operators.sampling import chunk_documents

    ten = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, ten), (2, "a b"), (3, "   "), (4, "solo")],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_documents(docs, max_tokens=5, overlap=2).collect():
        got.setdefault(r["doc_id"], []).append(r.asDict())
    for chunks in got.values():
        chunks.sort(key=lambda c: c["chunk_no"])
    assert 3 not in got
    assert [c["start_token"] for c in got[1]] == [0, 3, 6]
    assert [c["n_chunk_tokens"] for c in got[1]] == [5, 5, 4]
    assert got[1][0]["chunk_text"] == "t0 t1 t2 t3 t4"
    assert got[1][1]["chunk_text"] == "t3 t4 t5 t6 t7"
    assert got[1][2]["chunk_text"] == "t6 t7 t8 t9"
    assert len(got[2]) == 1 and got[2][0]["chunk_text"] == "a b"
    assert len(got[4]) == 1 and got[4][0]["n_chunk_tokens"] == 1

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=4, overlap=4)


def test_pack_and_chunk_exhaustive_micro_grid(spark):
    """Every n_tokens in 0..40 through pack_sequences (budget 7) and
    chunk_documents (5/2) in one job each, checked against pure-Python
    replicas — exhausts the boundary cases (empty, ==budget, ==window,
    one-past, oversize) that example tests sample."""
    from sosse_spark.operators.sampling import chunk_documents, pack_sequences

    rows = [(i, i) for i in range(41)]
    packed = {r["doc_id"]: r.asDict() for r in pack_sequences(
        spark.createDataFrame(rows, "doc_id long, n_tokens int"),
        budget=7, n_groups=1).collect()}
    before = 0
    for i in range(41):
        assert packed[i]["tokens_before"] == before
        assert packed[i]["bin_no"] == before // 7
        assert packed[i]["oversize"] is (i > 7)
        before += i

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i))) for i in range(41)],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_documents(docs, max_tokens=5, overlap=2).collect():
        got.setdefault(r["doc_id"], []).append(r.asDict())
    assert 0 not in got  # empty doc -> no rows
    stride = 3
    for n in range(1, 41):
        toks = [f"w{j}" for j in range(n)]
        exp_k = max((max(n - 2, 1) + stride - 1) // stride, 1)
        chunks = sorted(got[n], key=lambda c: c["chunk_no"])
        assert len(chunks) == exp_k, (n, len(chunks), exp_k)
        for k, c in enumerate(chunks):
            s = k * stride
            assert c["start_token"] == s
            assert c["chunk_text"] == " ".join(toks[s:s + 5])
            assert c["n_chunk_tokens"] == min(5, n - s)
        # coverage: last chunk reaches the final token
        assert chunks[-1]["start_token"] + chunks[-1]["n_chunk_tokens"] == n


def test_hashed_classifier_score_hand_values(spark):
    """GPT-3-style hashed linear classifier: bucket via md5 (verified
    against hashlib), prob = sigmoid(mean bucket weight)."""
    import hashlib
    import math

    from sosse_spark.functions.text import hashed_classifier_score

    def bucket_of(tok, n=64):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "neutral words only"), (3, "")],
        "doc_id int, text string",
    )
    wmap = {bucket_of("good"): 2.0, bucket_of("bad"): -4.0}
    weights = spark.createDataFrame(
        [(b, w) for b, w in wmap.items()], "bucket long, w double"
    )
    out = {r["doc_id"]: r for r in hashed_classifier_score(docs, weights, n_buckets=64).collect()}
    # doc 1: mean(2, 2, -4) = 0 -> sigmoid(0) = 0.5 (unless an unweighted
    # token collides into a weighted bucket — guard the fixture)
    assert bucket_of("neutral") not in wmap and bucket_of("words") not in wmap and bucket_of("only") not in wmap
    assert out[1]["n_tokens"] == 3 and abs(out[1]["prob"] - 0.5) < 1e-9
    # doc 2: all unweighted -> mean 0 -> 0.5
    assert abs(out[2]["prob"] - 0.5) < 1e-9
    # empty doc drops out
    assert 3 not in out
    # bias shifts the logit
    out_b = {r["doc_id"]: r for r in hashed_classifier_score(docs, weights, n_buckets=64, bias=1.0).collect()}
    assert abs(out_b[2]["prob"] - 1 / (1 + math.exp(-1.0))) < 1e-9


def test_pareto_classifier_filter_replica(spark):
    """The deterministic Pareto keep rule matches a hashlib replica of
    draw = (1-u)^(-1/alpha) - 1; keep iff draw > 1 - prob."""
    import hashlib

    from sosse_spark.functions.text import pareto_classifier_filter

    scored = spark.createDataFrame(
        [(i, 10, 0.05 + 0.09 * (i % 11)) for i in range(60)],
        "doc_id int, n_tokens int, prob double",
    )
    out = {r["doc_id"]: r for r in pareto_classifier_filter(scored, alpha=9.0, seed=7).collect()}

    kept = 0
    for i in range(60):
        u = int(hashlib.md5(f"{i}|7".encode()).hexdigest()[:8], 16) / 2**32
        draw = (1 - u) ** (-1 / 9.0) - 1
        want_keep = draw > 1 - (0.05 + 0.09 * (i % 11))
        assert out[i]["keep"] == want_keep, i
        assert abs(out[i]["pareto_draw"] - draw) < 1e-8
        kept += want_keep
    # the heavy tail keeps SOME low-probability docs and most high ones
    assert 0 < kept < 60


def test_bigram_logprob_replica(spark):
    """Interpolated bigram LM matches a pure-python replica of
    p(w2|w1) = lam*c2/c1(w1) + (1-lam)*c1(w2)/total."""
    import math
    import re
    from collections import Counter

    from sosse_spark.functions.text import bigram_logprob

    texts = {1: "a b a b c", 2: "a a a b", 3: "solo", 4: ""}
    toks = {i: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t] for i, s in texts.items()}
    c1 = Counter(t for tk in toks.values() for t in tk)
    total = sum(c1.values())
    c2 = Counter((tk[j], tk[j + 1]) for tk in toks.values() for j in range(len(tk) - 1))
    lam = 0.7
    want = {}
    for i, tk in toks.items():
        if len(tk) < 2:
            continue
        nll = [
            -math.log(lam * c2[(tk[j], tk[j + 1])] / c1[tk[j]] + (1 - lam) * c1[tk[j + 1]] / total)
            for j in range(len(tk) - 1)
        ]
        want[i] = (len(nll), sum(nll) / len(nll))

    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    got = {r["doc_id"]: r for r in bigram_logprob(df, lam=lam).collect()}
    assert set(got) == set(want)
    for i, (np_, nll) in want.items():
        assert got[i]["n_pairs"] == np_
        assert abs(got[i]["avg_nll"] - nll) < 1e-6
        assert abs(got[i]["ppl"] - math.exp(nll)) < 1e-3
    # doc 2 repeats the corpus-dominant 'a a' pair, so it scores BETTER
    # (lower nll) than doc 1's alternating rarer pairs
    assert got[2]["avg_nll"] < got[1]["avg_nll"]


def test_corpus_line_dedup_removes_all_occurrences(spark):
    """RefinedWeb line dedup: an over-frequent line vanishes EVERYWHERE
    (no keep-first — the contrast with dedup_paragraphs), under-frequent
    lines survive, and losing >50% of line chars flags dropped."""
    from sosse_spark.operators.dedup import corpus_line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha line\nboilerplate"),
            (2, "boilerplate\nunique beta"),
            (3, "boilerplate"),  # 3rd occurrence -> all three removed
            (4, "twice\nunique gamma"),
            (5, "twice"),  # only 2 occurrences: < min_count, kept
            (6, "   "),  # blank-only: no lines, text '', not dropped
        ],
        "doc_id long, text string",
    )
    out = {r["_id"]: r for r in corpus_line_dedup(docs, "doc_id", "text").collect()}
    assert out[1]["text"] == "unique alpha line" and out[1]["removed_lines"] == 1
    # doc 1: removed 11 chars of 28 -> not dropped
    assert not out[1]["dropped"]
    assert out[2]["text"] == "unique beta"
    # doc 3 was 100% boilerplate: empty text, dropped
    assert out[3]["text"] == "" and out[3]["kept_lines"] == 0 and out[3]["dropped"]
    # 'twice' occurs twice (< min_count=3): kept in both docs
    assert out[4]["text"] == "twice\nunique gamma" and out[4]["removed_lines"] == 0
    assert out[5]["text"] == "twice" and not out[5]["dropped"]
    # blank-only docs keep a row (unlike dedup_paragraphs' drop-out)
    assert out[6]["text"] == "" and out[6]["kept_lines"] == 0 and not out[6]["dropped"]


def test_corpus_line_dedup_char_ratio_boundary(spark):
    """dropped requires STRICTLY more than drop_char_ratio of the
    non-blank line chars removed; exactly-half stays kept."""
    from sosse_spark.operators.dedup import corpus_line_dedup

    docs = spark.createDataFrame(
        [
            (1, "aaaa\nbbbb"),  # removal of 'aaaa' = exactly half the chars
            (2, "aaaa"),
            (3, "aaaa"),
        ],
        "doc_id long, text string",
    )
    out = {r["_id"]: r for r in corpus_line_dedup(docs, "doc_id", "text").collect()}
    assert out[1]["removed_lines"] == 1 and not out[1]["dropped"]
    assert out[2]["dropped"] and out[3]["dropped"]


def test_char_entropy_pinned_values(spark):
    """Hand-checked Shannon entropies: uniform alphabets give log2(k)."""
    from sosse_spark.functions.text import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),  # H = 0, fails lo
            (2, "abababab"),  # H = 1, fails lo=2
            (3, "abcdabcd"),  # H = 2, passes (inclusive lo)
            (4, "abcdefghijklmnop"),  # 16 uniform chars: H = 4
            (5, ""),  # empty: n_chars 0, H 0, fails
        ],
        "doc_id long, text string",
    )
    out = {r["_id"]: r for r in char_entropy(docs, "doc_id", "text").collect()}
    assert out[1]["entropy"] == 0.0 and not out[1]["entropy_pass"]
    assert out[2]["entropy"] == 1.0 and not out[2]["entropy_pass"]
    assert out[3]["entropy"] == 2.0 and out[3]["entropy_pass"]
    assert out[4]["entropy"] == 4.0 and out[4]["n_chars"] == 16
    assert out[5]["n_chars"] == 0 and out[5]["entropy"] == 0.0 and not out[5]["entropy_pass"]


def test_char_entropy_prefix_bound(spark):
    """Only the first `prefix` chars count — the 100 TB cost bound."""
    from sosse_spark.functions.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "ab" * 8 + "z" * 100)], "doc_id long, text string"
    )
    out = char_entropy(docs, "doc_id", "text", prefix=16).collect()[0]
    assert out["n_chars"] == 16 and out["entropy"] == 1.0  # the z-tail ignored


def test_sq8_topk_matches_exact(spark):
    """SQ8 with a generous shortlist recovers the exact top-k (the same
    contract the pq/ivf oracles certify), and codes stay in [0,255]."""
    import numpy as np

    from sosse_spark.operators.similarity import (
        brute_force_topk,
        sq_encode,
        sq_topk,
        sq_train,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((80, 8)).tolist()
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    queries = emb.filter("vec_id < 3").selectExpr("vec_id as query_id", "embedding")
    bounds = sq_train(emb)
    codes = sq_encode(emb, bounds).collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c <= 255 for r in codes for c in r["codes"])
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"])
        for r in sq_topk(emb, queries, bounds, k=5, shortlist_mult=8).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    )
    assert got == want


def test_sq8_empty_corpus_and_guard(spark):
    import pytest as _pytest

    from sosse_spark.operators.similarity import sq_topk, sq_train

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        sq_train(emb)
    full = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    bounds = sq_train(full)
    q = full.selectExpr("vec_id as query_id", "embedding")
    with _pytest.raises(ValueError):
        sq_topk(full, q, bounds, max_query_batch=1)


def test_dedup_cluster_stats_histogram(spark):
    """Cluster-size histogram with keep-one removal accounting: a
    3-cluster, a 2-cluster, and singletons."""
    from sosse_spark.operators.dedup import dedup_cluster_stats

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    out = {r["cluster_size"]: r for r in dedup_cluster_stats(docs, pairs, "doc_id").collect()}
    assert out[3]["n_clusters"] == 1 and out[3]["n_docs"] == 3 and out[3]["n_removed"] == 2
    assert out[2]["n_clusters"] == 1 and out[2]["n_removed"] == 1
    # docs 3, 6, 7 are in no pair
    assert out[1]["n_clusters"] == 3 and out[1]["n_removed"] == 0


def test_dedup_cluster_stats_no_singletons_row(spark):
    """When every doc sits in a cluster the size-1 row is omitted."""
    from sosse_spark.operators.dedup import dedup_cluster_stats

    docs = spark.createDataFrame([(0, "a"), (1, "b")], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = {r["cluster_size"] for r in dedup_cluster_stats(docs, pairs, "doc_id").collect()}
    assert out == {2}


def test_phash_topk_exact_and_banded_agree(spark):
    """Banded retrieval equals the exact scan when the true top-k sits
    in radius; tie-break is (hamming, id)."""
    from sosse_spark.operators.dedup import phash_topk, phash_topk_banded

    # two tight groups 1 bit apart internally, ~30 bits cross-group
    rows = [(i, 0xAAAA5555 ^ (1 << (i % 3))) for i in range(8)]
    rows += [(i, 0x12345678 ^ (1 << (i % 3))) for i in range(10, 18)]
    ph = spark.createDataFrame(rows, "doc_id long, phash long")
    q = ph.filter("doc_id in (0, 10)").selectExpr("doc_id as query_id", "phash")
    exact = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["hamming"])
        for r in phash_topk(ph, q, k=5).collect()
    )
    banded = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["hamming"])
        for r in phash_topk_banded(ph, q, k=5, max_hamming=4).collect()
    )
    assert exact == banded
    # query 0's nearest is itself at hamming 0
    assert exact[0] == (0, 1, 0, 0)


def test_phash_topk_banded_starved_fallback(spark):
    """A query whose radius holds < fill_min candidates falls back to
    the exact scan and still returns k rows (beyond the radius)."""
    from sosse_spark.operators.dedup import phash_topk_banded

    # isolated query vs a far-away cluster: nothing within hamming 2
    rows = [(0, 0)] + [(i, 0x7FFFFFFFFFFF ^ i) for i in range(1, 9)]
    ph = spark.createDataFrame(rows, "doc_id long, phash long")
    q = ph.filter("doc_id = 0").selectExpr("doc_id as query_id", "phash")
    out = phash_topk_banded(ph, q, k=3, max_hamming=2).collect()
    assert len(out) == 3
    assert {r["rank"] for r in out} == {1, 2, 3}
    # self row at hamming 0 leads even through the fallback path
    byrank = {r["rank"]: r for r in out}
    assert byrank[1]["doc_id"] == 0 and byrank[1]["hamming"] == 0


def test_phash_topk_banded_plan_no_cartesian(spark):
    from sosse_spark.operators.dedup import phash_topk_banded

    ph = spark.createDataFrame(
        [(i, i * 7919) for i in range(30)], "doc_id long, phash long"
    )
    q = ph.filter("doc_id < 2").selectExpr("doc_id as query_id", "phash")
    # node walk, not toString grep: conftest caps plan strings at 4096
    # chars, so an absent-node assert on this long plan would be vacuous
    root = phash_topk_banded(ph, q, k=3, max_hamming=2)._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    kinds = [n.getClass().getSimpleName() for n in walk(root)]
    assert not any("Cartesian" in k for k in kinds)


def test_split_by_cluster_no_leakage(spark):
    """Every member of a near-dup cluster lands on the SAME side of the
    split; singletons split independently on their own id."""
    from sosse_spark.operators.sampling import split_by_cluster

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = {r["_id"]: r for r in split_by_cluster(docs, pairs, 0.3).collect()}
    assert len(out) == 12
    # clusters move together
    assert out[0]["split"] == out[1]["split"] == out[2]["split"]
    assert out[0]["component"] == out[1]["component"] == out[2]["component"] == 0
    assert out[5]["split"] == out[6]["split"] and out[5]["component"] == 5
    # singletons are their own component
    for i in (3, 4, 7, 8, 9, 10, 11):
        assert out[i]["component"] == i
    # both splits occur at fraction 0.3 over 12 ids (deterministic md5)
    assert {r["split"] for r in out.values()} == {"test", "train"}


def test_phash_topk_banded_fill_min_clamped_to_k(spark):
    """fill_min below k must not let a query return fewer than k rows:
    the clamp forces the exact fallback when in-radius candidates < k."""
    from sosse_spark.operators.dedup import phash_topk_banded

    # query has exactly 3 in-radius rows (itself + 2 neighbors), k=5
    rows = [(0, 0), (1, 1), (2, 2)] + [(i, 0x00FFFFFFFFFFFF ^ i) for i in range(10, 16)]
    ph = spark.createDataFrame(rows, "doc_id long, phash long")
    q = ph.filter("doc_id = 0").selectExpr("doc_id as query_id", "phash")
    out = phash_topk_banded(ph, q, k=5, max_hamming=2, fill_min_candidates=1).collect()
    assert len(out) == 5  # clamp triggered the fallback


def test_frequent_ngrams_hand_values(spark):
    """Doc-frequency ranking with deterministic tie-break; short docs
    contribute their whole token run as one gram."""
    from sosse_spark.functions.text import frequent_ngrams

    docs = spark.createDataFrame(
        [
            (1, "click here to subscribe now"),
            (2, "click here to unsubscribe"),
            (3, "click here to subscribe today"),
            (4, "tiny doc"),  # < n tokens: whole run is one gram
        ],
        "doc_id long, text string",
    )
    out = [(r["gram"], r["doc_freq"], r["total_freq"]) for r in frequent_ngrams(docs, n=3, top_k=3).collect()]
    assert out[0] == ("click here to", 3, 3)
    assert out[1] == ("here to subscribe", 2, 2)
    assert ("tiny doc", 1, 1) not in out  # rank 3 goes to a df-1 gram by name
    # the k-boundary tie among df-1 grams breaks by gram asc
    assert out[2][1] == 1 and out[2][0] == min(
        g for g, df, _ in [("here to unsubscribe", 1, 1), ("to subscribe now", 1, 1),
                           ("to subscribe today", 1, 1), ("tiny doc", 1, 1)]
    )
