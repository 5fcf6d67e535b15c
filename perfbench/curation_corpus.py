"""curation_corpus: the training-data operators over a seeded corpus.

Documents and embeddings come from BENCH/gen_sf.py (5% of the documents
are planted near-duplicates: a lower id's text + " dup").  A pass runs
the operator list below; each result goes to a noop sink, which
materializes every column (a count() would let Catalyst prune
projection-only work).  The seed drives the generator's
np.random.default_rng.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gen_sf import gen_documents, gen_embeddings
from sosse_spark.functions.text import ccnet_ppl_buckets, pii_scrub
from sosse_spark.operators.dedup import dedup_substring, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_near_dup_pairs
from sosse_spark.operators.similarity import embedding_near_dup_pairs, sq_topk, sq_train

N_DOCS = 3_000
N_EMB = 1_500
NGRAM_T = 0.12
MINHASH_T = 0.1
COSINE_T = 0.5
N_QUERIES = 3
TOP_K = 5
LEN_BAND = 8  # ngram_jaccard_pairs' default length band


def _sq(emb):
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(F.col("vec_id").alias("query_id"), "embedding")
    return sq_topk(emb, queries, sq_train(emb, max_train=20_000), k=TOP_K, shortlist_mult=8)


# (span name, operator over (documents, embeddings))
OPS = (
    ("dedup.ngram_jaccard_pairs", lambda d, e: ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=NGRAM_T)),
    ("dedup.minhash_lsh_pairs", lambda d, e: minhash_lsh_pairs(
        d, "text", "doc_id", k=3, num_hashes=16, bands=8, jaccard_threshold=MINHASH_T)),
    ("dedup.simhash_near_dup_pairs", lambda d, e: simhash_near_dup_pairs(d, "text", "doc_id", max_hamming=4)),
    ("dedup.dedup_substring", lambda d, e: dedup_substring(d.select("doc_id", "text"), k=8)),
    ("similarity.embedding_near_dup_pairs", lambda d, e: embedding_near_dup_pairs(
        e, threshold=COSINE_T, rows_per_band=8, target_recall=0.995, dim=64)),
    ("similarity.sq_topk", lambda d, e: _sq(e)),
    ("text.ccnet_ppl_buckets", lambda d, e: ccnet_ppl_buckets(d, lam=0.7)),
    ("text.pii_scrub", lambda d, e: pii_scrub(d.select("doc_id", F.col("pii_text").alias("text")))),
)
SPANS = tuple(name for name, _ in OPS)
PAIR_SPANS = ("dedup.ngram_jaccard_pairs", "dedup.minhash_lsh_pairs", "dedup.simhash_near_dup_pairs")


def _with_pii(texts: list[str]) -> list[str]:
    """Seed PII deterministically by doc id: an email on every 7th doc, an
    IPv4 address on every 11th, a phone number on every 13th."""
    out = []
    for i, t in enumerate(texts):
        if i % 7 == 0:
            t += f" contact user{i}@example.com"
        if i % 11 == 0:
            t += f" from 10.{i % 256}.0.{i % 200}"
        if i % 13 == 0:
            t += f" call 555-{i % 1000:03d}-{i % 10000:04d}"
        out.append(t)
    return out


def _grams(text: str, n: int) -> set:
    toks = text.lower().split()
    return {tuple(toks[k:k + n]) for k in range(len(toks) - n + 1)}


class Workload:
    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.dir = f"{work_dir}/curation"
        self.seed = seed
        self._extras: dict[str, float] = {}

    def generate(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        docs = gen_documents(N_DOCS, rng)
        emb = gen_embeddings(N_EMB, rng)
        self.texts = docs.column("text").to_pylist()
        docs = docs.append_column("pii_text", pa.array(_with_pii(self.texts), pa.string()))
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        emb = emb.set_column(1, "embedding", pa.array(list(self.vecs), pa.list_(pa.float64())))
        pq.write_table(docs, f"{self.dir}/documents.parquet")
        pq.write_table(emb, f"{self.dir}/embeddings.parquet")
        self.docs = self.spark.read.parquet(f"{self.dir}/documents.parquet")
        self.emb = self.spark.read.parquet(f"{self.dir}/embeddings.parquet")

    def warm(self) -> None:
        """First pass, collected: it pays the first-run JIT and its
        outputs (the same operators on the same inputs as every timed
        pass) are what check() verifies."""
        self.outputs = {name: op(self.docs, self.emb).toPandas() for name, op in OPS}

    def run_pass(self) -> int:
        for name, op in OPS:
            with self.tracer.span(name):
                op(self.docs, self.emb).write.format("noop").mode("overwrite").save()
        return N_DOCS + N_EMB

    def after_pass(self) -> None:
        pass

    def check(self) -> dict[str, bool]:
        out = self.outputs
        texts = self.texts
        for name in PAIR_SPANS:
            self._extras[name] = len(out[name])

        def jaccard_ok(df, n, t):
            for a, b, j in zip(df.id_a, df.id_b, df.jaccard):
                ga, gb = _grams(texts[a], n), _grams(texts[b], n)
                exact = len(ga & gb) / len(ga | gb)
                if not (a < b and exact >= t and abs(exact - j) <= 1e-6):
                    return False
            return True

        # planted near-dups: doc j = doc i's text + " dup"
        by_text: dict[str, list[int]] = {}
        for i, t in enumerate(texts):
            by_text.setdefault(t, []).append(i)
        planted = {
            (min(i, j), max(i, j))
            for j, t in enumerate(texts)
            if t.endswith(" dup")
            for i in by_text.get(t[: -len(" dup")], [])
        }

        def block(i):  # ngram_jaccard_pairs compares docs within (first token, length band)
            toks = texts[i].split()
            return toks[0], len(toks) // LEN_BAND

        ng, mh = out["dedup.ngram_jaccard_pairs"], out["dedup.minhash_lsh_pairs"]
        ng_pairs = set(zip(ng.id_a, ng.id_b))
        mh_pairs = set(zip(mh.id_a, mh.id_b))

        emb = out["similarity.embedding_near_dup_pairs"]
        v = self.vecs
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        cos = np.einsum("ij,ij->i", v[emb.id_a.to_numpy()], v[emb.id_b.to_numpy()])
        gram = v @ v.T
        sure = set(zip(*(x.tolist() for x in np.nonzero(np.triu(gram >= COSINE_T + 1e-6, 1)))))
        sq = out["similarity.sq_topk"]
        exact_top = {q: set(np.argsort(-gram[q])[:TOP_K].tolist()) for q in range(N_QUERIES)}
        sq_ok = all(set(sq[sq.query_id == q].vec_id.tolist()) == exact_top[q] for q in range(N_QUERIES))

        pii = out["text.pii_scrub"]
        ccnet = out["text.ccnet_ppl_buckets"]
        return {
            "ngram_pairs_meet_threshold": jaccard_ok(ng, 3, NGRAM_T),
            "ngram_finds_planted_pairs_in_block": all(
                p in ng_pairs for p in planted if block(p[0]) == block(p[1])
            ),
            "minhash_pairs_meet_threshold": jaccard_ok(mh, 3, MINHASH_T),
            "minhash_finds_planted_pairs": planted <= mh_pairs,
            "simhash_pairs_within_hamming": bool((out["dedup.simhash_near_dup_pairs"].hamming <= 4).all()),
            "embedding_pairs_meet_threshold": bool(
                ((cos >= COSINE_T - 1e-6) & (np.abs(cos - emb.cos_sim.to_numpy()) <= 1e-6)).all()
            ),
            "embedding_pairs_complete": sure <= set(zip(emb.id_a.tolist(), emb.id_b.tolist())),
            "sq_topk_equals_exact_topk": sq_ok,
            "ccnet_buckets_every_doc": len(ccnet) == N_DOCS,
            "pii_scrub_counts_seeded_emails": int(pii.n_emails.sum()) == len(range(0, N_DOCS, 7)),
        }

    def extras(self) -> dict[str, float]:
        """Output pair counts of the pair operators (for records_per_pair)."""
        return {f"{name}.pairs": n for name, n in self._extras.items()}

    def close(self) -> None:
        pass
