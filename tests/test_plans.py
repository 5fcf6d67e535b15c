"""Physical-plan quality gates: the plans we WANT, not just plans that
produce right answers (the 100 TB criteria — broadcasts broadcast,
filters reach the scan, candidate joins are equi-joins, payload bytes
stay out of scheduling scans)."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_robots_eval_broadcasts_rules(spark):
    from sosse_spark.operators.robots import evaluate_robots, robots_rules_rows

    rules = spark.createDataFrame(
        robots_rules_rows("h0", "User-agent: *\nDisallow: /private*\n"),
        "domain string, kind string, pattern string, pattern_len int",
    )
    batch = spark.createDataFrame(
        [("u1", "h0", "/x")], "url string, url_domain string, url_path string"
    )
    plan = _plan(evaluate_robots(batch, rules))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_eligibility_filter_pushed_to_scan(spark, tmp_root):
    """The frontier scan must receive the eligibility predicates as
    pushed filters (parquet min/max pruning at scale)."""
    from sosse_spark.operators.scheduler import eligible_filter

    df = spark.createDataFrame(
        [("u", None, None, False, 0, None)],
        "url string, crawl_last timestamp, crawl_next timestamp, "
        "manual_crawl boolean, retries int, worker_no int",
    )
    path = f"{tmp_root}/frontier_scan"
    df.write.parquet(path)
    scan = spark.read.parquet(path).filter(eligible_filter(F.lit("2024-01-01").cast("timestamp")))
    plan = _plan(scan)
    assert "PushedFilters: [" in plan
    # retries and worker_no are simple comparisons — must be pushed
    assert "retries" in plan.split("PushedFilters")[1][:200]


def test_scheduling_scan_prunes_payload_columns(spark, tmp_root):
    """Column pruning: a frontier projection for scheduling must not read
    unrelated fat columns from parquet (ReadSchema excludes them)."""
    df = spark.createDataFrame(
        [("u", "h", 0, "fat-payload")],
        "url string, url_domain string, retries int, fat_blob string",
    )
    path = f"{tmp_root}/prune"
    df.write.parquet(path)
    scan = spark.read.parquet(path).select("url", "url_domain").filter(F.col("url_domain") == "h")
    plan = _plan(scan)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "fat_blob" not in read_schema
    assert "retries" not in read_schema


def test_minhash_candidates_equi_join(spark):
    """LSH banding must produce a hash-partitioned equi-join on
    (band_no, band_hash) — never a cartesian/broadcast-nested-loop."""
    from sosse_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"text number {i} with words") for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(minhash_lsh_pairs(docs, "text", "doc_id", k=2, num_hashes=8, bands=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_pairs_equi_join(spark):
    from sosse_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_brute_force_broadcasts_queries(spark):
    from sosse_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<double>"
    )
    queries = corpus.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(brute_force_topk(corpus, queries, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_urlseen_antijoin_projects_thin_columns(spark):
    """The exact anti-join must ship only (url, collection_id) from the
    frontier side — never payload columns."""
    from sosse_spark.operators.frontier import urlseen_dedup, with_bucket

    cands = with_bucket(
        spark.createDataFrame(
            [("u1", 1, 0, 0, "h", "/p")],
            "url string, collection_id int, crawl_recurse int, disc_order long, "
            "url_domain string, url_path string",
        ),
        4,
    )
    frontier = spark.createDataFrame(
        [("u1", 1, "FATPAYLOAD")], "url string, collection_id int, fat string"
    )
    plan = _plan(urlseen_dedup(cands, frontier, None))
    # the anti-join subtree must not reference the fat column
    anti_section = plan[plan.find("LeftAnti") - 2000 : plan.find("LeftAnti") + 2000]
    assert "fat" not in anti_section


def test_bloom_build_and_probe_stay_jvm(spark):
    """The URL-seen bloom build + prefilter + dedup must be pure JVM
    column algebra — no Arrow boundary (pandas stages anti-scale above
    ~8-16 local python workers on this host; a 1000-executor cluster
    wants the probe in whole-stage codegen regardless)."""
    from sosse_spark.operators.frontier import bloom_build, urlseen_dedup, with_bucket

    cands = with_bucket(
        spark.createDataFrame(
            [(f"http://h/{i}", 1, 0, i, "h", "/p") for i in range(50)],
            "url string, collection_id int, crawl_recurse int, disc_order long, "
            "url_domain string, url_path string",
        ),
        4,
    )
    bloom = bloom_build(cands, None, m_bits=1 << 16)
    out = urlseen_dedup(cands, cands.select("url", "collection_id"), bloom, m_bits=1 << 16)
    for df in (bloom, out):
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan
        assert "FlatMapCoGroupsInPandas" not in plan
        assert "BatchEvalPython" not in plan


def test_whole_stage_codegen_in_scheduler(spark):
    """Eligibility + priority algebra must stay inside WholeStageCodegen
    (no Python/UDF breaks in the hot scheduling path)."""
    from sosse_spark.operators.scheduler import eligible_filter, priority_order_cols

    df = spark.createDataFrame(
        [("u", "h", None, None, False, 0, None, 1)],
        "url string, url_domain string, crawl_last timestamp, crawl_next timestamp, "
        "manual_crawl boolean, retries int, worker_no int, id long",
    )
    out = df.filter(eligible_filter(F.lit("2024-01-01").cast("timestamp"))).orderBy(
        *priority_order_cols()
    )
    out.collect()  # under AQE the final plan exists only after execution
    plan = _plan(out)
    # AQE wraps the plan only when enabled (the suite session may run
    # either way); when it does, demand the post-execution final plan
    if "AdaptiveSparkPlan" in plan:
        assert "isFinalPlan=true" in plan
    # codegen'd spans print as "*(n) Operator" in the executed plan
    assert "WholeStageCodegen" in plan or "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_band_exchange_is_thin(spark):
    """The exchange feeding the band self-join must carry only scalar
    columns (_id, band_no, band_hash) — the shingle arrays never ride
    the candidate shuffle (at corpus scale they ARE the documents)."""
    from sosse_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"text number {i} with words") for i in range(10)], "doc_id long, text string"
    )
    # disable broadcast (so the candidate join plans as the shuffled
    # sort-merge it would be at corpus scale) and AQE (so executedPlan
    # exposes ShuffleExchange nodes instead of query-stage wrappers)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = minhash_lsh_pairs(docs, "text", "doc_id", k=2, num_hashes=8, bands=4)
        root = out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    band_exchanges = 0
    for node in walk(root):
        if "ShuffleExchange" not in node.getClass().getSimpleName():
            continue
        if "band_hash" not in node.outputPartitioning().toString():
            continue
        band_exchanges += 1
        cols = node.child().output()
        names = [cols.apply(i).name() for i in range(cols.size())]
        assert "sh" not in names, f"shingle array rides the band exchange: {names}"
    # >= 1: Spark plans ONE exchange and reuses it for the other side of
    # the self-join (ReusedExchange) — itself a scale win
    assert band_exchanges >= 1


def test_ngram_block_exchange_is_thin(spark):
    """The exchange feeding the ngram block self-join must carry only
    scalar columns (_id, blk, gs) — the gram arrays join back per
    verified candidate, never riding the candidate shuffle."""
    from sosse_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(10)], "doc_id long, text string"
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = ngram_jaccard_pairs(docs, "text", "doc_id", n=2, threshold=0.2)
        root = out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    block_exchanges = 0
    for node in walk(root):
        if "ShuffleExchange" not in node.getClass().getSimpleName():
            continue
        if "blk" not in node.outputPartitioning().toString():
            continue
        block_exchanges += 1
        cols = node.child().output()
        names = [cols.apply(i).name() for i in range(cols.size())]
        assert "g" not in names, f"gram array rides the block exchange: {names}"
    assert block_exchanges >= 1


def test_tag_rollup_is_equi_join(spark):
    """The tree rollup must be the ancestor-explode equi-join, never the
    CartesianProduct a raw startswith prefix join plans — and the
    '/'-segment semantics must not let 'a' claim 'ab'."""
    from sosse_spark.operators.search import tag_rollup

    tags = spark.createDataFrame(
        [("t1", "a"), ("t2", "a/b"), ("t3", "ab")], "tag_id string, path string"
    )
    doc_tags = spark.createDataFrame(
        [("u1", "t2"), ("u2", "t3")], "url string, tag_id string"
    )
    out = tag_rollup(tags, doc_tags)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    got = {r.tag_id: r.rolled_count for r in out.collect()}
    assert got == {"t1": 1, "t2": 1, "t3": 1}  # 'ab' does NOT roll into 'a'


def test_phash_hamming_equi_join_and_recall(spark):
    """Image phash near-dup: pigeonhole chunk join must be an equi-join
    (no all-pairs), and recall must be 1 at the requested distance by
    construction — adversarial pairs with differing bits spread across
    chunks included."""
    from sosse_spark.operators.dedup import phash_hamming_pairs

    base = 0x0F0F0F0F0F0F0F0
    rows = [
        (0, base),
        (1, base),  # hamming 0
        (2, base ^ (1 << 3)),  # hamming 1
        (3, base ^ (1 << 3) ^ (1 << 25) ^ (1 << 50)),  # 3 bits across 3 chunks
        (4, base ^ 0x5555555),  # far away
    ]
    df = spark.createDataFrame(rows, "img_id long, phash long")
    out = phash_hamming_pairs(df, "phash", "img_id", max_hamming=3, n_bits=60)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert got == {(0, 1): 0, (0, 2): 1, (1, 2): 1, (0, 3): 3, (1, 3): 3, (2, 3): 2}


def test_assign_ids_no_global_window(spark):
    """Scale shape: id assignment must not funnel all rows through one
    task (no empty-partition-spec Window / single-partition sort)."""
    from sosse_spark.operators.frontier import assign_ids

    rows = [(f"u{i}", (i * 7) % 100, i % 4) for i in range(200)]
    df = spark.createDataFrame(rows, "url string, disc_order long, bucket int")
    out = assign_ids(df, 3, n_parts=8)
    plan = _plan(out)
    # every window in the plan must be partitioned (by _pid) — an
    # empty-partition-spec Window would pull all rows through one task
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "_pid" in line
    # determinism + exact global-rank semantics preserved
    got = {r["url"]: r["id"] for r in out.collect()}
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    for rank, r in enumerate(ranked, start=1):
        assert got[r[0]] == (3 << 32) + rank


def test_assign_ids_base_rank_offsets(spark):
    from sosse_spark.operators.frontier import assign_ids

    df = spark.createDataFrame([("a", 1), ("b", 2)], "url string, disc_order long")
    got = sorted(r["id"] for r in assign_ids(df, 1, base_rank=5).collect())
    assert got == [(1 << 32) + 6, (1 << 32) + 7]


def test_assign_ids_exact_past_the_range_sample(spark):
    """Inputs larger than the range partitioner's boundary sample (~60
    rows per input partition at n_parts=4): the offsets and the local
    ranks must come from the same range cut, so ids are exactly
    1..n in (disc_order, url) order — no duplicates, no gaps."""
    from sosse_spark.operators.frontier import assign_ids

    n = 2000
    df = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        ((F.col("id") * 7919) % 997).alias("disc_order"),
    )
    got = {r["url"]: r["id"] for r in assign_ids(df, 2, n_parts=4).collect()}
    ranked = sorted((i * 7919 % 997, f"u{i}") for i in range(n))
    assert got == {url: (2 << 32) + rank for rank, (_, url) in enumerate(ranked, start=1)}


def test_cookie_match_is_equi_join(spark):
    """P18 jar matching must plan as an equi-join on suffix==domain
    (the thin suffix-explode side, bounded fan-out) — never a
    cartesian/nested-loop over jar x URLs (the jar is 10^8 rows at
    fleet scale)."""
    from datetime import datetime

    from sosse_spark.operators.cookies import match_cookies

    jar = spark.createDataFrame(
        [("d%d.example.com" % i, None, i % 2 == 0, "n", "v", "/", None, False, "Lax", False)
         for i in range(20)],
        "domain string, domain_cc string, inc_subdomain boolean, name string, "
        "value string, path string, expires timestamp, secure boolean, "
        "same_site string, http_only boolean",
    )
    urls = spark.createDataFrame(
        [("http://sub.d%d.example.com/p" % i,) for i in range(50)], "url string"
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = match_cookies(jar, urls, F.lit(datetime(2024, 1, 2)).cast("timestamp"))
        plan = _plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # and the subdomain rows actually matched through the suffix explode
    assert out.count() == 10


def test_decontaminate_broadcasts_benchmark(spark):
    """The eval-set side of decontamination must broadcast (it is
    thousands of docs vs a corpus) and the collision join must be a
    digest equi-join — never a cartesian over text."""
    from sosse_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"tok{i} a b c d e f g h i j") for i in range(50)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(1, "a b c d e f g h")], "bench_id long, text string")
    plan = _plan(decontaminate(docs, bench))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_pure_filter(spark):
    """Deterministic sampling adds NO exchange — it is a pushed-down
    row filter, not a shuffle (DataFrame.sample-style RNG would also be
    partition-order dependent; the md5 rule is neither)."""
    from sosse_spark.operators.sampling import stratified_sample

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("st")
    )
    plan = _plan(stratified_sample(docs, "st", {"a": 0.5}))
    assert "Exchange" not in plan


def test_fts_rank_order_bounded_topk(spark):
    """fts_rank_order must compute its top slice via
    TakeOrderedAndProject (parallel partial top-k), never a
    single-partition global Sort of the full match set (round-4
    verdict "what's wrong" #2).  The row_number window that assigns
    `pos` may only ever see <= max_results rows, i.e. it must sit
    ABOVE the limit in the plan."""
    from sosse_spark.operators.fts import fts_rank_order

    docs = spark.createDataFrame(
        [(i, f"spark doc {i} spark") for i in range(200)], "doc_id long, text string"
    )
    out = fts_rank_order(docs, "spark", max_results=10)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    # the global window's sort must come AFTER (above) the bounded
    # top-k, never directly over the unbounded filter output
    take_pos = plan.index("TakeOrderedAndProject")
    first_sort = plan.find("Sort ")
    assert first_sort == -1 or first_sort < take_pos  # Sort above limit only
    rows = out.collect()
    assert len(rows) == 10
    # order embedded in pos: top rank first, id tiebreak
    by_pos = sorted(rows, key=lambda r: r.pos)
    ranks = [r.rank_lite for r in by_pos]
    assert ranks == sorted(ranks, reverse=True)


def test_urlseen_dedup_single_pass_semi_filtered(spark):
    """The exact anti-join's seen side must be the hash-SEMI-FILTERED
    slice of the frontier, and the whole dedup must be a single pass:
    exactly one LeftAnti (the old definitely-new/suspects split ran the
    bloom-probe DAG twice and shuffled the full frontier's URL strings
    per round), with a LeftSemi on url_hash feeding its right side."""
    from sosse_spark.operators.frontier import bloom_build, urlseen_dedup, with_bucket

    cands = with_bucket(
        spark.createDataFrame(
            [(f"http://h/{i}", 1, 0, i, "h", "/p") for i in range(50)],
            "url string, collection_id int, crawl_recurse int, disc_order long, "
            "url_domain string, url_path string",
        ),
        4,
    )
    frontier = with_bucket(
        spark.createDataFrame(
            [(f"http://h/{i}", 1, "FATPAYLOAD") for i in range(0, 50, 2)],
            "url string, collection_id int, fat string",
        ),
        4,
    )
    bloom = bloom_build(frontier, None, m_bits=1 << 16)
    out = urlseen_dedup(cands, frontier, bloom, m_bits=1 << 16)
    plan = _plan(out)
    assert plan.count("LeftAnti") == 1
    assert "LeftSemi" in plan
    # the seen slice ships only (url, collection_id): payload columns
    # never ride the anti-join
    anti_section = plan[plan.find("LeftAnti") - 2000 : plan.find("LeftAnti") + 2000]
    assert "fat" not in anti_section
    # correctness of the slice: evens are seen, odds admitted
    urls = {r.url for r in out.collect()}
    assert urls == {f"http://h/{i}" for i in range(1, 50, 2)}


def test_select_batch_thin_rank_keeps_payload_off_windows(spark):
    """select_batch's politeness windows sort only the thin (id, host,
    priority) projection — the frontier's wide payload joins back by id
    via broadcast AFTER ranking (never rides the window shuffles) — and
    it claims the same ids as the full-width reference: per-host top-k
    over the whole eligible rows, then the global priority cut."""
    from datetime import datetime, timedelta

    from sosse_spark.operators.scheduler import (
        eligible_filter,
        per_host_topk,
        priority_order_cols,
        select_batch,
    )

    schema = (
        "id long, url string, url_domain string, crawl_last timestamp, "
        "crawl_next timestamp, manual_crawl boolean, worker_no int, "
        "retries int, fat string"
    )
    frontier = spark.createDataFrame(
        [
            (i, f"u{i}", f"h{i % 3}", None, None, False, None, 0, "X" * 10)
            for i in range(30)
        ],
        schema,
    )
    now = F.lit("2024-01-03 00:00:00").cast("timestamp")
    out = select_batch(frontier, now, batch_size=9, per_host_budget=5)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    # every Window/Sort below the join must not reference url or fat
    for marker in ("Window",):
        idx = plan.find(marker)
        assert idx != -1
        section = plan[idx : idx + 1500]
        assert "fat" not in section
    assert len(out.collect()) == 9

    # hot host: 120 of 160 rows on one domain; priority ties on
    # crawl_last/crawl_next leave only `id` to break them, and some rows
    # are ineligible (claimed by a worker, retried out, not due yet)
    day = datetime(2024, 1, 1)
    hot = spark.createDataFrame(
        [
            (
                i,
                f"http://x/{i}",
                "hot" if i < 120 else f"cold{i % 7}",
                None if i % 4 == 0 else day + timedelta(hours=i % 2),
                day + timedelta(days=i % 4),
                i % 17 == 0,
                1 if i % 23 == 0 else None,
                2 if i % 29 == 0 else 0,
                "X" * 10,
            )
            for i in range(160)
        ],
        schema,
    )
    eligible = hot.filter(eligible_filter(now))
    for batch_size, budget in ((9, 5), (25, 40), (60, 12)):
        got = select_batch(hot, now, batch_size, budget)
        ref = (
            per_host_topk(eligible, "url_domain", priority_order_cols(), budget)
            .orderBy(*priority_order_cols())
            .limit(batch_size)
        )
        got_ids = {r.id for r in got.collect()}
        assert got_ids == {r.id for r in ref.collect()}, (batch_size, budget)
        assert 0 < len(got_ids) <= batch_size


def test_pii_scrub_zero_exchange(spark):
    """PII scrub is one codegen'd projection — no shuffle, no UDF, no
    python boundary anywhere in the plan."""
    from sosse_spark.functions.text import pii_scrub

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a@b.io x"), F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(pii_scrub(docs))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "*(1)" in plan  # whole-stage codegen'd single stage


def test_unigram_logprob_broadcast_vocab_topk(spark):
    """The unigram-LM scoring join must BROADCAST the bounded vocab
    (never shuffle the token stream against it), the top-V cut must be
    TakeOrderedAndProject (parallel partial top-k, no global sort of
    the vocabulary), and both aggregations must have map-side partial
    phases."""
    from sosse_spark.functions.text import unigram_logprob

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the cat sat w"), F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(unigram_logprob(docs, vocab_size=10))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # partial_count before the exchange = map-side combine
    assert "partial_count" in plan


def test_gopher_repetition_two_hash_aggs(spark):
    """Gopher repetition is (doc,n,gram)-keyed then doc-keyed hash
    aggregation — no window, no python stage, and map-side partial
    aggregation on the gram counts."""
    from sosse_spark.functions.text import gopher_repetition

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b a b c"), F.col("id").cast("string")).alias("text"),
    )
    root = gopher_repetition(docs)._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    kinds = [n.getClass().getSimpleName() for n in walk(root)]
    assert not any("Window" in k for k in kinds)
    assert not any("Python" in k or "ArrowEval" in k for k in kinds)
    # map-side partial phases double the HashAggregate count: the
    # (doc,n,gram) count agg and the per-doc conditional agg each plan
    # as partial+final (4 HashAggregates total, no sort-based agg)
    assert sum(k == "HashAggregateExec" for k in kinds) >= 4
    assert not any("SortAggregate" in k for k in kinds)


def test_fts_words_view_single_agg_no_window(spark):
    """/words is ONE (doc,word)-keyed aggregation with a map-side
    partial phase — no window, no second exchange above the agg."""
    from sosse_spark.operators.fts import fts_words_view

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b a"), F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(fts_words_view(docs))
    assert "Window" not in plan
    assert "partial_" in plan
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE wrapper variance)


def test_phrase_lexeme_filter_zero_exchange(spark):
    """The lexeme phrase filter stays a per-row predicate: filtering a
    corpus by phrase adds no exchange before the bounded top-k."""
    from sosse_spark.operators.fts import fts_rank_order_pg

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("table hash x"), F.col("id").cast("string")).alias("text"),
    )
    out = fts_rank_order_pg(docs, '"table hash"', id_col="doc_id",
                            max_results=10, phrase_mode="lexeme")
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    take_pos = plan.index("TakeOrderedAndProject")
    first_sort = plan.find("Sort ")
    assert first_sort == -1 or first_sort < take_pos


def test_semantic_dedup_cell_exchange_is_thin(spark):
    """The within-cluster self-join must shuffle only (id, cell)
    scalars — at corpus scale the vectors ARE the data; they join back
    once for the exact verify (same rule as the minhash/ngram bands)."""
    from sosse_spark.operators.similarity import semantic_dedup

    vecs = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 5 + 1), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = semantic_dedup(vecs, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], threshold=0.99)
        root = out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    cell_exchanges = 0
    for node in walk(root):
        name = node.getClass().getSimpleName()
        assert "CartesianProduct" not in name and "BroadcastNestedLoopJoin" not in name
        if "ShuffleExchange" not in name:
            continue
        if "cell" not in node.outputPartitioning().toString():
            continue
        cell_exchanges += 1
        cols = node.child().output()
        names = [cols.apply(i).name() for i in range(cols.size())]
        assert "embedding" not in names and "_va" not in names and "_vb" not in names, (
            f"vector column rides the cell exchange: {names}"
        )
    assert cell_exchanges >= 1


def test_pack_sequences_no_global_window(spark):
    """Packing must not funnel the corpus through one task: every window
    is partitioned by pack_group (one hash exchange, per-group cumsum)."""
    from sosse_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, (i * 13) % 300 + 1) for i in range(100)], "doc_id long, n_tokens int"
    )
    out = pack_sequences(docs, budget=256, n_groups=16)
    plan = _plan(out)
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "pack_group" in line
    assert "SinglePartition" not in plan


def test_chunk_documents_zero_exchange(spark):
    """Chunking must stay a narrow Generate pipelined with the scan —
    no shuffle, no UDF boundary."""
    from sosse_spark.operators.sampling import chunk_documents

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(chunk_documents(docs, max_tokens=4, overlap=1))
    assert "Exchange" not in plan
    assert "Generate" in plan
    assert "Python" not in plan  # no UDF boundary


def test_dedup_substring_thin_window_exchanges(spark):
    """Exact-substring dedup must never shuffle document text through
    the window-digest plumbing: every exchange partitioned by the
    window hash `h` or by (_id, pos) carries scalars only (no toks
    array, no text), and no pair join exists anywhere."""
    from sosse_spark.operators.dedup import dedup_substring

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} epsilon zeta eta theta common tail run here") for i in range(30)],
        "doc_id long, text string",
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = dedup_substring(docs, k=4)
        root = out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    h_exchanges = 0
    for node in walk(root):
        name = node.getClass().getSimpleName()
        assert "CartesianProduct" not in name and "BroadcastNestedLoopJoin" not in name
        if "ShuffleExchange" not in name:
            continue
        part = node.outputPartitioning().toString()
        if "h#" not in part and "h " not in part:
            continue
        h_exchanges += 1
        cols = node.child().output()
        names = [cols.apply(i).name() for i in range(cols.size())]
        assert "toks" not in names and "text" not in names, (
            f"payload rides the window-hash exchange: {names}"
        )
    assert h_exchanges >= 1


def test_curate_single_agg_no_join_pure_jvm(spark):
    """Image+caption curation is explode_outer -> ONE image_id-keyed hash
    aggregation (metadata rides via first()) -> fixed-width vector
    algebra: one shuffle, zero joins, zero python, codegen throughout."""
    from sosse_spark.operators.curation import curate_image_captions

    imgs = spark.range(40).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        F.lit(64).alias("w"),
        F.lit(48).alias("h"),
        F.lit("png").alias("fmt"),
        F.concat(F.lit("amber basalt cedar dune w"), F.col("id").cast("string")).alias(
            "caption"
        ),
        (F.col("id") * 2654435761).alias("phash"),
    )
    # the vector algebra blows past the 4096-char plan-string cap, so
    # walk nodes instead of grepping (CLAUDE.md plan-test rule)
    root = curate_image_captions(imgs)._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    kinds = [n.getClass().getSimpleName() for n in walk(root)]
    assert not any("Join" in k or "Cartesian" in k for k in kinds)
    assert not any("Python" in k or "ArrowEval" in k for k in kinds)
    assert sum("Exchange" in k for k in kinds) <= 2  # the one agg shuffle
    # partial+final pair = map-side combine on the 15 sums
    assert sum(k == "HashAggregateExec" for k in kinds) >= 2
    assert not any("SortAggregate" in k for k in kinds)


def test_dsir_broadcast_ratio_and_topk(spark):
    """DSIR: the per-doc scoring join against the <=B-row ratio table
    must BROADCAST (never shuffle the feature stream on bucket), and the
    Gumbel top-k must be TakeOrderedAndProject — no global sort, no
    cartesian, no python anywhere."""
    from sosse_spark.operators.sampling import dsir_gumbel_topk, dsir_weights

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma w"), F.col("id").cast("string")).alias("text"),
    )
    target = docs.filter(F.col("doc_id") % 2 == 0)
    plan = _plan(dsir_gumbel_topk(dsir_weights(docs, target, n_buckets=64), k=10))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "partial_count" in plan  # map-side combine on the bucket counts


def test_bucket_batches_broadcast_offsets_salted_window(spark):
    """Aspect-bucket batch assembly: the offsets table joins back by
    BROADCAST (the corpus never shuffles for it), ranking windows are
    salted — partitioned by (bucket_id, _salt), never bucket alone — and
    the whole pipeline is JVM-side with no global single-partition sort."""
    from sosse_spark.operators.curation import assign_aspect_buckets, bucket_batches

    imgs = spark.range(80).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        (32 + F.pmod(F.col("id"), 7) * 32).cast("int").alias("w"),
        (32 + F.pmod(F.col("id"), 5) * 40).cast("int").alias("h"),
        F.lit("png").alias("fmt"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("caption"),
        (F.col("id") * 2654435761).alias("phash"),
    )
    out = bucket_batches(assign_aspect_buckets(imgs), batch_size=8, salt_buckets=16)
    root = out._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    nodes = list(walk(root))
    kinds = [n.getClass().getSimpleName() for n in nodes]
    assert any("BroadcastHashJoin" in k for k in kinds)
    assert not any("SortMergeJoin" in k or "Cartesian" in k for k in kinds)
    assert not any("Python" in k or "ArrowEval" in k for k in kinds)
    # every WindowExec over the corpus partitions by (bucket_id, _salt);
    # the lone bucket-only window runs on the tiny counts aggregate
    for n, k in zip(nodes, kinds):
        if k != "WindowExec":
            continue
        desc = n.simpleString(120)
        if "_salt" not in desc:
            # must sit above the counts HashAggregate, not the corpus scan
            sub = [m.getClass().getSimpleName() for m in walk(n)]
            assert "HashAggregateExec" in sub, f"unsalted corpus window: {desc}"
    # no single-partition exchange anywhere (the offsets frame is tiny
    # but even it stays hash-partitioned)
    for n, k in zip(nodes, kinds):
        if "Exchange" in k:
            assert "SinglePartition" not in n.simpleString(200), n.simpleString(200)


def test_wds_shard_plan_zero_joins_bounded_windows(spark):
    """Shard packing: the salt-count table folds into a literal offset
    array so the plan has ZERO joins; ranking windows partition by _salt
    (parallelism knob) and the byte-offset window by shard_id (bounded at
    samples_per_shard rows per partition); all JVM-side, no
    single-partition exchange."""
    from sosse_spark.operators.curation import wds_shard_plan

    imgs = spark.range(200).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        (32 + F.pmod(F.col("id"), 7) * 32).cast("int").alias("w"),
        (32 + F.pmod(F.col("id"), 5) * 40).cast("int").alias("h"),
        F.lit("png").alias("fmt"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("caption"),
        (F.col("id") * 2654435761).alias("phash"),
    )
    out = wds_shard_plan(imgs, samples_per_shard=16, salt_buckets=8)
    root = out._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    nodes = list(walk(root))
    kinds = [n.getClass().getSimpleName() for n in nodes]
    assert not any("Join" in k or "Cartesian" in k for k in kinds)
    assert not any("Python" in k or "ArrowEval" in k for k in kinds)
    for n, k in zip(nodes, kinds):
        if k == "WindowExec":
            desc = n.simpleString(120)
            assert "_salt" in desc or "shard_id" in desc, desc
        if "Exchange" in k:
            assert "SinglePartition" not in n.simpleString(200), n.simpleString(200)


def _walk_nodes(df):
    root = df._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    return list(walk(root))


def test_script_profile_zero_exchange(spark):
    """Script profiling is one codegen'd projection — no shuffle, no
    join, no Python boundary (SURVEY's 100 TB shape claim)."""
    from sosse_spark.functions.text import script_profile

    docs = spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("abc привет "), F.col("id").cast("string")).alias("text"),
    )
    kinds = [n.getClass().getSimpleName() for n in _walk_nodes(script_profile(docs))]
    assert not any("Exchange" in k or "Join" in k or "Python" in k for k in kinds)


def test_c4_span_dedup_thin_span_exchange(spark):
    """The span-occurrence shuffle carries only (md5, id, p) — never
    sentence text or the staged sentence array; and nothing in the
    plan is a cartesian/broadcast-nested-loop join."""
    from sosse_spark.operators.dedup import c4_span_dedup

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("u"), F.col("id").cast("string"),
            F.lit(" one. common a. common b. common c. tail."),
        ).alias("text"),
    )
    nodes = _walk_nodes(c4_span_dedup(docs))
    kinds = [n.getClass().getSimpleName() for n in nodes]
    assert not any("Cartesian" in k or "BroadcastNestedLoop" in k for k in kinds)
    saw_span_exchange = False
    for n, k in zip(nodes, kinds):
        if "ShuffleExchange" not in k:
            continue
        out = n.output()
        names = [out.apply(i).name() for i in range(out.size())]
        if "h" in names:
            assert "sent" not in names and "_sents" not in names, names
            assert len(names) <= 4, names
            saw_span_exchange = True
        # the staged sentence ARRAY never rides any exchange
        assert "_sents" not in names, names
    assert saw_span_exchange


def test_ccnet_buckets_no_cartesian_and_broadcast_nlang(spark):
    """The tertile cut joins the 1-row-per-language count via
    broadcast; nothing in the bigram-LM + bucket plan is a cartesian
    product (the per-doc scores join thin hash keys only)."""
    from sosse_spark.functions.text import ccnet_ppl_buckets

    docs = spark.range(24).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 5).cast("string"), F.lit(" common words here")).alias("text"),
        F.concat(F.lit("l"), (F.col("id") % 2).cast("string")).alias("lang"),
    )
    kinds = [
        n.getClass().getSimpleName() for n in _walk_nodes(ccnet_ppl_buckets(docs))
    ]
    assert not any("Cartesian" in k for k in kinds)
    assert any("BroadcastHashJoin" in k for k in kinds)
    assert not any("Python" in k or "ArrowEval" in k for k in kinds)


def test_preview_batch_is_narrow_python_stage(spark):
    """Preview extraction pipelines with the scan: one Arrow mapInPandas
    stage, no shuffle, no join — the same narrow shape as the P2 walk;
    the thumbnail geometry is pure JVM column algebra (no Python)."""
    from sosse_spark.operators.preview import preview_batch, thumb_size_cols

    pages = spark.range(12).select(
        F.concat(F.lit("http://h/p/"), F.col("id").cast("string")).alias("url"),
        F.concat(
            F.lit('<meta property="og:image" content="/i/'),
            F.col("id").cast("string"),
            F.lit('.png">'),
        ).alias("content"),
    )
    kinds = [n.getClass().getSimpleName() for n in _walk_nodes(preview_batch(pages))]
    assert not any("Exchange" in k or "Join" in k for k in kinds)
    assert any("MapInPandas" in k or "Python" in k for k in kinds)

    geom = spark.range(12).select(
        (F.col("id") % 300 + 1).alias("w"), (F.col("id") % 200 + 1).alias("h")
    )
    tw, th = thumb_size_cols(F.col("w"), F.col("h"))
    kinds2 = [
        n.getClass().getSimpleName()
        for n in _walk_nodes(geom.select(tw.alias("tw"), th.alias("th")))
    ]
    assert not any("Exchange" in k or "Python" in k or "Join" in k for k in kinds2)


def test_unimax_planning_joins_broadcast(spark):
    """UniMax: the documents shuffle once (the language agg — map-side
    combinable); the three planning frames (totals, first-uncapped rank,
    capped prefix sum — 1-row each) join back by BROADCAST nested loop;
    nothing is a cartesian/sort-merge join and nothing crosses into
    Python.  The single-partition window only ever sees the K-language
    aggregate, never documents."""
    from sosse_spark.operators.sampling import unimax_allocation

    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 5).cast("string")).alias("lang"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    out = unimax_allocation(docs, total_budget=200.0, max_epochs=3.0, weight_col="w")
    kinds = [n.getClass().getSimpleName() for n in _walk_nodes(out)]
    assert not any("Cartesian" in k for k in kinds)
    assert not any("SortMergeJoin" in k or "ShuffledHashJoin" in k for k in kinds)
    assert not any("Python" in k or "ArrowEval" in k for k in kinds)
    # 3 planning crossJoins in the main chain; the 1-row aggregates
    # re-derive upstream subtrees (K-row recompute, deliberately cheap)
    assert sum(1 for k in kinds if "BroadcastNestedLoop" in k) >= 3
    assert any("HashAggregate" in k for k in kinds)  # map-side combine on sizes


def test_corpus_line_dedup_digest_join_no_cartesian(spark):
    """RefinedWeb line dedup: the corpus-frequency verdict must flow
    through hash equi-joins keyed on the md5 digest — never a
    cartesian/broadcast-nested-loop — and no global window anywhere.
    (Node walk, not toString grep: conftest caps plan strings at 4096
    chars, so absent-node asserts on long plans would be vacuous.)"""
    from sosse_spark.operators.dedup import corpus_line_dedup

    docs = spark.createDataFrame(
        [(i, f"line one {i}\nshared banner\nline two {i}") for i in range(10)],
        "doc_id long, text string",
    )
    kinds = [n.getClass().getSimpleName() for n in _walk_nodes(corpus_line_dedup(docs, "doc_id", "text"))]
    assert not any("Cartesian" in k for k in kinds)
    assert not any("BroadcastNestedLoop" in k for k in kinds)
    assert not any(k.startswith("Window") for k in kinds)


def test_sq8_scan_side_is_codes_only(spark):
    """SQ8 ANN: the mapInPandas scan must read only (_id, codes) — the
    float vectors may appear ONLY in the bounded exact re-rank joins,
    and the query side of those joins broadcasts."""
    import numpy as np

    from sosse_spark.operators.similarity import sq_topk, sq_train

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng.standard_normal((30, 4)).tolist())],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 2").selectExpr("vec_id as query_id", "embedding")
    bounds = sq_train(emb)
    kinds = [n.getClass().getSimpleName() for n in _walk_nodes(sq_topk(emb, q, bounds, k=3))]
    assert not any("Cartesian" in k for k in kinds)
    assert not any("BroadcastNestedLoop" in k for k in kinds)
    assert any("BroadcastHashJoin" in k for k in kinds)  # query vectors broadcast into re-rank


def test_char_entropy_two_hash_aggs_no_window(spark):
    """Entropy is two map-side-combining hash aggregations — no window,
    no cartesian; the prefix bound keeps the explode linear."""
    from sosse_spark.functions.text import char_entropy

    docs = spark.createDataFrame(
        [(i, f"some text {i}") for i in range(10)], "doc_id long, text string"
    )
    kinds = [n.getClass().getSimpleName() for n in _walk_nodes(char_entropy(docs, "doc_id", "text"))]
    assert not any(k.startswith("Window") for k in kinds)
    assert not any("Cartesian" in k for k in kinds)
    assert sum("HashAggregate" in k for k in kinds) >= 4  # 2 aggs x partial+final


# Spark jobs of the steady-state round below, measured once every hub
# frame executed once and probes over one frame shared a job (52 before
# that), and select_batch stopped sorting its claim (42 before that: the
# sort's range-boundary sampling job).  A new action over an
# unmaterialized upstream, or a probe split back out of its shared job,
# pushes the count past this.
CRAWL_ROUND_JOB_BUDGET = 41


def test_crawl_round_job_budget(spark, tmp_root):
    """A steady-state crawl round (links found, new URLs admitted, img3
    links kept as pending externs) stays within its Spark job budget,
    counted through the status tracker under one job group."""
    from datetime import datetime, timedelta

    from sosse_spark.operators.admission import CollectionPolicy
    from sosse_spark.sources.webgraph import WebConfig, url_of
    from sosse_spark.streaming.crawl_loop import CrawlEngine

    web = WebConfig(n_docs=40, n_hosts=4)
    policy = CollectionPolicy(
        collection_id=1,
        unlimited_regex=r"^http://img[0-2]\.example\.com/",  # img3 = extern
        recursion_depth=2,
        keep_params=False,
        recrawl_freq="adaptive",
    )
    eng = CrawlEngine(spark, tmp_root, web, policy, n_buckets=4, batch_size=12, per_host_budget=6)
    t0 = datetime(2024, 1, 1)
    eng.seed([url_of(i, web) for i in (2, 11, 15, 1)], t0)
    eng.run_round(t0)  # cold round: robots rules and favicons fetched here
    sc = spark.sparkContext
    group = "test_crawl_round_job_budget"
    sc.setJobGroup(group, "steady-state run_round")
    try:
        m = eng.run_round(t0 + timedelta(minutes=1))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    eng.close()
    assert m is not None and m["links_extracted"] > 0 and m["new_urls"] > 0
    assert eng.pending_externs.read(spark) is not None
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= CRAWL_ROUND_JOB_BUDGET, f"{n_jobs} jobs per round"
