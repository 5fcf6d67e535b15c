"""End-to-end BSP crawl: the analog of se/test_crawl.py driven to
quiescence over the deterministic synthetic web (webgraph ≙ BrowserMock).

Pins down: frontier membership (URL-seen), robots rejection of /private
paths on robots-serving hosts, redirect + error bookkeeping, adaptive
rescheduling, per-round determinism, checkpoint resume, and the
BASELINE.json per-row invariant (decoded-pixel PSNR≥40 / exact for
lossless + caption equality).
"""

from datetime import datetime, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from sosse_spark.functions.images import decode_image, psnr, render_pattern
from sosse_spark.operators.admission import CollectionPolicy
from sosse_spark.sources.corpus import caption_for, dims_for
from sosse_spark.sources.webgraph import WebConfig, host_no, url_of
from sosse_spark.streaming.crawl_loop import METRICS_SCHEMA, CrawlEngine

T0 = datetime(2024, 1, 1, 0, 0, 0)
WEB = WebConfig(n_docs=40, n_hosts=4)
POLICY = CollectionPolicy(
    collection_id=1,
    unlimited_regex=r"^http://img[0-9]+\.example\.com/",
    recursion_depth=2,
    keep_params=False,
    recrawl_freq="adaptive",
    recrawl_dt_min=3600,
    recrawl_dt_max=3 * 3600,
)


def _engine(spark, root):
    return CrawlEngine(
        spark, root, WEB, POLICY, n_buckets=4, batch_size=32, per_host_budget=8
    )


# seeds picked for rich out-link fan-out (i%4==3 ⇒ 3 links/page) while
# avoiding the error-injected indexes; url_of(1) adds a redirect chain
SEEDS = [url_of(2, WEB), url_of(11, WEB), url_of(15, WEB), url_of(1, WEB)]


def _run(spark, root, max_rounds=12):
    eng = _engine(spark, root)
    eng.seed(SEEDS, T0)
    metrics = eng.run_until_quiescent(T0, timedelta(minutes=1), max_rounds=max_rounds)
    return eng, metrics


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl"))
    eng, metrics = _run(spark, root)
    return eng, metrics


def test_reaches_quiescence_and_metrics(crawl, spark):
    eng, metrics = crawl
    assert 1 < len(metrics) < 12, "should quiesce before max_rounds"
    assert metrics[0]["batch"] == len(SEEDS)
    assert all(m["urls_per_sec"] > 0 for m in metrics)
    # the persisted rows: declared schema, and `t` is the injected
    # logical clock exactly (no type or time-zone drift on the write)
    table = eng.metrics.read(spark)
    assert table.schema == METRICS_SCHEMA
    rows = sorted(table.collect(), key=lambda r: r["round_no"])
    assert [r["round_no"] for r in rows] == [m["round_no"] for m in metrics]
    assert [r["t"] for r in rows] == [T0 + timedelta(minutes=i) for i in range(len(metrics))]
    assert [r["new_urls"] for r in rows] == [m["new_urls"] for m in metrics]


def test_urlseen_unique(crawl, spark):
    eng, _ = crawl
    frontier = eng.frontier.read(spark)
    total = frontier.count()
    assert total == frontier.select("url", "collection_id").distinct().count()
    assert total > 2  # links were discovered and admitted


def test_frontier_all_crawled_and_rescheduled(crawl, spark):
    eng, _ = crawl
    frontier = eng.frontier.read(spark)
    uncrawled = frontier.filter(F.col("crawl_last").isNull()).count()
    assert uncrawled == 0, "quiescence implies every admitted URL was claimed"
    # adaptive reschedule: successful non-rejected rows have crawl_next
    ok = frontier.filter(
        ~F.col("robotstxt_rejected") & F.col("error").isNull() & F.col("redirect_url").isNull()
    )
    assert ok.filter(F.col("crawl_next").isNull()).count() == 0
    assert ok.filter(F.col("crawl_dt") == 3600).count() == ok.count()  # first crawl → dt_min


def test_robots_rejection(crawl, spark):
    """Hosts with host_no%4==0 serve robots disallowing /private*
    (webgraph.robots_body); those URLs must be rejected, never fetched."""
    eng, _ = crawl
    frontier = eng.frontier.read(spark)
    rejected = frontier.filter(F.col("robotstxt_rejected"))
    for r in rejected.collect():
        assert "/private/" in r["url"]
        assert r["url_domain"] == "img0.example.com"
        assert r["crawl_next"] is None  # parity: se/document.py:749-761
    docs = eng.documents.read(spark)
    fetched_private = docs.filter(F.col("url").contains("img0.example.com/private")).count()
    assert fetched_private == 0
    # /private on non-robots hosts IS crawled (no rules there)
    priv_other = frontier.filter(
        F.col("url").contains("/private/") & (F.col("url_domain") != "img0.example.com")
    )
    if priv_other.count():
        assert priv_other.filter(F.col("robotstxt_rejected")).count() == 0


def test_errors_and_redirects_recorded(crawl, spark):
    eng, _ = crawl
    frontier = eng.frontier.read(spark)
    errs = frontier.filter(F.col("error").isNotNull()).collect()
    for r in errs:
        assert r["error_hash"] is not None
    # doc index 3 errors (error_mod 100 → i%100==3), if admitted
    if any("000000000003" in r["url"] for r in frontier.collect()):
        assert any("000000000003" in r["url"] for r in errs)
    redirs = frontier.filter(F.col("redirect_url").isNotNull())
    for r in redirs.collect():
        assert r["redirect_url"] != r["url"]


def test_payload_invariants(crawl, spark):
    """BASELINE.json per-row invariant: decoded pixels allclose
    (exact for png/bmp, PSNR≥40 for lossy) + caption equality."""
    eng, _ = crawl
    docs = eng.documents.read(spark).collect()
    assert len(docs) > 2
    for d in docs:
        i = int(d["image_id"].split("-")[1])
        ref = render_pattern(i, *dims_for(i))
        px = decode_image(bytes(d["bytes"]), d["fmt"])
        if d["fmt"] in ("png", "bmp"):
            assert np.array_equal(px, ref)
        else:
            assert psnr(ref, px) >= 40.0
        assert d["caption"] == caption_for(i)


def test_links_recorded_with_ordinals(crawl, spark):
    eng, _ = crawl
    links = eng.links.read(spark)
    assert links.count() > 0
    # link_no ordinals start at 0 per page (se/page.py:173-179 semantics)
    per_src = links.groupBy("src_url").agg(F.min("link_no").alias("mn"))
    assert per_src.filter(F.col("mn") != 0).count() == 0


def test_resume_from_checkpoint_and_determinism(spark, tmp_path_factory, crawl):
    """Kill after 2 rounds, reopen from LATEST in a NEW engine, finish:
    the final state equals the uninterrupted run's exactly — urls, ids,
    crawl timestamps, lineage — which proves both the checkpoint-resume
    path (north rule) and cross-process determinism in one run."""
    eng_full, _ = crawl
    root = str(tmp_path_factory.mktemp("crawl3"))
    eng_a = _engine(spark, root)
    eng_a.seed(SEEDS, T0)
    t = T0
    for _ in range(2):
        m = eng_a.run_round(t)
        assert m is not None
        t += timedelta(minutes=1)
    # simulate crash: new engine object over the same root (reads LATEST)
    eng_b = _engine(spark, root)
    assert eng_b.round_no() == 3
    eng_b.run_until_quiescent(t, timedelta(minutes=1), max_rounds=10)

    key = lambda r: (r["url"], r["id"], r["crawl_last"], r["crawl_next"], r["crawl_dt"])  # noqa: E731
    f_resumed = {key(r) for r in eng_b.frontier.read(spark).collect()}
    f_full = {key(r) for r in eng_full.frontier.read(spark).collect()}
    assert f_resumed == f_full
    d1 = {(r["url"], r["round_no"]) for r in eng_full.documents.read(spark).collect()}
    d2 = {(r["url"], r["round_no"]) for r in eng_b.documents.read(spark).collect()}
    assert d1 == d2


def test_recrawl_second_pass_doubles_dt(spark, tmp_path_factory):
    """Advance the clock past crawl_next: unchanged content doubles
    crawl_dt (1h→2h), matching se/test_crawl.py:292-335."""
    root = str(tmp_path_factory.mktemp("crawl4"))
    eng = _engine(spark, root)
    eng.seed([url_of(2, WEB)], T0)
    eng.run_until_quiescent(T0, timedelta(minutes=1), max_rounds=5)
    f1 = {r["url"]: r for r in eng.frontier.read(spark).collect()}
    t2 = T0 + timedelta(hours=2)
    eng.run_until_quiescent(t2, timedelta(minutes=1), max_rounds=5)
    f2 = {r["url"]: r for r in eng.frontier.read(spark).collect()}
    doubled = [
        (u, r2["crawl_dt"])
        for u, r2 in f2.items()
        if u in f1
        and f1[u]["crawl_dt"] == 3600 and r2["crawl_last"] > f1[u]["crawl_last"]
        and f1[u]["error"] is None and f1[u]["redirect_url"] is None
        and not f1[u]["robotstxt_rejected"]
    ]
    assert doubled, "some URL should have been recrawled"
    assert all(dt == 7200 for _, dt in doubled)


def test_tags_persist_through_recrawl(spark, tmp_path_factory):
    """se/test_crawl.py:803-820: tags attached to a document survive a
    recrawl (crawl never writes the tags field)."""
    root = str(tmp_path_factory.mktemp("crawl_tags"))
    eng = _engine(spark, root)
    u = url_of(2, WEB)
    eng.seed([u], T0)
    eng.run_until_quiescent(T0, timedelta(minutes=1), max_rounds=5)
    eng.tag_urls([u], ["news", "archive"])
    tagged = {r["url"]: r["tags"] for r in eng.frontier.read(spark).collect()}
    assert tagged[u] == ["archive", "news"]

    before = {r["url"]: r for r in eng.frontier.read(spark).collect()}
    t2 = T0 + timedelta(hours=2)
    eng.run_until_quiescent(t2, timedelta(minutes=1), max_rounds=5)
    after = {r["url"]: r for r in eng.frontier.read(spark).collect()}
    assert after[u]["crawl_last"] > before[u]["crawl_last"], "row was recrawled"
    assert after[u]["tags"] == ["archive", "news"], "tags survive the recrawl"
    # idempotent re-tag unions, not duplicates
    eng.tag_urls([u], ["news", "fresh"])
    final = {r["url"]: r["tags"] for r in eng.frontier.read(spark).collect()}
    assert final[u] == ["archive", "fresh", "news"]
    # untagged rows stay null
    assert all(v is None for k, v in final.items() if k != u)


def test_crash_repair_drops_partial_round(spark, crawl):
    """Simulate a crash AFTER a docs append but BEFORE the frontier
    commit: the replaying engine must truncate the partial round's
    appends (exactly-once).  Runs last — it mutates and then repairs
    the module fixture's documents log."""
    import os

    from pyspark.sql import functions as F

    eng, _ = crawl
    r = eng.round_no()
    n_before = eng.documents.read(spark).count()
    fake = (
        eng.documents.read(spark)
        .limit(1)
        .withColumn("url", F.lit("http://fake/crashed-round-row"))
        .withColumn("round_no", F.lit(r))
    )
    eng.documents.append(spark, fake, r)
    assert eng.documents.read(spark).count() == n_before + 1

    root = os.path.dirname(eng.frontier.dir)
    eng2 = _engine(spark, root)
    assert eng2.run_round(T0 + timedelta(minutes=30)) is None  # quiescent, but repaired
    docs = eng2.documents.read(spark)
    assert docs.count() == n_before
    assert docs.filter(F.col("url") == "http://fake/crashed-round-row").count() == 0


def test_http_cache_gate_skips_fetch_until_max_age(spark, tmp_path_factory):
    """P12 (se/html_cache.py:56-99): a payload served with max-age must
    NOT be refetched while fresh (metrics count it as cache_hits, fetch
    count 0 for it), and MUST be refetched once the age exceeds max-age —
    aged against the payload download time, not the last revalidation."""
    root = str(tmp_path_factory.mktemp("cache"))
    pol = CollectionPolicy(
        collection_id=1,
        unlimited_regex=r"^http://img[0-9]+\.example\.com/",
        recursion_depth=0,
        recrawl_freq="constant",
        recrawl_dt_min=3600,
        recrawl_dt_max=3600,
    )
    eng = CrawlEngine(spark, root, WEB, pol, n_buckets=4, batch_size=8, per_host_budget=8)
    # url_of(12): 12%3==0 ⇒ server sends max-age=7200; url_of(16): none
    eng.seed([url_of(12, WEB), url_of(16, WEB)], T0)
    m1 = eng.run_round(T0)
    assert m1["success"] == 2 and m1["cache_hits"] == 0

    t1 = T0 + timedelta(seconds=3600)  # age 3600 < 7200: doc12 fresh
    m2 = eng.run_round(t1)
    assert m2["cache_hits"] == 1 and m2["success"] == 1

    t2 = T0 + timedelta(seconds=7200)  # age 7200 >= 7200: stale again
    m3 = eng.run_round(t2)
    assert m3["cache_hits"] == 0 and m3["success"] == 2

    f = {r["url"]: r for r in eng.frontier.read(spark).collect()}
    r12 = f[url_of(12, WEB)]
    assert r12["max_age"] == 7200
    # payload_date reflects the t2 refetch, crawl_last every round
    assert r12["payload_date"] == t2 and r12["crawl_last"] == t2


def test_extern_link_repoint(spark, tmp_path_factory):
    """P3 (se/document.py:789, se/test_crawl.py:410-458): a link stored
    as extern (target outside the collection scope) is re-pointed once
    its target is crawled later (here: via manual seed)."""
    root = str(tmp_path_factory.mktemp("repoint"))
    # find a page on host 0 that links out to a different host
    src = dst = None
    from sosse_spark.sources.webgraph import out_links

    for i in range(WEB.n_docs):
        if host_no(i, WEB) != 0 or i % 100 in (3, 7) or i % 50 == 1:
            continue
        for href in out_links(i, WEB):
            tail = href.rsplit("/", 1)[-1]
            try:
                t = int(tail.split("?")[0])
            except ValueError:
                continue
            if host_no(t, WEB) != 0 and t % 100 not in (3, 7) and t % 50 != 1:
                src, dst = i, t
                break
        if src is not None:
            break
    assert src is not None, "fixture web must contain a cross-host link from host 0"

    pol = CollectionPolicy(
        collection_id=1,
        unlimited_regex=r"^http://img0\.example\.com/",  # only host 0 in scope
        recursion_depth=1,
        recrawl_freq="none",
    )
    eng = CrawlEngine(spark, root, WEB, pol, n_buckets=4, batch_size=8, per_host_budget=8)
    eng.seed([url_of(src, WEB)], T0)
    eng.run_round(T0)
    lv = {
        (r["src_url"], r["dst_url"]): r["is_admitted"]
        for r in eng.links_view().collect()
    }
    dst_url = url_of(dst, WEB)
    assert lv.get((url_of(src, WEB), dst_url)) is False  # stored extern

    # the extern target is later crawled via manual seed (always admitted)
    eng.seed([dst_url], T0 + timedelta(minutes=1), manual=True)
    eng.run_round(T0 + timedelta(minutes=1))
    lv2 = {
        (r["src_url"], r["dst_url"]): r["is_admitted"]
        for r in eng.links_view().collect()
    }
    assert lv2.get((url_of(src, WEB), dst_url)) is True  # re-pointed

    # the repoint probe reads the pending-extern SIDE table, not the
    # links log: pending holds exactly the not-yet-crawled externs (the
    # repointed row left the set), so per-round repoint cost is
    # O(pending), not O(all links ever appended)
    pend = eng.pending_externs.read(spark)
    pend_keys = (
        {(r["src_url"], r["dst_url"]) for r in pend.collect()} if pend is not None else set()
    )
    assert (url_of(src, WEB), dst_url) not in pend_keys
    still_extern = {k for k, adm in lv2.items() if not adm}
    assert pend_keys == still_extern
    n_log = eng.links.read(spark).count()
    assert len(pend_keys) < n_log  # the probe input is the thin slice


def test_widen_scope_admits_new_host(spark, tmp_path_factory):
    """F32 (se/add_to_queue.py:59-89): widen_scope() appends the URL
    hosts to the collection scope, so links to those hosts admit."""
    root = str(tmp_path_factory.mktemp("widen"))
    pol = CollectionPolicy(
        collection_id=1,
        unlimited_regex=r"^http://img0\.example\.com/",
        recursion_depth=2,
        recrawl_freq="none",
    )
    eng = CrawlEngine(spark, root, WEB, pol, n_buckets=4, batch_size=16, per_host_budget=8)
    other_host_url = next(
        url_of(i, WEB)
        for i in range(WEB.n_docs)
        if host_no(i, WEB) == 1 and i % 100 not in (3, 7) and i % 50 != 1
    )
    eng.widen_scope([other_host_url], T0)
    assert "img1\\.example\\.com" in eng.policy.unlimited_regex
    eng.run_round(T0)
    f = eng.frontier.read(spark)
    assert f.filter(F.col("url") == other_host_url).count() == 1
    crawled = f.filter(F.col("crawl_last").isNotNull()).count()
    assert crawled >= 1


def test_pending_externs_backfills_from_legacy_links_log(spark, tmp_path_factory):
    """Resume over a crawl root written before the pending-externs side
    table existed: _repair backfills pending from the links log's
    latest-wins extern rows, so repoint keeps working after upgrade."""
    import shutil

    root = str(tmp_path_factory.mktemp("pendlegacy"))
    pol = CollectionPolicy(
        collection_id=1,
        unlimited_regex=r"^http://img0\.example\.com/",  # only host 0 in scope
        recursion_depth=1,
        recrawl_freq="none",
    )
    eng = CrawlEngine(spark, root, WEB, pol, n_buckets=4, batch_size=8, per_host_budget=8)
    eng.seed([url_of(i, WEB) for i in range(0, 16, 4) if host_no(i, WEB) == 0], T0)
    eng.run_round(T0)
    lv = eng.links_view()
    expected = (
        {(r["src_url"], r["dst_url"]) for r in lv.filter(~F.col("is_admitted")).collect()}
        if lv is not None
        else set()
    )
    # wipe the side table — the pre-upgrade state
    shutil.rmtree(eng.pending_externs.dir)

    eng2 = CrawlEngine(spark, root, WEB, pol, n_buckets=4, batch_size=8, per_host_budget=8)
    eng2._repair()
    pend = eng2.pending_externs.read(spark)
    got = (
        {(r["src_url"], r["dst_url"]) for r in pend.collect()} if pend is not None else set()
    )
    assert got == expected


def test_pending_externs_rolls_back_on_crash_replay(spark, tmp_path_factory):
    """Crash between the pending-externs commit and the frontier commit:
    the replayed round must see the PRE-round pending state (rollback in
    _repair), or repoint rows extracted that round would be lost."""
    root = str(tmp_path_factory.mktemp("pendcrash"))
    eng = _engine(spark, root)
    eng.seed([url_of(2, WEB)], T0)
    eng.run_round(T0)
    pend_before = eng.pending_externs.read(spark)
    n_before = pend_before.count() if pend_before is not None else 0
    snap_before = eng.pending_externs.latest()

    # simulate the crash window: a pending commit tagged with the NEXT
    # round (as if run_round died after it, before the frontier commit)
    fake = spark.createDataFrame(
        [("http://x/s", "http://y/d", 0, 1)],
        "src_url string, dst_url string, link_no int, bucket int",
    )
    eng.pending_externs.commit(spark, fake, eng.round_no(), changed_buckets=[1])
    assert eng.pending_externs.latest() == (snap_before or 0) + 1

    eng2 = _engine(spark, root)
    eng2._repair()
    pend_after = eng2.pending_externs.read(spark)
    n_after = pend_after.count() if pend_after is not None else 0
    assert n_after == n_before  # fake round's commit rolled back
    if pend_after is not None:
        assert pend_after.filter(F.col("dst_url") == "http://y/d").count() == 0


def test_engine_vacuum_reclaims_disk_and_resumes(spark, tmp_path_factory):
    """CrawlEngine.vacuum drops snapshot dirs unreachable from the last
    keep_last manifests; reads and resume still work afterwards."""
    import os

    def count_dirs(root):
        return sum(len(dirs) for _, dirs, _ in os.walk(root))

    root = str(tmp_path_factory.mktemp("vacuum"))
    eng = _engine(spark, root)
    eng.seed(SEEDS, T0)
    eng.run_round(T0)
    eng.run_round(T0 + timedelta(minutes=1))
    eng.run_round(T0 + timedelta(minutes=2))
    before = count_dirs(root)
    f_before = {r["url"] for r in eng.frontier.read(spark).collect()}
    deleted = eng.vacuum(keep_last=2)
    assert any(deleted.values())  # something was reclaimed
    assert count_dirs(root) < before
    assert {r["url"] for r in eng.frontier.read(spark).collect()} == f_before
    eng.close()

    eng2 = _engine(spark, root)  # resume over the vacuumed root
    m = eng2.run_round(T0 + timedelta(minutes=3))
    assert m is None or m["round_no"] == 4
    eng2.close()


def test_engine_leaves_no_cached_rdds(spark, tmp_path_factory):
    """Cache hygiene: seed()/run_round() unpersist their per-round
    caches and close() drops the engine-lifetime rules cache — at
    driver scale a leaked cached frontier per round OOMs the block
    manager."""
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    root = str(tmp_path_factory.mktemp("cachesweep"))
    eng = _engine(spark, root)
    eng.seed([url_of(2, WEB)], T0)
    eng.run_round(T0)
    eng.close()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before


def test_double_seed_unique_ids(spark, tmp_path_factory):
    """Two seed() calls before the first round must not collide ids
    (deterministic (round << 32 | rank) uniqueness is the tiebreak)."""
    root = str(tmp_path_factory.mktemp("seed2"))
    eng = _engine(spark, root)
    eng.seed([url_of(2, WEB)], T0)
    eng.seed([url_of(11, WEB), url_of(15, WEB)], T0)
    rows = eng.frontier.read(spark).select("id").collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)) == 3


def test_webhook_events_emitted(spark, tmp_path_factory):
    """P17 kept as metric events (se/webhook.py:108-117): discovery
    triggers fire for first-time crawls."""
    root = str(tmp_path_factory.mktemp("hooks"))
    pol = CollectionPolicy(
        collection_id=1,
        unlimited_regex=r"^http://img[0-9]+\.example\.com/",
        recursion_depth=0,
        recrawl_freq="none",
        webhooks=("discovery", "change"),
    )
    eng = CrawlEngine(spark, root, WEB, pol, n_buckets=4, batch_size=8, per_host_budget=8)
    eng.seed([url_of(2, WEB), url_of(16, WEB)], T0)
    m = eng.run_round(T0)
    assert m["webhook_events"] >= 2
    ev = eng.webhook_events.read(spark)
    trig = {r["trigger"] for r in ev.collect()}
    assert {"discovery", "change"} <= trig

    # per-doc webhooks_result JSON (se/webhook.py:318-343,
    # se/document.py:160): first crawl fires discovery+change on every
    # successful doc, recorded with the delivery outcome shape
    import json

    docs = eng.documents.read(spark).collect()
    assert docs
    for r in docs:
        res = json.loads(r["webhooks_result"])
        assert set(res) == {"discovery", "change"}
        assert res["discovery"]["status_code"] == 200
        assert res["discovery"]["error"] is None


def test_domain_page_cap_bounds_crawl(spark, tmp_path_factory):
    """Engine-level host quota (domain_page_cap knob → scheduler.py
    domain_page_cap before batch selection): no domain ever accumulates
    more than `cap` crawled pages, the capped crawl is a strict subset
    of the uncapped one, and recrawls of existing pages are unaffected."""
    cap = 3
    root_cap = str(tmp_path_factory.mktemp("quota_on"))
    eng = CrawlEngine(
        spark, root_cap, WEB, POLICY, n_buckets=4, batch_size=32,
        per_host_budget=8, domain_page_cap=cap,
    )
    eng.seed(SEEDS, T0)
    eng.run_until_quiescent(T0, timedelta(minutes=1), max_rounds=12)
    fr = eng.frontier.read(spark).filter(F.col("crawl_last").isNotNull())
    per_dom = {r["url_domain"]: r["n"] for r in fr.groupBy("url_domain").agg(F.count("*").alias("n")).collect()}
    assert per_dom, "capped crawl must still crawl something"
    assert all(n <= cap for n in per_dom.values()), per_dom
    capped_urls = {r["url"] for r in fr.select("url").collect()}

    root_free = str(tmp_path_factory.mktemp("quota_off"))
    eng2 = _engine(spark, root_free)
    eng2.seed(SEEDS, T0)
    eng2.run_until_quiescent(T0, timedelta(minutes=1), max_rounds=12)
    free = eng2.frontier.read(spark).filter(F.col("crawl_last").isNotNull())
    free_urls = {r["url"] for r in free.select("url").collect()}
    assert capped_urls < free_urls  # strict subset: the quota bit
    # some domain exceeded the cap in the uncapped run (the quota had teeth)
    free_dom = {r["url_domain"]: r["n"] for r in free.groupBy("url_domain").agg(F.count("*").alias("n")).collect()}
    assert any(n > cap for n in free_dom.values())

    # recrawl of an already-crawled page proceeds even at the cap: the
    # adaptive schedule makes crawled rows eligible again; run one more
    # round an hour later and assert crawled pages got re-fetched
    m = eng.run_round(T0 + timedelta(hours=2))
    assert m is not None and m["batch"] > 0
    fr2 = eng.frontier.read(spark).filter(F.col("crawl_last").isNotNull())
    per_dom2 = {r["url_domain"]: r["n"] for r in fr2.groupBy("url_domain").agg(F.count("*").alias("n")).collect()}
    assert all(n <= cap for n in per_dom2.values())
