"""Checkpoint/resume: a crawl killed after wave k resumes from the HEAD
snapshot and converges to the identical final state with no re-fetch
(north rule; SURVEY.md §5 item 5)."""

from __future__ import annotations

import os

import pytest

from helix_spark.config import CrawlConfig
from helix_spark.plans.crawl import CrawlEngine
from helix_spark.plans.oracle import SerialOracle
from helix_spark.sources import synthetic


def _cfg(max_waves):
    return CrawlConfig(
        seeds=["http://host0.test/p/0"],
        per_host_budget=3,
        max_waves=max_waves,
        expected_urls=10_000,
        bloom_slices=4,
        seen_buckets=8,
        report_buckets=8,
    )


@pytest.fixture(scope="module")
def universe(spark):
    N, H = 60, 6
    return (
        synthetic.gen_pages_py(N, H),
        synthetic.gen_assets_py(N, H, 16),
        synthetic.gen_robots_py(H),
    )


def _tables(spark, universe):
    pages_pd, assets_pd, robots_pd = universe
    return (
        spark.createDataFrame(pages_pd),
        spark.createDataFrame(assets_pd),
        spark.createDataFrame(robots_pd),
    )


def test_kill_and_resume_matches_uninterrupted(spark, universe, tmp_path):
    pages, assets, robots = _tables(spark, universe)

    # uninterrupted run
    full = CrawlEngine(spark, _cfg(40), str(tmp_path / "full"), pages, assets, robots)
    full.run()
    want_seen = {r["key"]: r["status_code"] for r in full.read_seen().collect()}
    want_order = [
        (r["wave"], r["url"])
        for r in full.wh.read("crawl_log").orderBy("wave", "priority").collect()
    ]

    # killed after 3 waves (max_waves acts as the kill switch: the engine
    # stops between atomic commits, exactly like a SIGKILL between waves)
    part = CrawlEngine(spark, _cfg(3), str(tmp_path / "part"), pages, assets, robots)
    out1 = part.run()
    assert out1.waves == 3

    # resume with a FRESH engine object on the same warehouse
    resumed = CrawlEngine(spark, _cfg(40), str(tmp_path / "part"), pages, assets, robots)
    out2 = resumed.run(resume=True)

    got_seen = {r["key"]: r["status_code"] for r in resumed.read_seen().collect()}
    got_order = [
        (r["wave"], r["url"])
        for r in resumed.wh.read("crawl_log").orderBy("wave", "priority").collect()
    ]
    assert got_seen == want_seen
    assert got_order == want_order
    # no re-fetch: each url fetched exactly once across kill+resume
    urls = [u for _, u in got_order]
    assert len(urls) == len(set(urls))
    assert out1.total_fetched + out2.total_fetched == len(want_order)
    # run() never returns with an unpublished wave in flight: no pending
    # commit tail, frontier manifest or host_state delta survives it
    for eng in (full, part, resumed):
        assert eng._tail_future is None
        assert eng._pending_frontier_m is None
        assert eng._pending_hs_delta is None


def test_bootstrap_onto_existing_warehouse(spark, universe, tmp_path):
    """A fresh engine bootstrapping onto a warehouse that already holds a
    backlog admits only the URLs the warehouse does not hold, ranks them
    above the queued rows, keeps n_hosts equal to the registered hosts, and
    writes no host_state at all when every URL is already known."""
    pages_pd = universe[0]
    pages, assets, robots = _tables(spark, universe)
    wh_dir = str(tmp_path / "boot")

    def bootstrap(urls):
        eng = CrawlEngine(spark, _cfg(40), wh_dir, pages, assets, robots)
        feed = spark.createDataFrame([(u,) for u in urls], "url string")
        return eng, eng.bootstrap_frontier(feed)

    def host_state_files():
        return sorted(
            os.path.join(d, f)
            for d, _, files in os.walk(os.path.join(wh_dir, "host_state"))
            for f in files
        )

    all_urls = list(pages_pd["url"])
    _, admitted = bootstrap(all_urls[:30])
    assert admitted == 30
    eng, admitted = bootstrap(all_urls)
    assert admitted == len(all_urls) - 30

    frontier = eng.wh.read_ranged("frontier")
    n_rows = frontier.count()
    assert frontier.select("url").distinct().count() == n_rows
    assert frontier.select("priority").distinct().count() == n_rows
    assert eng.wh.head_commit()["metrics"]["n_hosts"] == eng.read_host_state().count()

    files = host_state_files()
    eng, admitted = bootstrap(all_urls)
    assert admitted == 0
    assert host_state_files() == files
    assert eng.wh.head_commit()["metrics"]["n_hosts"] == eng.read_host_state().count()


def test_enqueue_urls_mid_crawl(spark, universe, tmp_path):
    """Continuous discovery: after a completed crawl, enqueue a mix of
    already-seen and brand-new URLs. Seen ones are dropped by the admission
    pipeline (never refetched); new ones are crawled on resume; priorities
    stay monotone so the cursor model holds."""
    pages, assets, robots = _tables(spark, universe)
    eng = CrawlEngine(spark, _cfg(40), str(tmp_path / "enq"), pages, assets, robots)
    eng.run()
    first_order = [
        (r["wave"], r["url"])
        for r in eng.wh.read("crawl_log").orderBy("wave", "priority").collect()
    ]
    seen_before = {r["key"] for r in eng.read_seen().collect()}
    already = sorted(seen_before)[0]
    # host3.test pages outside the host0 subgraph: new to the crawl
    new_urls = [
        u for u in (f"http://host{h}.test/p/{i}" for h in (1, 2, 3) for i in range(60))
        if u not in seen_before
    ][:4]
    assert new_urls

    feed = spark.createDataFrame([(already,), *[(u,) for u in new_urls]], ["url"])
    admitted = eng.enqueue_urls(feed)
    assert admitted == len(new_urls)  # the seen URL was dropped

    out = eng.run(resume=True)
    assert out.total_fetched >= len(new_urls)
    order = [
        (r["wave"], r["url"])
        for r in eng.wh.read("crawl_log").orderBy("wave", "priority").collect()
    ]
    urls = [u for _, u in order]
    assert len(urls) == len(set(urls)), "a URL was fetched twice"
    assert order[: len(first_order)] == first_order  # history untouched
    fetched_later = set(urls) - {u for _, u in first_order}
    assert set(new_urls) <= fetched_later


def test_seed_feed_stream(spark, universe, tmp_path):
    """The streaming wrapper: a parquet-dir URL feed drains via
    foreachBatch into enqueue_urls."""
    from helix_spark.streaming.events import seed_feed_query

    pages, assets, robots = _tables(spark, universe)
    eng = CrawlEngine(spark, _cfg(40), str(tmp_path / "feedwh"), pages, assets, robots)
    eng.run()  # crawl to completion, well under max_waves
    feed_dir = str(tmp_path / "feed")
    spark.createDataFrame(
        [("http://host2.test/p/7",), ("http://host4.test/p/11",)], ["url"]
    ).write.parquet(feed_dir)
    stream = (
        spark.readStream.schema("url string").parquet(feed_dir)
    )
    q = seed_feed_query(eng, stream, str(tmp_path / "feedckpt"))
    q.awaitTermination(120)
    live_before = eng.live
    assert live_before > 0  # the enqueued URLs are queued
    out = eng.run(resume=True)
    assert out.total_fetched >= 1
    report_urls = {r["verified_url"] for r in eng.read_report().collect()}
    assert any("/p/7" in u or "/p/11" in u for u in report_urls)


def test_remote_host_scope_parity(spark, universe, tmp_path):
    """remote_host makes a second host internal (ResourceScope.cs:17);
    engine and oracle must agree on the expanded crawl."""
    pages_pd, assets_pd, robots_pd = universe
    pages, assets, robots = _tables(spark, universe)
    cfg = _cfg(40)
    cfg.remote_host = "host2.test"
    oracle = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    eng = CrawlEngine(spark, cfg, str(tmp_path / "rh"), pages, assets, robots)
    eng.run()
    got_seen = {r["key"]: r["status_code"] for r in eng.read_seen().collect()}
    assert got_seen == oracle.seen
    got_rep = {
        r["verified_url"]: (r["parent_url"], r["is_internal"], r["resource_type"], r["status_code"])
        for r in eng.read_report().collect()
    }
    want_rep = {
        k: (v["parent_url"], v["is_internal"], v["resource_type"], v["status_code"])
        for k, v in oracle.report.items()
    }
    assert got_rep == want_rep
