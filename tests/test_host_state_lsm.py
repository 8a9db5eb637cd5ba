"""host_state LSM path (VERDICT r4 "What's wrong" #1): past
cfg.host_state_lsm_min_hosts the per-wave host_state write appends ONLY the
changed rows (bucketed, version column `wave`) instead of overwriting the
whole table — O(batch hosts) written per wave, not O(total hosts).

Covers: full-crawl parity under the LSM path (including the one-time
flat→bucketed migration at the threshold crossing), bytes-written ∝ changed
hosts, last-write-wins reads, cursor-minima cache safety, and kill/resume.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from helix_spark.config import CrawlConfig
from helix_spark.plans.crawl import CrawlEngine
from helix_spark.plans.oracle import SerialOracle
from helix_spark.sources import synthetic

N, H = 60, 6


def _cfg(**over) -> CrawlConfig:
    base = dict(
        seeds=["http://host0.test/p/0"],
        per_host_budget=3,
        max_waves=60,
        expected_urls=10_000,
        bloom_slices=4,
        seen_buckets=8,
        report_buckets=8,
    )
    base.update(over)
    return CrawlConfig(**base)


def _run_engine(spark, wh_dir, cfg):
    pages_pd = synthetic.gen_pages_py(N, H)
    assets_pd = synthetic.gen_assets_py(N, H, n_images=16)
    robots_pd = synthetic.gen_robots_py(H)
    engine = CrawlEngine(
        spark, cfg, str(wh_dir),
        spark.createDataFrame(pages_pd),
        spark.createDataFrame(assets_pd),
        spark.createDataFrame(robots_pd),
    )
    outcome = engine.run()
    oracle = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    return engine, outcome, oracle


@pytest.fixture(scope="module")
def lsm_run(spark, tmp_path_factory):
    # threshold 0 → LSM from the first host_state write: the seed commit
    # (wave −1) writes the bucketed layout, every wave after it appends
    # changed rows only (the flat → bucketed crossing mid-crawl is
    # test_lsm_threshold_crossing_matches_default)
    tmp = tmp_path_factory.mktemp("hs_lsm")
    return _run_engine(spark, tmp / "wh", _cfg(host_state_lsm_min_hosts=0))


def test_lsm_crawl_parity(lsm_run):
    """Fetch order, seen map, and report are EXACT under the LSM path."""
    engine, outcome, oracle = lsm_run
    order = [
        (r["wave"], r["url"])
        for r in engine.wh.read("crawl_log").orderBy("wave", "priority").collect()
    ]
    assert order == [(w, u) for (w, u) in oracle.crawl_order]
    seen = {r["key"]: r["status_code"] for r in engine.read_seen().collect()}
    assert seen == oracle.seen
    report = {
        r["verified_url"]: (r["status_code"], r["resource_type"])
        for r in engine.read_report().collect()
    }
    assert report == {
        k: (v["status_code"], v["resource_type"]) for k, v in oracle.report.items()
    }


def test_lsm_layout_and_write_amplification(lsm_run):
    """The table is bucketed; per-wave appended rows are the CHANGED hosts
    (fetched + newly discovered), not the whole host set."""
    engine, outcome, _ = lsm_run
    wh = engine.wh
    assert wh.num_buckets("host_state") > 0
    raw = wh.read("host_state")  # includes the version column
    assert "wave" in raw.columns
    per_wave = {
        r["wave"]: r["n"]
        for r in raw.groupBy("wave").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_hosts = raw.select("host").distinct().count()
    assert engine.n_hosts == n_hosts
    # the migration wave rewrites everything once; every LATER wave must
    # write strictly fewer rows than the full host set would cost
    later_waves = sorted(per_wave)[2:]
    assert later_waves, "crawl too short to exercise steady-state appends"
    for w in later_waves:
        batch_hosts = (
            engine.wh.read("crawl_log")
            .filter(F.col("wave") == w)
            .select(F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("h"))
            .distinct()
            .count()
        )
        # changed rows = fetched hosts + hosts first registered this wave;
        # both are bounded by the wave's activity, never by n_hosts
        assert per_wave[w] <= batch_hosts + (n_hosts - 1), (
            f"wave {w} wrote {per_wave[w]} rows"
        )
    assert sum(per_wave[w] for w in later_waves) < len(later_waves) * n_hosts, (
        "steady-state waves rewrote the full host set"
    )


def test_lsm_read_resolves_last_write_wins(lsm_run):
    """read_host_state collapses the LSM rows to the LATEST state per host
    — one row per host, cursor = the most recently committed cursor."""
    engine, _, _ = lsm_run
    resolved = engine.read_host_state()
    assert resolved.columns == ["host", "next_allowed_wave", "cursor"]
    assert resolved.groupBy("host").count().filter("count > 1").count() == 0
    raw = engine.wh.read("host_state")
    latest = (
        raw.groupBy("host")
        .agg(F.max("wave").alias("wave"))
        .join(raw, on=["host", "wave"])
        .select("host", "cursor")
    )
    got = {r["host"]: r["cursor"] for r in resolved.collect()}
    want = {r["host"]: r["cursor"] for r in latest.collect()}
    assert got == want


def test_lsm_threshold_crossing_matches_default(spark, tmp_path):
    """A crawl that CROSSES the threshold mid-run (flat waves → migration →
    LSM appends) produces the identical report/seen to the default
    flat-overwrite crawl. This universe's crawl registers exactly two
    frontier hosts (the seed host plus one external), so threshold 1 is
    crossed once the external is discovered."""
    eng_a, out_a, oracle = _run_engine(
        spark, tmp_path / "a", _cfg(host_state_lsm_min_hosts=1)
    )
    assert eng_a.wh.num_buckets("host_state") > 0  # crossing happened
    seen = {r["key"]: r["status_code"] for r in eng_a.read_seen().collect()}
    assert seen == oracle.seen
    order = [
        (r["wave"], r["url"])
        for r in eng_a.wh.read("crawl_log").orderBy("wave", "priority").collect()
    ]
    assert order == [(w, u) for (w, u) in oracle.crawl_order]


def test_lsm_append_rows_proportional_to_active_hosts(spark, tmp_path):
    """Quantitative write-amplification evidence at a meaningful host count:
    64 hosts, most of them politeness-delayed after their first fetch, so
    later waves fetch only the 4 undelayed hosts — each LSM append must then
    be ~4 rows, never ~64 (the old overwrite wrote all 64 every wave)."""
    H, PAGES = 64, 3000
    from helix_spark.sources.synthetic import gen_pages_spark

    pages = gen_pages_spark(spark, PAGES, H)
    assets = spark.createDataFrame(
        [], "page_url string, asset_url string, content_type string, "
            "size long, status_code int, seq int",
    )
    robots = spark.createDataFrame(
        [(f"host{h}.test", [], 0 if h < 4 else 5) for h in range(H)],
        "host string, disallow_prefixes array<string>, crawl_delay_waves int",
    )
    cfg = _cfg(
        host_state_lsm_min_hosts=0, per_host_budget=5, max_waves=6,
        seeds=["http://host0.test/p/0"],
    )
    eng = CrawlEngine(spark, cfg, str(tmp_path / "wh"), pages, assets, robots)
    eng.bootstrap_frontier(pages.select("url"))
    eng.run(resume=True)
    raw = eng.wh.read("host_state")
    per_wave = {
        r["wave"]: r["n"]
        for r in raw.groupBy("wave").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_hosts = raw.select("host").distinct().count()
    assert n_hosts >= 40  # most of the 64-host universe is registered
    # wave 0 fetches every host (all undelayed); the migration wave rewrites
    # once; every append AFTER the delays engage covers only the undelayed
    # hosts (+ any host whose delay expired) — far below the full host set
    steady = [w for w in sorted(per_wave) if w >= 2]
    assert steady
    for w in steady:
        assert per_wave[w] < n_hosts // 2, (
            f"wave {w} appended {per_wave[w]} rows for {n_hosts} hosts"
        )


def test_lsm_resume_no_refetch(spark, tmp_path, lsm_run):
    """A fresh engine over a completed LSM warehouse resumes to fetched=0
    (cursor state reconstructed from the LSM reads, no URL re-fetched)."""
    engine, _, _ = lsm_run
    pages_pd = synthetic.gen_pages_py(N, H)
    assets_pd = synthetic.gen_assets_py(N, H, n_images=16)
    robots_pd = synthetic.gen_robots_py(H)
    eng2 = CrawlEngine(
        spark, _cfg(host_state_lsm_min_hosts=0), engine.wh.root,
        spark.createDataFrame(pages_pd),
        spark.createDataFrame(assets_pd),
        spark.createDataFrame(robots_pd),
    )
    out2 = eng2.run(resume=True)
    assert out2.total_fetched == 0


def test_lsm_enqueue_on_fresh_engine_keeps_cursor_cache_safe(spark, tmp_path):
    """A fresh engine over an existing LSM warehouse that FIRST sees the
    table through enqueue_urls must not seed a partial cursor-minima cache:
    the per-wave merge only sees CHANGED rows, so a bucket first entering
    the cache through the merge could get a minimum ABOVE a politeness-
    delayed host's true min — and range pruning would then drop frontier
    leaves that still hold that host's live rows (round-5 ADVICE, high).

    Pins: (a) the cache stays a per-bucket LOWER bound of the true cursor
    minima after enqueue + further waves, and (b) the pruned frontier read
    retains every live row the unpruned read has."""
    H, PAGES = 64, 3000
    from helix_spark.sources.synthetic import gen_pages_spark

    pages = gen_pages_spark(spark, PAGES, H)
    assets = spark.createDataFrame(
        [], "page_url string, asset_url string, content_type string, "
            "size long, status_code int, seq int",
    )
    # every non-seed host gets a long crawl delay: after its first fetch it
    # lags with LIVE low-priority frontier rows — the laggard population
    robots = spark.createDataFrame(
        [(f"host{h}.test", [], 0 if h < 4 else 50) for h in range(H)],
        "host string, disallow_prefixes array<string>, crawl_delay_waves int",
    )
    cfg = _cfg(
        host_state_lsm_min_hosts=0, per_host_budget=5, max_waves=3,
        seeds=["http://host0.test/p/0"],
    )
    eng = CrawlEngine(spark, cfg, str(tmp_path / "wh"), pages, assets, robots)
    eng.bootstrap_frontier(pages.select("url"))
    eng.run(resume=True)
    assert eng.wh.num_buckets("host_state") > 0

    # fresh engine over the same warehouse: cache is None; enqueue first
    cfg2 = _cfg(
        host_state_lsm_min_hosts=0, per_host_budget=5, max_waves=6,
        seeds=["http://host0.test/p/0"],
    )
    eng2 = CrawlEngine(spark, cfg2, str(tmp_path / "wh"), pages, assets, robots)
    feed = spark.createDataFrame(
        [(f"http://newhost{i}.test/p/{i}",) for i in range(40)], "url string"
    )
    assert eng2.enqueue_urls(feed) > 0
    eng2.run(resume=True)  # merges changed-row minima into the cache

    def exact_mins():
        saved = eng2._mins_cache
        eng2._mins_cache = None
        try:
            return dict(eng2._cursor_mins(eng2.read_host_state()))
        finally:
            eng2._mins_cache = saved

    cache = dict(eng2._mins_cache or {})
    exact = exact_mins()
    assert cache, "cache should be populated after enqueue + waves"
    for b, m in cache.items():
        assert b in exact and m <= exact[b], (
            f"bucket {b}: cached min {m} above true min {exact.get(b)} — "
            f"range pruning would drop live frontier rows"
        )

    # no-loss property: the pruned read keeps every live row
    hs = eng2.read_host_state()
    full = eng2.wh.read_ranged("frontier")
    live = (
        full.join(hs.select("host", "cursor"), on="host", how="left")
        .filter(F.col("priority") > F.coalesce(F.col("cursor"), F.lit(-1)))
        .count()
    )
    pruned = eng2.read_frontier(hs)
    live_pruned = (
        pruned.join(hs.select("host", "cursor"), on="host", how="left")
        .filter(F.col("priority") > F.coalesce(F.col("cursor"), F.lit(-1)))
        .count()
    )
    assert live_pruned == live, (
        f"pruned frontier lost {live - live_pruned} live rows"
    )
