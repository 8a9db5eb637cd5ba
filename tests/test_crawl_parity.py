"""Engine ↔ oracle parity on the synthetic site (SURVEY.md §5 strategy #2).

The serial oracle (plans/oracle.py) encodes the reference's coordinator/
verifier/renderer semantics; the Spark engine must reproduce, given the same
seed list and politeness budget:

1. the URL-seen set EXACTLY (key → status map, null = queued-never-settled)
2. the verification report EXACTLY (one row per verified_url)
3. the fetch order EXACTLY ((wave, url) sequence)
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from helix_spark.config import CrawlConfig
from helix_spark.plans.crawl import CrawlEngine
from helix_spark.plans.oracle import SerialOracle
from helix_spark.sources import synthetic


def _build_universe(spark, N=60, H=6, delay_hosts=()):
    pages_pd = synthetic.gen_pages_py(N, H)
    assets_pd = synthetic.gen_assets_py(N, H, n_images=16)
    robots_pd = synthetic.gen_robots_py(H)
    robots_pd.loc[robots_pd["host"].isin(list(delay_hosts)), "crawl_delay_waves"] = 3
    pages = spark.createDataFrame(pages_pd)
    assets = spark.createDataFrame(assets_pd)
    robots = spark.createDataFrame(robots_pd)
    return pages_pd, assets_pd, robots_pd, pages, assets, robots


def _run_both(spark, tmp_path, cfg, N=60, H=6, delay_hosts=()):
    pages_pd, assets_pd, robots_pd, pages, assets, robots = _build_universe(
        spark, N, H, delay_hosts
    )
    oracle = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    engine = CrawlEngine(spark, cfg, str(tmp_path / "wh"), pages, assets, robots)
    outcome = engine.run()
    return oracle, engine, outcome


def _engine_seen(engine) -> dict:
    df = engine.read_seen()
    return {r["key"]: r["status_code"] for r in df.collect()}


def _engine_report(engine) -> dict:
    df = engine.read_report()
    return {
        r["verified_url"]: {
            "verified_url": r["verified_url"],
            "parent_url": r["parent_url"],
            "is_internal": r["is_internal"],
            "resource_type": r["resource_type"],
            "status_code": r["status_code"],
        }
        for r in df.collect()
    }


def _engine_order(engine) -> list:
    df = engine.wh.read("crawl_log")
    return [
        (r["wave"], r["url"])
        for r in df.orderBy("wave", "priority").collect()
    ]


@pytest.fixture(scope="module")
def parity(spark, tmp_path_factory):
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0"],
        per_host_budget=3,
        max_waves=60,
        expected_urls=10_000,
        bloom_slices=4,
        seen_buckets=8,
        report_buckets=8,
    )
    tmp = tmp_path_factory.mktemp("parity")
    oracle, engine, outcome = _run_both(spark, tmp, cfg)
    return oracle, engine, outcome


def test_crawl_completes(parity):
    oracle, engine, outcome = parity
    assert not outcome.aborted and not oracle.aborted
    assert outcome.total_fetched >= 15  # host0 subgraph closure at N=60


def test_seen_set_parity(parity):
    oracle, engine, _ = parity
    got = _engine_seen(engine)
    missing = set(oracle.seen) - set(got)
    extra = set(got) - set(oracle.seen)
    assert not missing, f"engine missing {len(missing)}: {sorted(missing)[:5]}"
    assert not extra, f"engine extra {len(extra)}: {sorted(extra)[:5]}"
    diffs = {k: (oracle.seen[k], got[k]) for k in oracle.seen if oracle.seen[k] != got[k]}
    assert not diffs, f"status mismatches: {dict(list(diffs.items())[:5])}"


def test_report_parity(parity):
    oracle, engine, _ = parity
    got = _engine_report(engine)
    assert set(got) == set(oracle.report), (
        f"missing={sorted(set(oracle.report) - set(got))[:5]} "
        f"extra={sorted(set(got) - set(oracle.report))[:5]}"
    )
    for k, want in oracle.report.items():
        assert got[k] == want, f"{k}: engine={got[k]} oracle={want}"


def test_crawl_order_parity(parity):
    oracle, engine, _ = parity
    got = _engine_order(engine)
    assert got == oracle.crawl_order, (
        f"first divergence: "
        f"{next(((i, a, b) for i, (a, b) in enumerate(zip(got, oracle.crawl_order)) if a != b), None)} "
        f"len {len(got)} vs {len(oracle.crawl_order)}"
    )


def test_broken_set_derivation(parity):
    oracle, engine, _ = parity
    df = engine.read_report()
    broken = {
        r["verified_url"]
        for r in df.filter(F.abs(F.col("status_code")) >= 400).collect()
    }
    oracle_broken = {
        k for k, v in oracle.report.items() if abs(v["status_code"]) >= 400
    }
    assert broken == oracle_broken and len(broken) > 0


def test_avg_page_load_time_parity(parity):
    """README.md:28-29 / StatisticsSnapshot.cs:7: per-wave avg page-load
    time over settled fetches must match the oracle's."""
    oracle, engine, _ = parity
    metrics = {
        r["wave"]: r["avg_page_load_ms"]
        for r in engine.wh.read("metrics").collect()
        if r["wave"] >= 0
    }
    compared = 0
    for wave, want in oracle.wave_avg_load_ms.items():
        got = metrics.get(wave)
        if want is None:
            assert got is None, f"wave {wave}: engine={got} oracle=None"
        else:
            assert got is not None and abs(got - want) < 1e-6, (
                f"wave {wave}: engine={got} oracle={want}"
            )
            compared += 1
    assert compared > 0, "no waves with load data compared"


def test_abort_on_seed_redirect(spark, tmp_path):
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/3"],  # i=3 → 301 (REDIR_MOD)
        per_host_budget=2,
        max_waves=10,
        expected_urls=1000,
        bloom_slices=4,
        seen_buckets=4,
        report_buckets=4,
    )
    oracle, engine, outcome = _run_both(spark, tmp_path, cfg, N=40, H=4)
    assert oracle.aborted and outcome.aborted
    # the fetch log must match the oracle EXACTLY on the abort wave too:
    # the oracle stops recording at the redirecting seed
    assert _engine_order(engine) == oracle.crawl_order


def test_driver_light_bloom_parity(spark, tmp_path):
    """Force the 10^10-posture bloom residency (no driver slice bytes,
    executor-side merge, slice-affine probe) on a small crawl: seen/report
    must still match the oracle exactly, and resume must reload the handle."""
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0"], per_host_budget=3, max_waves=60,
        expected_urls=10_000, bloom_slices=4, seen_buckets=8, report_buckets=8,
        bloom_driver_light=True,
    )
    oracle, engine, outcome = _run_both(spark, tmp_path, cfg, N=45, H=5)
    assert engine.bloom.slices is None  # never materialized on the driver
    assert _engine_seen(engine) == oracle.seen
    assert _engine_report(engine) == oracle.report
    assert _engine_order(engine) == oracle.crawl_order
    # resume on the same warehouse: handle reloads from the manifest and a
    # completed crawl fetches nothing more
    pages_pd = synthetic.gen_pages_py(45, 5)
    eng2 = CrawlEngine(
        spark, cfg, str(tmp_path / "wh"),
        spark.createDataFrame(pages_pd),
        spark.createDataFrame(synthetic.gen_assets_py(45, 5, 16)),
        spark.createDataFrame(synthetic.gen_robots_py(5)),
    )
    out2 = eng2.run(resume=True)
    assert eng2.bloom.slices is None
    assert out2.total_fetched == 0


def test_querystring_parity_sort_query_off(spark, tmp_path):
    """sort_query=False (strict reference-parity mode) with multi-param
    query URLs: the verify store must key URLs under the SAME
    canonicalization as the frontier, or every query URL turns into a
    spurious −400 (the synthetic universe has no query strings, so only
    this fixture exercises it)."""
    import pandas as pd

    purl = "http://qhost0.test/a?b=2&a=1"
    curl = "http://qhost0.test/b?z=9&y=8"
    pages_pd = pd.DataFrame([
        {"url": purl, "html": f'<a href="{curl}">c</a>', "status_code": 200,
         "content_type": "text/html", "size": 100, "redirect_to": None, "load_ms": 70},
        {"url": curl, "html": "", "status_code": 200,
         "content_type": "text/html", "size": 50, "redirect_to": None, "load_ms": 90},
    ])
    assets_pd = pd.DataFrame(
        [], columns=["page_url", "asset_url", "content_type", "size", "status_code", "seq"]
    )
    robots_pd = pd.DataFrame(
        [{"host": "qhost0.test", "disallow_prefixes": [], "crawl_delay_waves": 0}]
    )
    # store URLs above are canonical under sort_query=False specifically
    # (the oracle's store is keyed by canonical-by-construction URLs)
    cfg = CrawlConfig(
        seeds=[purl], per_host_budget=4, max_waves=6, expected_urls=100,
        bloom_slices=4, seen_buckets=4, report_buckets=4,
        sort_query=False,
    )
    oracle = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    pages = spark.createDataFrame(pages_pd)
    assets = spark.createDataFrame(
        assets_pd, "page_url string, asset_url string, content_type string,"
        " size long, status_code int, seq int"
    )
    robots = spark.createDataFrame(robots_pd)
    engine = CrawlEngine(spark, cfg, str(tmp_path / "wh_q"), pages, assets, robots)
    engine.run()
    got = _engine_report(engine)
    assert set(got) == set(oracle.report), (got.keys(), oracle.report.keys())
    for k, want in oracle.report.items():
        assert got[k] == want, (k, got[k], want)
    # both pages must verify as 200 — a store/frontier key mismatch would
    # surface them as −400
    assert all(v["status_code"] == 200 for v in got.values()), got


def test_parity_broadcast_seed_scope(spark, tmp_path):
    """seed_isin_max=0 forces the broadcast-join seed-membership path (the
    10^5-seed bootstrap strategy); results must stay bit-identical to the
    literal-isin path and the oracle — including orphan marking, scope
    recompute after redirects, and seed-redirect handling. The second case
    gives both seed hosts a 3-wave crawl delay, so the crawl passes through
    waves where every queued host is delayed (an empty batch: a
    logical-clock tick)."""
    cases = [
        (["http://host0.test/p/0", "http://host1.test/p/1"], ()),
        (["http://host2.test/p/1", "http://host3.test/p/2"],
         ("host2.test", "host3.test")),
    ]
    for i, (seeds, delay_hosts) in enumerate(cases):
        cfg = CrawlConfig(
            seeds=seeds,
            per_host_budget=3,
            max_waves=60,
            expected_urls=10_000,
            bloom_slices=4,
            seen_buckets=8,
            report_buckets=8,
            seed_isin_max=0,
        )
        case_dir = tmp_path / f"case{i}"
        oracle, engine, outcome = _run_both(
            spark, case_dir, cfg, delay_hosts=delay_hosts
        )
        assert engine.seeds_df is not None, "join path not engaged"
        assert _engine_seen(engine) == oracle.seen
        assert _engine_report(engine) == oracle.report
        assert _engine_order(engine) == oracle.crawl_order
    commits = [
        json.loads(p.read_text())
        for p in (case_dir / "wh" / "_commits").glob("commit-*.json")
    ]
    assert any(c["wave"] >= 0 and c["metrics"].get("batch") == 0 for c in commits), (
        "no politeness-delayed empty wave"
    )


def test_large_seed_bootstrap_no_expression_blowup(spark, tmp_path):
    """A 10^5-seed crawl must admit through the broadcast seed table, not a
    10^5-literal isin expression tree (which stalls analysis per wave)."""
    from helix_spark.sources import synthetic

    n_seeds = 100_000
    seeds = [f"http://bulk{i % 50}.test/p/{i}" for i in range(n_seeds)]
    pages = spark.createDataFrame(synthetic.gen_pages_py(30, 3))
    assets = spark.createDataFrame(
        [], "page_url string, asset_url string, content_type string, size long, status_code int, seq int"
    )
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_waves int"
    )
    cfg = CrawlConfig(
        seeds=seeds, per_host_budget=10, max_waves=1,
        expected_urls=200_000, bloom_slices=4, seen_buckets=8, report_buckets=8,
    )
    engine = CrawlEngine(spark, cfg, str(tmp_path / "wh"), pages, assets, robots)
    assert engine.seeds_df is not None
    outcome = engine.run()
    # every seed admitted exactly once into the frontier+seen universe
    assert engine.counter == n_seeds
    assert outcome.total_fetched > 0
