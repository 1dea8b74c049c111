"""Config-toggle parity: IncludeNonHttpUrlsInReport and
IncludeRedirectUrlsInReport flip report/seen behavior identically in engine
and oracle (CoordinatorBlock.cs:240-256, HtmlRenderer.cs:86-87)."""

from __future__ import annotations

import pytest

from helix_spark.config import CrawlConfig
from helix_spark.plans.crawl import CrawlEngine
from helix_spark.plans.oracle import SerialOracle
from helix_spark.sources import synthetic


@pytest.mark.parametrize("include_non_http,include_redirect", [(False, False), (True, True)])
def test_toggle_parity(spark, tmp_path, include_non_http, include_redirect):
    N, H = 45, 5
    pages_pd = synthetic.gen_pages_py(N, H)
    assets_pd = synthetic.gen_assets_py(N, H, 16)
    robots_pd = synthetic.gen_robots_py(H)
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0"],
        per_host_budget=3,
        max_waves=30,
        include_non_http_urls_in_report=include_non_http,
        include_redirect_urls_in_report=include_redirect,
        expected_urls=5000,
        bloom_slices=4,
        seen_buckets=8,
        report_buckets=8,
    )
    oracle = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    eng = CrawlEngine(
        spark, cfg, str(tmp_path / f"t{include_non_http}"),
        spark.createDataFrame(pages_pd),
        spark.createDataFrame(assets_pd),
        spark.createDataFrame(robots_pd),
    )
    eng.run()
    got_seen = {r["key"]: r["status_code"] for r in eng.read_seen().collect()}
    assert got_seen == oracle.seen
    got_rep = {
        r["verified_url"]: (r["is_internal"], r["resource_type"], r["status_code"])
        for r in eng.read_report().collect()
    }
    want_rep = {
        k: (v["is_internal"], v["resource_type"], v["status_code"])
        for k, v in oracle.report.items()
    }
    assert got_rep == want_rep
    if not include_non_http:
        assert not any(v == -102 for v in got_seen.values())


def test_metrics_table(spark, tmp_path):
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0"], per_host_budget=3, max_waves=30,
        expected_urls=5000, bloom_slices=4, seen_buckets=8, report_buckets=8,
    )
    N, H = 45, 5
    eng = CrawlEngine(
        spark, cfg, str(tmp_path / "m"),
        spark.createDataFrame(synthetic.gen_pages_py(N, H)),
        spark.createDataFrame(synthetic.gen_assets_py(N, H, 16)),
        spark.createDataFrame(synthetic.gen_robots_py(H)),
    )
    eng.run()
    metrics = eng.wh.read("metrics").orderBy("wave").collect()
    assert len(metrics) >= 2
    rep = eng.read_report()
    total_broken = rep.filter("abs(status_code) >= 400").count()
    # per-wave new-broken counters sum to the final broken set (no updates
    # flipped statuses in this universe)
    assert sum(m["broken_new"] for m in metrics) == total_broken


def test_early_commit_split_parity(spark, tmp_path):
    """The early-commit overlap (settled report/seen halves written DURING
    the admit job, admit halves chained after — engaged past
    early_commit_min_batch) must be invisible in results: force it ON for
    every wave and require exact seen/report/metrics parity."""
    from pyspark.sql import functions as F

    N, H = 45, 5
    pages_pd = synthetic.gen_pages_py(N, H)
    assets_pd = synthetic.gen_assets_py(N, H, 16)
    robots_pd = synthetic.gen_robots_py(H)
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0"], per_host_budget=3, max_waves=30,
        expected_urls=5000, bloom_slices=4, seen_buckets=8, report_buckets=8,
        early_commit_min_batch=0,  # every wave takes the split path
        early_commit_min_parallelism=0,  # even on the local[4] test session
    )
    oracle = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    eng = CrawlEngine(
        spark, cfg, str(tmp_path / "ec"),
        spark.createDataFrame(pages_pd),
        spark.createDataFrame(assets_pd),
        spark.createDataFrame(robots_pd),
    )
    eng.run()
    got_seen = {r["key"]: r["status_code"] for r in eng.read_seen().collect()}
    assert got_seen == oracle.seen
    got_rep = {r["verified_url"]: r["status_code"] for r in eng.read_report().collect()}
    want_rep = {k: v["status_code"] for k, v in oracle.report.items()}
    assert got_rep == want_rep
    # metrics (summed from the two halves' observations) still reconcile
    metrics = eng.wh.read("metrics").collect()
    total_broken = eng.read_report().filter(F.abs(F.col("status_code")) >= 400).count()
    assert sum(m["broken_new"] for m in metrics) == total_broken


def test_compaction_preserves_parity(spark, tmp_path):
    """LSM compaction mid-crawl must not change the resolved seen/report."""
    N, H = 45, 5
    pages_pd = synthetic.gen_pages_py(N, H)
    assets_pd = synthetic.gen_assets_py(N, H, 16)
    robots_pd = synthetic.gen_robots_py(H)
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0"], per_host_budget=3, max_waves=30,
        expected_urls=5000, bloom_slices=4, seen_buckets=4, report_buckets=4,
        compact_every=4, compact_max_files=1,  # force compaction aggressively
    )
    oracle = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    eng = CrawlEngine(
        spark, cfg, str(tmp_path / "cp"),
        spark.createDataFrame(pages_pd),
        spark.createDataFrame(assets_pd),
        spark.createDataFrame(robots_pd),
    )
    eng.run()
    got_seen = {r["key"]: r["status_code"] for r in eng.read_seen().collect()}
    assert got_seen == oracle.seen
    got = {r["verified_url"]: r["status_code"] for r in eng.read_report().collect()}
    want = {k: v["status_code"] for k, v in oracle.report.items()}
    assert got == want
