"""Pipelined wave commit against the serial oracle.

Each wave's commit tail (report/seen/metrics/crawl_log/bloom/host_state
writes and the HEAD publish) overlaps the next wave's select; the next
select reads the frontier through the pending manifest and host_state
through the pending host-updates delta. These tests pin that the overlap is
invisible: crawl order, seen and report equal SerialOracle's, the commit
counters stay exact, the pending state does not leak across a mid-crawl
resume boundary, and run() never returns with a wave in flight.
"""

from __future__ import annotations

import pytest

from crawl_checks import assert_head_exact, assert_matches_oracle, crawl_state, engine
from helix_spark.config import CrawlConfig
from helix_spark.sources import synthetic

N, H = 45, 5


def _cfg(**kw):
    base = dict(
        seeds=[f"http://host{h}.test/p/{h}" for h in range(2)],
        per_host_budget=3,
        max_waves=6,
        expected_urls=5_000,
        bloom_slices=4,
        seen_buckets=8,
        report_buckets=8,
        salt_partitions=4,
    )
    base.update(kw)
    return CrawlConfig(**base)


def _universe():
    return (
        synthetic.gen_pages_py(N, H),
        synthetic.gen_assets_py(N, H, n_images=16),
        synthetic.gen_robots_py(H),
    )


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    universe, cfg = _universe(), _cfg()
    eng = engine(spark, tmp_path_factory.mktemp("pipelined") / "wh", cfg, universe)
    return eng, eng.run(), cfg, universe


def test_pipelined_matches_oracle(crawl):
    eng, out, cfg, universe = crawl
    assert_matches_oracle(eng, out, cfg, universe)
    assert out.total_fetched == len(crawl_state(eng)[0])


def test_pipelined_tail_joined_at_run_exit(crawl):
    """run() must never return with an unpublished wave in flight."""
    eng = crawl[0]
    assert eng._tail_future is None
    assert eng._pending_frontier_m is None
    assert eng._pending_hs_delta is None


def test_pipelined_resume_is_noop_after_completion(spark, crawl):
    eng, _, cfg, universe = crawl
    eng2 = engine(spark, eng.wh.root, cfg, universe)
    assert eng2.run(resume=True).total_fetched == 0
    assert_head_exact(eng2)


def test_pipelined_mid_crawl_resume_matches_oracle(spark, tmp_path):
    """Stop after a budget-limited first run, resume with a fresh engine —
    the pending-manifest state must not leak across processes (it is
    in-memory only; resume starts from HEAD, which the tail published)."""
    universe = _universe()
    e1 = engine(spark, tmp_path / "wh", _cfg(max_waves=3), universe)
    e1.run()
    assert_head_exact(e1)
    cfg = _cfg(max_waves=6)
    e2 = engine(spark, tmp_path / "wh", cfg, universe)
    out = e2.run(resume=True)
    assert_matches_oracle(e2, out, cfg, universe)
