"""Every way into a crawl — seed admission, bootstrap, enqueue, resume, and
a bootstrap onto a warehouse that already holds a crawl — leaves the commit
counters (counter, live, n_hosts) exact: equal to what the committed tables
say (crawl_checks.table_metrics)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from crawl_checks import assert_head_exact, engine
from helix_spark.config import CrawlConfig
from helix_spark.sources import synthetic

N, H = 60, 6


def _cfg(**kw):
    base = dict(
        seeds=["http://host0.test/p/0"],
        per_host_budget=3,
        max_waves=40,
        expected_urls=10_000,
        bloom_slices=4,
        seen_buckets=8,
        report_buckets=8,
    )
    base.update(kw)
    return CrawlConfig(**base)


@pytest.fixture(scope="module")
def universe():
    return (
        synthetic.gen_pages_py(N, H),
        synthetic.gen_assets_py(N, H, 16),
        synthetic.gen_robots_py(H),
    )


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _frontier_priorities(eng):
    return [r["priority"] for r in eng.wh.read_ranged("frontier").select("priority").collect()]


def _fetched(eng):
    return [r["url"] for r in eng.wh.read("crawl_log").collect()]


def test_seed_admission_and_resume_exact(spark, universe, tmp_path):
    eng = engine(spark, tmp_path / "wh", _cfg(max_waves=0), universe)
    eng.run()  # seed admission only
    assert eng.wh.head_commit()["wave"] == -1
    assert assert_head_exact(eng)["live"] == 1
    eng2 = engine(spark, tmp_path / "wh", _cfg(max_waves=3), universe)
    eng2.run(resume=True)
    assert_head_exact(eng2)


@pytest.mark.parametrize("lsm_min_hosts", [0, 50_000], ids=["lsm", "flat"])
def test_enqueue_exact(spark, universe, tmp_path, lsm_min_hosts):
    """On the LSM host_state path the commit counts only the changed rows,
    so a fresh engine's n_hosts must start from HEAD, not from zero."""
    eng = engine(
        spark, tmp_path / "wh",
        _cfg(max_waves=2, host_state_lsm_min_hosts=lsm_min_hosts), universe,
    )
    eng.run()
    feed = [f"http://host{h}.test/p/{i}" for h in (2, 4) for i in range(3)]
    eng2 = engine(
        spark, tmp_path / "wh", _cfg(host_state_lsm_min_hosts=lsm_min_hosts), universe
    )
    assert eng2.enqueue_urls(_urls(spark, feed)) > 0
    assert_head_exact(eng2)
    eng2.run(resume=True)
    assert_head_exact(eng2)
    fetched = _fetched(eng2)
    assert len(fetched) == len(set(fetched)), "a URL was fetched twice"


def test_bootstrap_onto_existing_warehouse(spark, universe, tmp_path):
    """Bootstrap A, then bootstrap A∪B from a fresh engine on the same
    warehouse, then resume to completion: the counters equal those of one
    bootstrap of A∪B, frontier priorities stay unique, and nothing is
    fetched twice."""
    pages_pd = universe[0]
    urls = sorted(pages_pd["url"])
    a = urls[::2]
    ab = urls

    one = engine(spark, tmp_path / "one", _cfg(), universe)
    one.bootstrap_frontier(_urls(spark, ab))
    want_boot = assert_head_exact(one)

    first = engine(spark, tmp_path / "two", _cfg(), universe)
    first.bootstrap_frontier(_urls(spark, a))
    assert first.wh.head_commit()["wave"] == -1
    assert_head_exact(first)
    second = engine(spark, tmp_path / "two", _cfg(), universe)
    second.bootstrap_frontier(_urls(spark, ab))
    assert assert_head_exact(second) == want_boot
    pri = _frontier_priorities(second)
    dup_pri = [p for p, n in Counter(pri).items() if n > 1]
    assert not dup_pri, f"{len(dup_pri)} frontier priorities collide"

    one.run(resume=True)
    want_end = assert_head_exact(one)
    second.run(resume=True)
    assert assert_head_exact(second) == want_end
    fetched = _fetched(second)
    twice = [u for u, n in Counter(fetched).items() if n > 1]
    assert not twice, f"{len(twice)} URLs fetched twice, e.g. {twice[:3]}"
    want_seen = {r["key"]: r["status_code"] for r in one.read_seen().collect()}
    got_seen = {r["key"]: r["status_code"] for r in second.read_seen().collect()}
    assert got_seen == want_seen
    # no wave number is reused: the second bootstrap committed after the
    # first, and the crawl continued after both
    waves = [r["wave"] for r in second.wh.read("metrics").select("wave").collect()]
    assert len(waves) == len(set(waves))
    assert second.wh.read("crawl_log").filter(F.col("wave") < 1).count() == 0
