"""Overlapped select materialization against the serial oracle.

The wave's select+verify checkpoint is lazy; the wave-stats agg job that
materializes it runs in a background thread while the driver builds the
admit tree. These tests pin that the overlap is invisible — crawl order,
seen and report equal SerialOracle's and the commit counters stay exact —
including across politeness-delayed (empty-batch) waves.
"""

from __future__ import annotations

import pytest

from crawl_checks import assert_matches_oracle, engine
from helix_spark.config import CrawlConfig
from helix_spark.sources import synthetic

N, H = 45, 5


@pytest.mark.parametrize("delays", [(), ("host1.test", "host3.test")])
def test_overlap_matches_oracle(spark, tmp_path, delays):
    robots_pd = synthetic.gen_robots_py(H)
    # politeness delays force empty-batch waves through the overlap path
    robots_pd.loc[robots_pd["host"].isin(list(delays)), "crawl_delay_waves"] = 3
    universe = (
        synthetic.gen_pages_py(N, H),
        synthetic.gen_assets_py(N, H, n_images=16),
        robots_pd,
    )
    cfg = CrawlConfig(
        seeds=[f"http://host{h}.test/p/{h}" for h in range(2)],
        per_host_budget=3, max_waves=6, expected_urls=5_000, bloom_slices=4,
        seen_buckets=8, report_buckets=8, salt_partitions=4,
    )
    eng = engine(spark, tmp_path / "wh", cfg, universe)
    assert_matches_oracle(eng, eng.run(), cfg, universe)
