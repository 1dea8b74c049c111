"""Same-session A/B harness for the bench.py headline crawl (VERDICT r4 #1).

Runs bench.bench_crawl's exact config (200k pages, 64 hosts, 3 waves,
local[32]) in THIS process (one JVM per process — run one variant per
invocation; the driver script below loops via subprocess).

Variants (first CLI arg):
  base        — code as committed
  no_early    — early-commit split disabled (threshold above any batch)
  all         — run every variant in separate subprocesses, best-of-N each

Usage: python scripts/crawl_ab.py all [n_samples]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, "/root/repo")

VARIANTS = ["base", "no_early"]

# cfg-field overrides per variant (applied post-construction, same
# patched-__init__ trick as no_early): lets any CrawlConfig knob be A/B'd
# with alternating fresh-JVM legs, e.g. the round-6 fanout sizing.
CFG_OVERRIDES = {
    "f25k": {"fanout_rows_per_partition": 25_000},
    "f4k": {"fanout_rows_per_partition": 4_000},
    "f2k": {"fanout_rows_per_partition": 2_000},
    # bench waves are ~44.7k rows — just under the 50k early-commit engage
    # point; this variant asks whether the overlap pays there too
    "early30k": {"early_commit_min_batch": 30_000},
}


def run_variant(variant: str) -> float:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    import bench
    from helix_spark.plans import crawl as crawlmod

    if variant in CFG_OVERRIDES:
        over = CFG_OVERRIDES[variant]
        orig_init = crawlmod.CrawlEngine.__init__

        def patched_cfg(self, spark, cfg, *a, **kw):
            for k, v in over.items():
                setattr(cfg, k, v)
            orig_init(self, spark, cfg, *a, **kw)

        crawlmod.CrawlEngine.__init__ = patched_cfg
    if variant == "no_early":
        # dataclass defaults are captured at decoration time — patch the
        # engine's entry so the cfg instance is mutated post-construction
        orig_init = crawlmod.CrawlEngine.__init__

        def patched(self, spark, cfg, *a, **kw):
            cfg.early_commit_min_batch = 10**12
            orig_init(self, spark, cfg, *a, **kw)

        crawlmod.CrawlEngine.__init__ = patched

    from helix_spark.session import get_spark

    spark = get_spark(
        app_name=f"crawl-ab-{variant}",
        master=f"local[{bench.CPUS}]",
        shuffle_partitions=2 * bench.CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sec, ups, fetched = bench.bench_crawl(spark)
    print(json.dumps({"variant": variant, "sec": round(sec, 3),
                      "urls_per_sec": round(ups, 1), "fetched": fetched}))
    return sec


def main():
    # thin wrapper over scripts/ab_harness.py (alternating fresh-JVM legs,
    # steal% on every sample): `python scripts/crawl_ab.py all [n]` or any
    # comma-list of variants, e.g. `python scripts/crawl_ab.py f25k,f4k 2`
    from ab_harness import alternate

    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    if which != "all" and "," not in which:
        run_variant(which)
        return
    names = VARIANTS if which == "all" else which.split(",")
    alternate(
        {v: [sys.executable, __file__, v] for v in names},
        rounds=n, timeout=900, key="sec",
    )


if __name__ == "__main__":
    main()
