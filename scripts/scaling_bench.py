"""N vs 4N scaling evidence (BASELINE.json north rule, sandboxed form).

Runs the IDENTICAL frontier-processing job — bootstrap a large URL backlog,
then politeness waves of select → verify → route → extract → admit →
commit — at local[N] and local[4N] on the same deterministic input, and
reports throughput at both plus scaling efficiency
  eff = (urls_per_sec_4N / urls_per_sec_N) / 4.

Each configuration runs in its OWN subprocess (fresh JVM): PySpark keeps
one JVM per Python process across SparkSession restarts, so running both
legs in-process hands the second leg a heap/GC state churned by the first —
measured as 51 s vs 85 s wall for the identical local[16] wave. Fresh JVMs
per leg is also what two real spark-submit runs would do.

Results go into BENCH/BASELINE.md. Usage:
  python scripts/scaling_bench.py [pages] [waves] [N]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
WAVES = int(sys.argv[2]) if len(sys.argv) > 2 else 1
N_CPUS = int(sys.argv[3]) if len(sys.argv) > 3 else 4
H = 256


def _steal_jiffies() -> tuple[int, int]:
    """Shared sampler — see scripts/ab_harness.py (factored round 6)."""
    import os as _os
    sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))
    from ab_harness import steal_jiffies

    return steal_jiffies()


def run_config(cpus: int) -> dict:
    from helix_spark.config import CrawlConfig
    from helix_spark.plans.crawl import CrawlEngine
    from helix_spark.session import get_spark
    from helix_spark.sources.synthetic import gen_pages_spark

    conf = {"spark.driver.memory": "48g"}
    if os.environ.get("HELIX_RDD_COMPRESS"):
        conf["spark.rdd.compress"] = "true"  # lz4 on serialized cached blocks
    spark = get_spark(
        app_name=f"helix-scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    pages = gen_pages_spark(spark, PAGES, H)
    assets = spark.createDataFrame(
        [], "page_url string, asset_url string, content_type string, size long, status_code int, seq int"
    )
    robots = spark.createDataFrame(
        [(f"host{h}.test", [], 0) for h in range(H)],
        "host string, disallow_prefixes array<string>, crawl_delay_waves int",
    )
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0"],
        per_host_budget=max(PAGES // (H * WAVES), 100),
        max_waves=WAVES,
        expected_urls=PAGES * 4,
        bloom_slices=16,
        seen_buckets=64,
        report_buckets=64,
        salt_partitions=cpus,
        rank_buckets_per_core=int(os.environ.get("HELIX_RANK_BPC", "2")),
    )
    eng = CrawlEngine(spark, cfg, tempfile.mkdtemp(prefix=f"scale{cpus}_"), pages, assets, robots)
    t_boot = time.time()
    admitted = eng.bootstrap_frontier(pages.select("url"))
    boot_sec = time.time() - t_boot
    s0, j0 = _steal_jiffies()
    t0 = time.time()
    out = eng.run(resume=True)
    dt = time.time() - t0
    s1, j1 = _steal_jiffies()
    spark.stop()
    return {
        "cpus": cpus,
        "bootstrap_admitted": admitted,
        "bootstrap_sec": round(boot_sec, 1),
        "fetched": out.total_fetched,
        "sec": round(dt, 1),
        "urls_per_sec": round(out.total_fetched / dt, 1),
        "waves": out.waves,
        "steal_pct": round(100.0 * (s1 - s0) / max(1, j1 - j0), 2),
    }


def run_in_subprocess(cpus: int) -> dict:
    env = dict(os.environ, HELIX_SCALING_ONE=str(cpus))
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(PAGES), str(WAVES), str(N_CPUS)],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"subprocess local[{cpus}] produced no result:\n{p.stderr[-2000:]}")


def main():
    one = os.environ.get("HELIX_SCALING_ONE")
    if one:
        print(json.dumps(run_config(int(one))))
        return
    # best-of-2 per leg, all samples reported: single samples on this shared
    # box vary ±20% (page cache, turbo residency), which is larger than the
    # efficiency differences under test
    runs = int(os.environ.get("HELIX_SCALING_RUNS", "2"))
    legs = {}
    samples = {}
    for cpus in (N_CPUS, 4 * N_CPUS):
        rs = [run_in_subprocess(cpus) for _ in range(runs)]
        samples[f"local{cpus}_samples_sec"] = [r["sec"] for r in rs]
        samples[f"local{cpus}_steal_pct"] = [r.get("steal_pct") for r in rs]
        # sample selection is a RULE, not judgment: a leg that ran through a
        # host CPU-steal storm (>5% of jiffies stolen) is not a measurement
        # of this code — drop it when any clean sample exists
        clean = [r for r in rs if (r.get("steal_pct") or 0) <= 5.0]
        legs[cpus] = min(clean or rs, key=lambda r: r["sec"])
    rN, r4N = legs[N_CPUS], legs[4 * N_CPUS]
    eff = (r4N["urls_per_sec"] / rN["urls_per_sec"]) / 4.0
    out = {"pages": PAGES, "waves": WAVES,
           f"local{N_CPUS}": rN, f"local{4 * N_CPUS}": r4N,
           **samples,
           "scaling_efficiency": round(eff, 3)}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
