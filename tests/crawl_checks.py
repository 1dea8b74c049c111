"""Shared crawl checks: oracle parity and exactness of the commit counters.

The engine keeps three counters on the driver and writes them into each
commit's metrics instead of rescanning tables: ``counter`` (rows ever
admitted — each one lands in seen), ``live`` (frontier rows not yet
consumed) and ``n_hosts`` (host_state rows). ``table_metrics`` recomputes
all three from the committed tables; ``assert_head_exact`` requires HEAD's
metrics and the engine's in-memory counters to equal them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from helix_spark.plans.crawl import CrawlEngine
from helix_spark.plans.oracle import SerialOracle

KEYS = ("counter", "live", "n_hosts")


def engine(spark, wh_dir, cfg, universe) -> CrawlEngine:
    """A CrawlEngine over pandas (pages, assets, robots) tables."""
    pages, assets, robots = (spark.createDataFrame(t) for t in universe)
    return CrawlEngine(spark, cfg, str(wh_dir), pages, assets, robots)


def crawl_state(eng):
    """(crawl order, seen map, report) as the oracle reports them."""
    order = [
        (r["wave"], r["url"])
        for r in eng.wh.read("crawl_log").orderBy("wave", "priority").collect()
    ]
    seen = {r["key"]: r["status_code"] for r in eng.read_seen().collect()}
    report = {
        r["verified_url"]: (r["parent_url"], r["is_internal"], r["resource_type"],
                            r["status_code"])
        for r in eng.read_report().collect()
    }
    return order, seen, report


def assert_matches_oracle(eng, out, cfg, universe) -> None:
    """Crawl order, seen and report equal SerialOracle's on the same inputs,
    and the commit counters are exact."""
    res = SerialOracle(cfg, *universe).run()
    want = (
        list(res.crawl_order),
        res.seen,
        {
            k: (v["parent_url"], v["is_internal"], v["resource_type"], v["status_code"])
            for k, v in res.report.items()
        },
    )
    for got, exp, label in zip(crawl_state(eng), want, ("crawl order", "seen", "report")):
        assert got == exp, f"engine vs oracle diverged on {label}"
    assert out.aborted == res.aborted
    assert_head_exact(eng)


def table_metrics(eng) -> dict[str, int]:
    """counter = resolved seen rows; live = frontier rows above their host's
    cursor (an unregistered host counts as cursor −1); n_hosts = distinct
    hosts in host_state."""
    seen = eng.read_seen()
    hs = eng.read_host_state()
    frontier = eng.wh.read_ranged("frontier")
    live = 0
    if frontier is not None:
        if hs is not None:
            frontier = frontier.join(hs.select("host", "cursor"), on="host", how="left")
        else:
            frontier = frontier.withColumn("cursor", F.lit(None).cast("long"))
        live = frontier.filter(
            F.col("priority") > F.coalesce(F.col("cursor"), F.lit(-1))
        ).count()
    return {
        "counter": seen.count() if seen is not None else 0,
        "live": live,
        "n_hosts": hs.select("host").distinct().count() if hs is not None else 0,
    }


def assert_head_exact(eng) -> dict[str, int]:
    head = eng.wh.head_commit()
    assert head is not None, "nothing committed"
    got = {k: head["metrics"].get(k) for k in KEYS}
    want = table_metrics(eng)
    assert got == want, f"HEAD metrics {got} != recomputed {want}"
    in_memory = {k: getattr(eng, k) for k in KEYS}
    assert in_memory == want, f"engine counters {in_memory} != recomputed {want}"
    return want
