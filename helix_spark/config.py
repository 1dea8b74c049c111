"""Crawl configuration shared by the Spark engine and the serial oracle.

Mirrors the reference's Configurations
(/root/reference/Bot.Abstractions/Model/Configurations.cs:9-85) plus the
north-rule politeness knobs that the reference lacks.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    seeds: list[str] = field(default_factory=list)
    remote_host: str | None = None  # Configurations.RemoteHost
    include_non_http_urls_in_report: bool = True  # Configurations.cs (toggle)
    include_redirect_urls_in_report: bool = False  # HtmlRenderer.cs:86-87
    max_renderable_size: int = 10 * 1024 * 1024  # Configurations.cs:49
    # north-rule politeness (no reference analog)
    per_host_budget: int = 4
    salt_partitions: int = 16
    max_waves: int = 200
    sort_query: bool = True  # north-rule canonicalization extension
    # seen-set filter sizing
    expected_urls: int = 100_000
    bloom_fp_rate: float = 1e-3
    bloom_slices: int = 16
    seen_buckets: int = 32
    report_buckets: int = 32
    # frontier is a ranged LSM (append + manifest-prune, never rewritten):
    # priority range per leaf dir = 2^frontier_range_bits rows
    frontier_range_bits: int = 18
    # frontier leaves are further split by pmod(xxhash64(host), N) so range
    # pruning tracks per-host-bucket cursors — one lagging host keeps only
    # its own bucket's dead ranges alive, not the whole frontier's
    frontier_host_buckets: int = 8
    # seed-scope membership: compiled as an isin literal list up to this
    # many seeds; beyond it, a broadcast join against a seeds table (a
    # 10^5-seed bootstrap as isin builds a 10^5-literal expression tree)
    seed_isin_max: int = 128
    # seen anti-join: scan-side semi + broadcast anti while the candidate
    # set is at most this many rows AND ≤ seen/8; shuffle anti-join otherwise
    # (the broadcasts are serial driver collects — see operators/dedup.py)
    semi_broadcast_max_rows: int = 4_000_000
    # bloom probe: broadcast the whole filter up to this size; above it the
    # probe is slice-affine against the checkpointed per-slice parquet blobs
    bloom_broadcast_max_bytes: int = 64 << 20
    # bloom residency: None = auto (driver-light when the filter exceeds
    # bloom_broadcast_max_bytes). Driver-light keeps NO slice bytes on the
    # driver: build/merge/persist run executor-side per slice and the probe
    # is slice-affine — the 10^10-URL / ~18 GB posture.
    bloom_driver_light: bool | None = None
    # LSM compaction cadence: rewrite buckets with > max_files leaf dirs
    # every N waves (bounds read amplification on long crawls)
    compact_every: int = 16
    compact_max_files: int = 8
    # early-commit overlap: batches at least this big split the report/seen
    # appends into a settled half written DURING the admit job and an admit
    # half chained after (plans/crawl.py `early`). Measured: saves ~7 s of
    # constant post-admit commit wall at 4M-row waves, but COSTS ~2 s on
    # tiny waves (three extra concurrent jobs contending with a short admit
    # job), so it engages only past this threshold.
    early_commit_min_batch: int = 50_000
    # ...and only with at least this many task slots: below it the admit
    # job owns every core through its stage tails and the overlap is pure
    # contention (measured at local[4])
    early_commit_min_parallelism: int = 8
    # politeness join: broadcast host_state (one row per host) up to this
    # many hosts; past it the select join switches to a shuffle-hash join
    # (broadcasting tens of millions of rows per wave is a driver/executor
    # memory death at web scale — operators/politeness.select_batch)
    host_state_broadcast_max_rows: int = 2_000_000
    # host_state write path: up to this many hosts a full overwrite per wave
    # is one tiny file (cheaper than any incremental scheme); past it the
    # table flips — permanently — to the LSM layout (bucketed appends of the
    # CHANGED rows only + last-write-wins-by-wave reads + compaction), the
    # same O(new data)-per-wave design as seen/report/frontier. NOT
    # merge-style copy-on-write: per-wave updated hosts are hash-uniform,
    # so at any realistic bucket count every bucket contains an update and
    # a CoW merge degenerates to an O(table) rewrite per wave (the exact
    # failure mode documented for seen/report in plans/crawl.py)
    host_state_lsm_min_hosts: int = 50_000
    # adaptive shuffle fanout: the static planner sizes post-shuffle stages
    # from driver-known row counts at ~this many rows per partition (capped
    # at 2×cores, floored at 8). Round-6 tested the "waves run at 8-10 busy
    # cores — widen the stages" hypothesis with paired alternating legs at
    # the bench config: 4k rows/partition measured STRICTLY WORSE
    # (34.9/39.0 s vs 23.1/23.8 s crawl) — the extra tasks/blocks cost more
    # than the parallelism buys; the idle cores come from the serial
    # stage chain + driver gaps, not partition count. 25k stands; the knob
    # stays so a cluster deployment can re-derive it from measurements.
    fanout_rows_per_partition: int = 25_000
    # rank buckets per core: the admit rank window hash-partitions by
    # bucket id, and with n_buckets ≈ partitions balls-into-bins collisions
    # give the window stage a ~2× straggler; more (smaller) buckets even
    # the load at the cost of wider per-wave Observations (one exact count
    # per bucket) and more percentile cut points
    rank_buckets_per_core: int = 2
