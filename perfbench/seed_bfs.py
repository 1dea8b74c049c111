"""Workload ``seed_bfs``: a crawl from seed URLs over the synthetic web,
checked exactly against the serial oracle; a traced run then resumes it for
one more wave on a fresh engine and checks that too.

Shape: N_PAGES pages over N_HOSTS hosts (host 0 holds a third of the pages),
N_SEEDS seeds — more than ``CrawlConfig.seed_isin_max``, so seed scope runs
through the seeds table — and WAVES politeness waves at PER_HOST_BUDGET.
Public ``CrawlConfig`` knobs are set below their defaults so that their
code paths run inside a short crawl: ``compact_every``/``compact_max_files``
(LSM compaction rewrites buckets after wave 0) and
``host_state_lsm_min_hosts`` (host_state migrates from the flat overwrite to
the bucketed LSM layout). None of them changes the crawl's output.

One wave: a fresh JVM pays about 25 s of session start and engine
construction and about 10 s of seed admission before any wave, and every
wave costs 10–18 s at local[4], so one wave keeps a run near 55 s. The
traced run's resume wave is the warm wave.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import time
from collections import Counter, defaultdict

from perfbench.harness import Ctx, median

N_PAGES = 1000
N_HOSTS = 16
N_IMAGES = 64
N_SEEDS = 140
PER_HOST_BUDGET = 10
WAVES = 1
COMPACT_EVERY = 1
LSM_MIN_HOSTS = 12
# expected seen-set size at the end of the crawl: sizes the bloom filter so
# its measured false-positive rate can be compared with the configured one
EXPECTED_URLS = 500


def _config(seeds, max_waves):
    from helix_spark.config import CrawlConfig

    return CrawlConfig(
        seeds=seeds, per_host_budget=PER_HOST_BUDGET, max_waves=max_waves,
        expected_urls=EXPECTED_URLS, bloom_slices=4, seen_buckets=8,
        report_buckets=8, compact_every=COMPACT_EVERY, compact_max_files=2,
        host_state_lsm_min_hosts=LSM_MIN_HOSTS,
    )


# ---------------------------------------------------------------- checks
def _engine_state(eng):
    log = [(r["wave"], r["url"]) for r in
           eng.wh.read("crawl_log").orderBy("wave", "priority").collect()]
    seen = {r["key"]: r["status_code"] for r in eng.read_seen().collect()}
    report = {
        r["verified_url"]: (r["parent_url"], r["is_internal"], r["resource_type"],
                            r["status_code"])
        for r in eng.read_report().collect()
    }
    return log, seen, report


def _oracle_state(res):
    report = {k: (v["parent_url"], v["is_internal"], v["resource_type"], v["status_code"])
              for k, v in res.report.items()}
    return res.crawl_order, res.seen, report


def _failed_waves(got, want, waves) -> tuple[int, list[str]]:
    """Waves whose fetch list differs from the oracle's; a seen or report
    mismatch fails the last wave (the state it left is wrong)."""
    (glog, gseen, grep), (olog, oseen, orep) = got, want
    by_g, by_o = defaultdict(list), defaultdict(list)
    for w, u in glog:
        by_g[w].append(u)
    for w, u in olog:
        by_o[w].append(u)
    bad = {w for w in waves if by_g.get(w) != by_o.get(w)}
    why = [f"crawl order differs at wave {w}" for w in sorted(bad)]
    if gseen != oseen:
        why.append(f"seen set differs ({len(gseen)} vs {len(oseen)} keys)")
        bad.add(max(waves))
    if grep != orep:
        why.append(f"report differs ({len(grep)} vs {len(orep)} rows)")
        bad.add(max(waves))
    return len(bad), why


# ----------------------------------------------------------- wave timing
def _commits(wh_dir):
    out = []
    for p in glob.glob(os.path.join(wh_dir, "_commits", "commit-*.json")):
        with open(p) as f:
            c = json.load(f)
        out.append((c["n"], c["wave"], c.get("metrics", {}), os.stat(p).st_mtime))
    return sorted(out)


def wave_walls(wh_dir) -> list[float]:
    """Wave wall times from the warehouse's published commits: wave w's
    time is the gap between the commit that published wave w and the one
    that published the wave before it (the seed admission commit, wave −1,
    for the first wave). Compaction commits are not wave boundaries."""
    first = {}
    for _, wave, metrics, mtime in _commits(wh_dir):
        if not metrics.get("compaction") and wave not in first:
            first[wave] = mtime
    waves = sorted(first)
    return [first[b] - first[a] for a, b in zip(waves, waves[1:])]


def _table_files(wh_dir):
    """(files, bytes) of data files per table."""
    out = {}
    for tdir in sorted(glob.glob(os.path.join(wh_dir, "*"))):
        name = os.path.basename(tdir)
        if name.startswith("_") or not os.path.isdir(tdir):
            continue
        n = b = 0
        for root, _, files in os.walk(tdir):
            for fn in files:
                if fn.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(root, fn))
        out[name] = (n, b)
    return out


# ------------------------------------------------------------------- run
def run(ctx: Ctx) -> dict:
    from helix_spark.plans.crawl import CrawlEngine
    from helix_spark.plans.oracle import SerialOracle
    from perfbench.inputs import crawl_universe, seed_urls

    spark = ctx.spark
    t0 = time.time()
    pages_pd, assets_pd, robots_pd = crawl_universe(ctx.seed, N_PAGES, N_HOSTS, N_IMAGES)
    seeds = seed_urls(pages_pd, N_SEEDS)
    pages = spark.createDataFrame(pages_pd)
    assets = spark.createDataFrame(assets_pd)
    robots = spark.createDataFrame(robots_pd)
    gen_s = time.time() - t0
    cfg = _config(seeds, WAVES)

    def construct(c, name):
        t = time.time()
        eng = CrawlEngine(spark, c, os.path.join(ctx.work, name), pages, assets, robots)
        return eng, time.time() - t

    eng, init_s = construct(cfg, "wh")

    run_t0 = time.time()
    out = eng.run()
    run_s = time.time() - run_t0
    walls = wave_walls(eng.wh.root)
    seed_commit = min(c[3] for c in _commits(eng.wh.root) if c[1] == -1)

    # correctness, untimed: exact oracle parity after WAVES waves
    attempted, failed, why = WAVES, 0, []
    oracle_w = SerialOracle(cfg, pages_pd, assets_pd, robots_pd).run()
    got = _engine_state(eng)
    n_bad, reasons = _failed_waves(got, _oracle_state(oracle_w), range(WAVES))
    failed += n_bad
    why += reasons
    if out.aborted or out.waves != WAVES or out.total_fetched != len(got[0]):
        failed = WAVES
        why.append(f"crawl outcome {out} (logged {len(got[0])} fetches)")

    resume_s = export_s = eng_r = None
    if ctx.trace:
        t = time.time()
        exported = eng.export_report(os.path.join(ctx.work, "report.csv"))
        export_s = time.time() - t
        if exported != len(got[2]):
            why.append(f"export wrote {exported} rows for {len(got[2])} report rows")
            failed += 1
        # restart cost: a fresh engine resumes the committed warehouse for
        # one more wave; it must equal the oracle at WAVES + 1 and fetch
        # nothing twice
        cfg_r = dataclasses.replace(cfg, max_waves=WAVES + 1)
        eng_r, _ = construct(cfg_r, "wh")
        attempted += 1
        t = time.time()
        eng_r.run(resume=True)
        resume_s = time.time() - t
        oracle_r = SerialOracle(cfg_r, pages_pd, assets_pd, robots_pd).run()
        got_r = _engine_state(eng_r)
        n_bad, reasons = _failed_waves(got_r, _oracle_state(oracle_r), [WAVES])
        dup = [u for u, n in Counter(u for _, u in got_r[0]).items() if n > 1]
        if dup:
            reasons.append(f"{len(dup)} URLs fetched twice after resume")
        if n_bad or dup:
            failed += 1
            why += [f"resume: {r}" for r in reasons]

    # whole-crawl figures: the seed admission and wave 0 of a fresh JVM
    # both pay JIT compilation
    per_wave = Counter(w for w, _ in got[0])
    res = {
        "attempted": attempted, "failed": failed, "why": why,
        "gen_s": gen_s,
        "setup_s": ctx.session_s + init_s,
        "throughput_per_s": out.total_fetched / run_s,
        "op_latency_s": sum(walls) / len(walls),
        "resume_s": resume_s, "walls": walls, "init_s": init_s, "export_s": export_s,
        "seed_admission_s": seed_commit - run_t0,
    }
    ctx.note("seed_bfs.inputs", f"{N_PAGES} pages, {N_HOSTS} hosts, {len(seeds)} seeds, "
             f"budget {PER_HOST_BUDGET}, {WAVES} waves")
    ctx.note("crawl_urls_per_s", res["throughput_per_s"], "urls/s")
    ctx.note("wave_mean_s", res["op_latency_s"], "s")
    ctx.note("wave_p50_s", median(walls), "s")
    ctx.note("run_s (one run() call, all waves)", run_s, "s")
    ctx.note("seed_admission_s (run() start to wave -1 commit)", res["seed_admission_s"], "s")
    ctx.note("fetched per wave", " ".join(str(per_wave[w]) for w in range(WAVES)))
    ctx.note("wave_walls_s", " ".join(f"{w:.2f}" for w in walls))
    if resume_s is not None:
        ctx.note("resume_wave_s", resume_s, "s")
        ctx.note("export_report_s", export_s, "s")
    # adaptive branches, read from public state after the run
    ctx.note("branch.host_state_lsm_buckets", eng.wh.num_buckets("host_state"))
    ctx.note("branch.seed_scope", "seeds table" if eng.seeds_df is not None else "isin list")
    ctx.note("branch.bloom_residency",
             "driver-light" if eng.bloom is not None and eng.bloom.slices is None else "driver")
    ctx.note("branch.politeness_join",
             "broadcast" if eng.n_hosts <= cfg.host_state_broadcast_max_rows else "shuffle")
    ctx.note("branch.early_commit",
             "cannot engage: "
             f"{spark.sparkContext.defaultParallelism} task slots < "
             f"early_commit_min_parallelism={cfg.early_commit_min_parallelism}"
             if spark.sparkContext.defaultParallelism < cfg.early_commit_min_parallelism
             else "may engage on batches >= early_commit_min_batch")

    if ctx.trace:
        res["layers"] = _layers(ctx, eng, eng_r, got, res)
    return res


# ----------------------------------------------------------- per-layer
def _layers(ctx, eng, eng_r, got, res) -> dict:
    import numpy as np

    from perfbench.harness import cores
    from perfbench.tracing import busy_union, read_event_log

    tr = ctx.tracer
    log = got[0]
    waves = WAVES
    out = {}

    def per_call(name):
        spans = tr.by_name(name)
        return sum(s["end"] - s["start"] for s in spans) / len(spans) if spans else 0.0

    # plans.crawl
    run_span = min(tr.by_name("plans.crawl.run"), key=lambda s: s["start"])
    out["plans.crawl.init_s"] = res["init_s"]
    out["plans.crawl.seed_admission_s"] = res["seed_admission_s"]
    out["plans.crawl.wave_s"] = res["op_latency_s"]
    out["plans.crawl.resume_wave_s"] = res["resume_s"]
    out["plans.crawl.throughput_per_s"] = res["throughput_per_s"]
    lazy = ["operators.politeness.select_batch", "operators.politeness.host_state_updates",
            "operators.verify.verify_batch", "operators.extract.extract_links_jvm",
            "operators.dedup.first_wins_in_batch", "operators.dedup.anti_join_seen",
            "functions.urls.with_canonical_url_2step", "state.bloom.probe_col"]
    in_run = [s for s in tr.spans if run_span["start"] <= s["start"] <= run_span["end"]]
    # outermost lazy calls only: canonicalization also runs inside others
    out["plans.crawl.driver_build_s"] = sum(
        s["end"] - s["start"] for s in in_run
        if s["name"] in lazy and s["parent"] not in lazy) / waves
    # per-wave counters from the commit metrics
    commits = [c for c in _commits(eng.wh.root) if not c[2].get("compaction")]
    counter0 = next(c[2].get("counter", 0) for c in commits if c[1] == -1)
    counter_w = [c[2].get("counter", 0) for c in commits if c[1] == waves - 1][0]

    ev = read_event_log(ctx.event_dir)
    jobs, stages = ev["jobs"], ev["stages"]
    rs, re_ = run_span["start"], run_span["end"]
    run_jobs = [j for j in jobs.values() if j["end"] and rs <= j["start"] <= re_]
    run_stages = [s for s in stages.values() if rs <= s["start"] <= re_]
    out["plans.crawl.job_s"] = busy_union([(j["start"], j["end"]) for j in run_jobs]) / waves
    out["plans.crawl.jobs_per_wave"] = len(run_jobs) / waves
    task_s = sum(s["run_s"] for s in run_stages)
    out["plans.crawl.core_busy_frac"] = task_s / ((re_ - rs) * cores())

    # executor seconds per phase, by stage owner (tracing.read_event_log):
    # the select+verify checkpoint is materialized by the wave-stats collect
    # in CrawlEngine._run; the admit rank job runs inside
    # bucketed_global_rank; table and bloom writes inside state.*
    def owned(*prefixes):
        return [s for s in run_stages if (s["owner"] or "").startswith(prefixes)]

    def exec_s(stages):
        return sum(s["run_s"] for s in stages) / waves

    admit = owned("operators.rank", "plans.crawl:CrawlEngine._admit")
    out["operators.politeness.select_verify_exec_s"] = exec_s(
        owned("plans.crawl:CrawlEngine._run"))
    out["operators.rank.admit_exec_s"] = exec_s(admit)
    out["state.tables.exec_s"] = exec_s(owned("state.tables"))
    out["state.bloom.exec_s"] = exec_s(owned("state.bloom"))
    rank_tasks = [t for s in admit for t in s["task_run"]]
    out["operators.rank.task_max_over_median"] = (
        max(rank_tasks) / median(rank_tasks) if rank_tasks and median(rank_tasks) > 0 else 0.0)
    admitted = counter_w - counter0
    out["operators.rank.shuffle_bytes_per_admitted_row"] = (
        sum(s["shuffle_write"] for s in admit) / admitted if admitted else 0.0)

    # politeness: batch shape from crawl_log
    per_wave = defaultdict(list)
    for w, u in log:
        per_wave[w].append(u.split("/")[2])
    sizes = [len(v) for v in per_wave.values()]
    out["operators.politeness.select_batch.build_s"] = per_call("operators.politeness.select_batch")
    out["operators.politeness.batch_rows"] = sum(sizes) / waves
    out["operators.politeness.hosts_per_batch"] = sum(
        len(set(v)) for v in per_wave.values()) / waves
    out["operators.politeness.max_host_share"] = max(
        max(Counter(v).values()) / len(v) for v in per_wave.values())
    out["operators.verify.prepare_pages_store_s"] = per_call("operators.verify.prepare_pages_store")
    out["operators.verify.verify_batch.build_s"] = per_call("operators.verify.verify_batch")
    out["operators.extract.extract_links_jvm.build_s"] = per_call(
        "operators.extract.extract_links_jvm")
    out["operators.extract.new_urls_per_fetched"] = admitted / max(len(log), 1)
    out["operators.dedup.first_wins_in_batch.build_s"] = per_call(
        "operators.dedup.first_wins_in_batch")
    out["operators.dedup.anti_join_seen.build_s"] = per_call("operators.dedup.anti_join_seen")
    out["functions.urls.with_canonical_url_2step.build_s"] = per_call(
        "functions.urls.with_canonical_url_2step")

    # state.bloom
    bloom_names = ["state.bloom.build_update", "state.bloom.merge_update_spark",
                   "state.bloom.probe_col"]
    out["state.bloom.busy_s"] = sum(tr.total(n) for n in bloom_names) / waves
    bloom = eng.bloom
    out["state.bloom.filter_bytes"] = (
        sum(len(s) for s in bloom.slices) if bloom is not None and bloom.slices else 0)
    if bloom is not None and bloom.slices:
        known = {r["key_hash"] for r in eng.read_seen().select("key_hash").collect()}
        probe = np.random.default_rng(ctx.seed).integers(
            -(2**63), 2**63 - 1, 400_000, dtype=np.int64)
        probe = probe[~np.isin(probe, np.fromiter(known, dtype=np.int64))]
        out["state.bloom.fp_rate_measured"] = float(bloom.contains_hashes(probe).mean())
    else:
        out["state.bloom.fp_rate_measured"] = 0.0

    # state.tables: busy time and calls per method, files/bytes per table
    methods = ["append_ranged", "append_bucketed", "append", "overwrite", "compact_bucketed",
               "commit"]
    in_crawl = [s for s in tr.spans if s["name"].startswith("state.tables.")
                and rs <= s["start"] <= re_]
    for m in methods:
        ss = [s for s in in_crawl if s["name"] == f"state.tables.{m}"]
        out[f"state.tables.{m}_s"] = sum(s["end"] - s["start"] for s in ss) / waves
        out[f"state.tables.{m}_calls"] = len(ss) / waves
    out["state.tables.busy_s"] = sum(
        s["end"] - s["start"] for s in in_crawl
        if s["name"] != "state.tables.ranged_leaf_count") / waves
    leaves = [s["result"] for s in in_crawl if s["name"] == "state.tables.ranged_leaf_count"
              and s["result"] is not None]
    out["state.tables.frontier_leaves_per_wave"] = sum(leaves) / len(leaves) if leaves else 0.0
    files = _table_files(eng_r.wh.root)
    waves_r = waves + 1
    for t in ("frontier", "seen", "report", "host_state", "crawl_log"):
        n, b = files.get(t, (0, 0))
        out[f"state.tables.{t}.files_per_wave"] = n / waves_r
        out[f"state.tables.{t}.bytes_per_wave"] = b / waves_r
    out["state.tables.host_state_lsm_buckets"] = eng_r.wh.num_buckets("host_state")

    out["sinks.export_report_s"] = res["export_s"]
    return out
