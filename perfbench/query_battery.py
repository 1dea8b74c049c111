"""Workload ``query_battery``: the analysts' report and dedup queries of
``helix_spark.entry_queries`` on generated tables, warm, each result checked
against its DuckDB ``oracle_sql()`` twin.

Warm-up policy: one untimed pass over the battery right after session start
pays JIT compilation, code generation and every query's first-use costs; it
counts as set-up (``setup_s`` = session start + warm-up pass). A fixed
number of timed passes follows (``TIMED_PASSES``, whatever ``--seconds``
says), so every run and every commit does the same work. A query's latency
is its median over the timed passes: building the DataFrame (driver) plus
``collect()`` (execution). The JIT is still improving after one warm-up
pass (per-pass time fell from 7.7 to 5.7 s over the next five passes at
local[4]), so a fixed pass count also keeps the JVM the same age, about
half a minute, when every figure is taken. One timed pass (about 8 s at
local[4]) keeps a run near 45 s: the warm-up pass alone takes about 24 s.
"""

from __future__ import annotations

import os
import time

from perfbench.harness import Ctx, geomean, median

SF = 0.02
TIMED_PASSES = 1
# bench.py HEADLINE queries that exercise the layers the battery measures:
# URL canonicalization (functions.urls), the text-dedup family
# (operators.textdedup: n-gram Jaccard, MinHash-LSH near-dup pairs, simhash)
# and vector similarity (operators.similarity: LSH ANN)
QUERIES = ["url_canonicalize", "ngram_jaccard", "near_dup_pairs", "simhash", "lsh_ann_topk"]


def _value_hash_fn():
    """The order-insensitive value hash of scripts/check_queries.py."""
    import importlib.util

    from perfbench.harness import ROOT

    spec = importlib.util.spec_from_file_location(
        "check_queries", os.path.join(ROOT, "scripts", "check_queries.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def run(ctx: Ctx) -> dict:
    import duckdb

    from helix_spark.entry_queries import QUERIES as FNS
    from helix_spark.entry_queries import build_oracles
    from perfbench.inputs import query_tables, write_tables

    spark = ctx.spark
    t0 = time.time()
    sf_dir = os.path.join(ctx.work, "tables")
    tables = query_tables(ctx.seed, SF)
    write_tables(tables, sf_dir)
    gen_s = time.time() - t0

    errors = []

    def one(name):
        t = time.time()
        df = FNS[name](spark, sf_dir)
        t1 = time.time()
        rows = df.collect()
        return t1 - t, time.time() - t1, rows, df.columns

    t = time.time()
    for name in QUERIES:
        try:
            one(name)
        except Exception as e:  # the timed pass counts the failure
            errors.append(f"warm-up {name}: {type(e).__name__}: {str(e)[:120]}")
    warmup_s = time.time() - t

    builds = {n: [] for n in QUERIES}
    execs = {n: [] for n in QUERIES}
    results = {}
    attempted = failed = 0
    t_start = time.time()
    for _ in range(TIMED_PASSES):
        for name in QUERIES:
            attempted += 1
            try:
                b, x, rows, cols = one(name)
            except Exception as e:
                failed += 1
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
                continue
            builds[name].append(b)
            execs[name].append(x)
            results[name] = (rows, cols)

    # correctness, outside the timed region: value hash vs the DuckDB twin
    con = duckdb.connect()
    for tname in tables:
        con.execute(f"CREATE VIEW {tname} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, tname + '.parquet')}'")
    oracles = build_oracles()
    value_hash = _value_hash_fn()
    for name, (rows, cols) in results.items():
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if (len(rows) != len(orows) or sorted(cols) != sorted(ocols)
                or value_hash(rows, cols) != value_hash(orows, ocols)):
            # every timed attempt of the query returned this result
            failed += len(builds[name])
            errors.append(f"{name}: result differs from its DuckDB oracle "
                          f"({len(rows)} vs {len(orows)} rows)")
    con.close()

    build = {n: median(v) for n, v in builds.items() if v}
    execute = {n: median(v) for n, v in execs.items() if v}
    lat = {n: median([b + x for b, x in zip(builds[n], execs[n])]) for n in build}
    res = {
        "attempted": attempted, "failed": failed, "why": errors,
        "gen_s": gen_s,
        "setup_s": ctx.session_s + warmup_s,
        "throughput_per_s": len(lat) / sum(lat.values()),
        "op_latency_s": geomean(list(lat.values())),
    }
    ctx.note("query_battery.inputs", f"sf {SF}, {len(QUERIES)} queries, {TIMED_PASSES} timed passes")
    ctx.note("warmup_pass_s", warmup_s, "s")
    ctx.note("query_geomean_s", res["op_latency_s"], "s")
    ctx.note("query_total_s", sum(lat.values()), "s")
    for n in QUERIES:
        if n in lat:
            ctx.note(f"query.{n}_s (build + collect)",
                     f"{lat[n]:.4f} ({build[n]:.4f} + {execute[n]:.4f})", "s")

    if ctx.trace:
        out = {}
        for n in QUERIES:
            out[f"entry_queries.{n}.build_s"] = build.get(n, 0.0)
            out[f"entry_queries.{n}.exec_s"] = execute.get(n, 0.0)
        out["entry_queries.geomean_s"] = res["op_latency_s"]
        tr = ctx.tracer
        timed = [s for s in tr.spans if s["start"] >= t_start]
        for mod in ("operators.textdedup", "operators.similarity"):
            # outermost calls into the module only: its functions nest
            out[f"{mod}.busy_s"] = sum(
                s["end"] - s["start"] for s in timed
                if s["name"].startswith(mod + ".")
                and not (s["parent"] or "").startswith(mod + ".")) / TIMED_PASSES
        canon = [s for s in timed if s["name"] == "functions.urls.with_canonical_url_2step"]
        out["functions.urls.with_canonical_url_2step.build_s"] = (
            sum(s["end"] - s["start"] for s in canon) / len(canon) if canon else 0.0)
        res["layers"] = out
    return res
