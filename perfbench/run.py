"""helix-spark benchmark: one workload per invocation, in a fresh JVM at
``local[nproc]``.

    python3 perfbench/run.py --workload seed_bfs --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` before
any timing. ``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is
a separate run with spans and the Spark event log on, and reports the
per-layer metrics. Human-readable lines (every metric with its unit, the
correctness findings, adaptive branches, CPU steal) come first; the last
stdout line is one JSON object: correct, attempted, failed, metrics. Metric
names and units come from BENCHMARK.json. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("seed_bfs", "query_battery")


def _spark_wide(ctx) -> dict:
    """Task time, GC, shuffle and spill over the whole traced run, and the
    per-call-site table printed with it."""
    from perfbench.tracing import read_event_log

    stages = read_event_log(ctx.event_dir)["stages"].values()
    by_site = {}
    for s in stages:
        row = by_site.setdefault(s["owner"] or "(untraced)", [0, 0.0, 0])
        row[0] += 1
        row[1] += s["run_s"]
        row[2] += s["shuffle_write"]
    ctx.notes.append("executor time by owner (call site or span): stages, task s, shuffle write B")
    for site, (n, run_s, sw) in sorted(by_site.items(), key=lambda kv: -kv[1][1]):
        ctx.notes.append(f"  {site:<58s} {n:4d} {run_s:9.3f} {sw:10d}")
    return {
        "spark.task_s": sum(s["run_s"] for s in stages),
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
        "spark.stages": len(stages),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # both workloads run a fixed amount of work (README.md, "Run length")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    # the program must be present before anything starts
    import helix_spark.plans.crawl  # noqa: F401

    ctx = harness.Ctx(args.workload, args.seed, bool(args.trace))
    harness.prepare_env(ctx)
    sys.path.insert(0, os.path.join(harness.ROOT, "scripts"))
    from ab_harness import steal_window

    from perfbench import query_battery, seed_bfs
    from perfbench.tracing import RssSampler, Tracer, install_spans

    workload = {"seed_bfs": seed_bfs, "query_battery": query_battery}[args.workload]
    if ctx.trace:
        ctx.tracer = Tracer()
        install_spans(ctx.tracer)
    # the RSS sampler walks /proc several times a second, so it runs only
    # in the traced run, whose figures are per layer
    rss = RssSampler() if ctx.trace else contextlib.nullcontext()
    try:
        with rss, steal_window() as steal:
            harness.start_spark(ctx)
            res = workload.run(ctx)
        harness.stop_spark(ctx)
        layers = res.get("layers", {})
        if ctx.trace:
            layers.update(_spark_wide(ctx))
            layers["trace.throughput_per_s"] = res["throughput_per_s"]
            layers["trace.op_latency_s"] = res["op_latency_s"]
            ctx.tracer.dump(os.path.join(harness.ROOT, ".perfbench_work",
                                         f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        harness.stop_spark(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)

    values = {
        "setup_s": res["setup_s"],
        "throughput_per_s": res["throughput_per_s"],
        "op_latency_s": res["op_latency_s"],
        **layers,
    }
    if ctx.trace:
        values["process.peak_rss_mb"] = rss.peak_bytes / 2**20
    metrics = {}
    for m in wanted:
        # a layer the workload never calls reads 0 (see README.md)
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}

    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {args.workload}  seed {args.seed}  local[{harness.cores()}]  "
          f"trace {args.trace}")
    for line in ctx.notes:
        print("  " + line)
    print(f"  {'gen_s (input generation, untimed)':<44s} {res['gen_s']:.6g} s")
    print(f"  {'session_start_s':<44s} {ctx.session_s:.6g} s")
    print(f"  {'steal_pct':<44s} {steal.steal_pct} %")
    if ctx.trace:
        print(f"  {'peak_rss_mb (process tree)':<44s} {rss.peak_bytes / 2**20:.6g} MB")
    print(f"  {'failed_share':<44s} {failed / attempted:.6g} ({failed}/{attempted})")
    for why in res["why"]:
        print(f"  FAILED: {why}")
    if ctx.trace:
        print("  span self time, s (calls):")
        calls = {}
        for s in ctx.tracer.spans:
            calls[s["name"]] = calls.get(s["name"], 0) + 1
        for name, v in sorted(ctx.tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"    {name:<52s} {v:9.3f} ({calls[name]})")
    for name, m in metrics.items():
        print(f"  {name:<44s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
