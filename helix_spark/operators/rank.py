"""Scalable deterministic global rank — replaces the reference's
IncrementalIdGenerator (/root/reference/Bot/Business/IncrementalIdGenerator.cs:17).

``monotonically_increasing_id`` is not deterministic across runs and a global
``row_number() OVER (ORDER BY ...)`` funnels everything through ONE task.
Earlier designs used repartitionByRange (whose sampler re-runs the child
plan) plus separate count jobs — three scans and two materializations per
call. This version does the whole rank in ONE job and ONE materialization:

1. bucket rows by driver-supplied ordered ``boundaries`` over the primary
   order column (a monotone bucketing — ANY boundary choice yields the same
   final ranks, boundaries only affect load balance, so callers may derive
   them from cheap approximations like a previous phase's
   percentile_approx, or an analytic grid for hash-distributed keys)
2. row_number WITHIN each bucket (window partitioned by bucket — P-way
   parallel, never a global single-task sort)
3. EXACT per-bucket row counts from one tiny agg over the CACHED
   checkpoint blocks (round 4 — these were count_if Observation columns,
   but CollectMetrics evaluates every aggregate per input row, which at
   2×cores columns cost ~25% of the whole admit job and grows with
   cluster size; caller-supplied ``extra_metrics`` stay on the
   Observation because they are few)
4. rank = local_rank − 1 + cumulative bucket offset, attached as a lazy
   projection over the checkpointed result (no recompute of the input)

Determinism: exact iff ``order_cols`` is a total order (include
tiebreakers). The observed counts are exact, so ranks are bit-identical
across runs even when approximate boundaries differ between runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


# Physical-plan capture for the wave-plan-identity evidence (plan_review):
# populated with one entry per bucketed_global_rank / wave-select execution
# when HELIX_SPARK_PLAN_LOG is set. The static-planner design (AQE off in
# the wave loop, cached Column trees, driver-known fanout) depends on the
# admit/select plans staying structurally identical across waves ≥ 1 —
# plan_review normalizes these captures and fails on operator-shape drift.
PLAN_LOG: list[str] = []


def observed_metrics(obs: Observation) -> dict:
    """``obs.get`` tolerant of AQE empty-relation propagation: when the
    observed dataset turns out to be provably EMPTY at runtime, AQE replaces
    the whole subtree — CollectMetrics node included — with EmptyRelation,
    and the observation resolves to a schemaless zero-column row that
    PySpark's row converter rejects. An empty observed row can only mean an
    empty dataset, so every aggregate equals its zero-row value — callers
    read with ``.get(name, default)`` (0 for counts, None for avg/percentile)."""
    try:
        return obs.get
    except Exception:
        jrow = obs._jo.getRow()
        if jrow is not None and jrow.length() == 0:
            return {}
        raise


def free_local_checkpoint(df: DataFrame) -> None:
    """Release the cached blocks behind a localCheckpoint'd DataFrame (or a
    projection over one). localCheckpoint blocks are otherwise freed only
    when the driver GC collects the Python/JVM DataFrame handles — on an
    iterative engine that nondeterministic lag accumulates gigabytes of
    dead blocks and turns into eviction/GC noise (measured: identical waves
    varying 21 s ↔ 61 s). Call ONLY when nothing will read the DataFrame
    again: the truncated lineage cannot recompute freed blocks."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass  # best-effort memory hygiene; never fail the wave over it


def uniform_hash_boundaries(num_buckets: int) -> list[int]:
    """Bucket boundaries for a primary key uniform over the full int64 range
    (e.g. xxhash64 admission keys): an analytic equal-width grid — no data
    pass needed."""
    step = 2**64 // num_buckets
    return [(-(2**63) + i * step) for i in range(1, num_buckets)]


def bucketed_global_rank(
    df: DataFrame,
    order_cols: list[str],
    boundaries: list[int] | None,
    rank_col: str = "priority",
    offset: int = 0,
    extra_metrics: dict[str, Column] | None = None,
    storage_level=None,
    counts_extra: dict[str, Column] | None = None,
) -> tuple[DataFrame, dict[int, int], dict]:
    """Add a 0-based dense global rank (plus ``offset``) by ``order_cols``
    in a single job ending in a single localCheckpoint.

    ``order_cols[0]`` must be an integral column; ``boundaries`` is a sorted
    list of cut points over it (None/[] → one bucket — fine for small
    inputs). ``extra_metrics`` are additional aggregate Columns to observe
    during the same pass (e.g. a category count the caller would otherwise
    pay a separate job for).

    ``counts_extra``: additional aggregate Columns to RIDE the per-bucket
    counts job (the tiny agg over the cached checkpoint blocks) — for
    aggregates too heavy for the Observation (CollectMetrics evaluates per
    input row) that the caller would otherwise pay a separate whole job
    for (e.g. the crawl's new-host bucket set). Each lands in the extras
    dict as the LIST of its per-bucket group values; the caller combines
    (union for sets, sum for counts).

    Returns (ranked df backed by the checkpoint, {bucket: exact row count},
    {extra metric name: value}).
    """
    primary = order_cols[0]
    bounds = sorted(set(int(b) for b in (boundaries or [])))
    n_buckets = len(bounds) + 1
    if bounds:
        pid = None
        for b in bounds:
            term = (F.col(primary) > F.lit(b)).cast("int")
            pid = term if pid is None else pid + term
    else:
        pid = F.lit(0)

    obs = Observation()
    extra_names = list((extra_metrics or {}).keys())
    metrics = [(extra_metrics or {})[n].alias(n) for n in extra_names]

    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_cols])
    pre = df.withColumn("__pid", pid.cast("int"))
    if metrics:
        pre = pre.observe(obs, *metrics)
    pre = pre.withColumn("__lr", F.row_number().over(w))
    if os.environ.get("HELIX_SPARK_VERBOSE"):
        # split driver-side plan work from job execution: executedPlan()
        # forces analysis/optimization/planning on this Dataset's cached
        # QueryExecution, which the localCheckpoint below then reuses
        import time as _time

        t0 = _time.time()
        pre._jdf.queryExecution().executedPlan()
        print(f"[helix-spark]     rank plan-analysis {_time.time() - t0:.1f}s",
              flush=True)
    if os.environ.get("HELIX_SPARK_PLAN_LOG"):
        PLAN_LOG.append("rank:" + pre._jdf.queryExecution().executedPlan().toString())
    # storage_level None → JVM default (deserialized rows); callers on a
    # bandwidth-bound box pass a serialized level (plans/crawl.py
    # _CKPT_LEVEL) so the cached blocks cost bytes, not bus
    _t_ck = None
    if os.environ.get("HELIX_SPARK_VERBOSE"):
        import time as _time

        _t_ck = _time.time()
    ck = pre.localCheckpoint(True, storage_level)
    if _t_ck is not None:
        import time as _time

        print(f"[helix-spark]     rank ckpt-job {_time.time() - _t_ck:.1f}s",
              flush=True)
    got = observed_metrics(obs) if metrics else {}
    # per-bucket EXACT counts via one tiny agg over the CACHED checkpoint
    # blocks — NOT count_if Observation columns: CollectMetrics evaluates
    # every aggregate per input row (~0.25 µs/row/column measured via a
    # bucket-count A/B), so 2×cores columns cost ~25% of the whole admit
    # job at bench scale and the cost grows linearly with cluster size;
    # the hash agg over materialized rows is ~10× cheaper and flat in the
    # bucket count
    counts = {i: 0 for i in range(n_buckets)}
    _t_cn = None
    if os.environ.get("HELIX_SPARK_VERBOSE"):
        import time as _time

        _t_cn = _time.time()
    cx_names = list((counts_extra or {}).keys())
    cx_aggs = [(counts_extra or {})[n].alias(n) for n in cx_names]
    cx_vals: dict[str, list] = {n: [] for n in cx_names}
    for r in ck.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__n"), *cx_aggs
    ).collect():
        counts[int(r["__pid"])] = int(r["__n"])
        for n in cx_names:
            cx_vals[n].append(r[n])
    if _t_cn is not None:
        import time as _time

        print(f"[helix-spark]     rank counts-job {_time.time() - _t_cn:.1f}s",
              flush=True)
    off_expr = None
    acc = offset
    for i in range(n_buckets):
        cond = F.col("__pid") == i
        off_expr = (
            F.when(cond, F.lit(acc)) if off_expr is None else off_expr.when(cond, F.lit(acc))
        )
        acc += counts[i]
    off_expr = off_expr.otherwise(F.lit(offset))
    out = ck.withColumn(
        rank_col, (F.col("__lr") - 1 + off_expr).cast("long")
    ).drop("__pid", "__lr")
    extras = {n: got.get(n) for n in extra_names}
    extras.update(cx_vals)
    return out, counts, extras
