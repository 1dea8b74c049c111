"""Measurement plumbing: spans around the program's public functions, the
Spark event-log reader, and a process-tree RSS sampler.

Spans are recorded only in a traced run (``install_spans``). Each span keeps
name, start, end, thread and parent span; they stay in memory and are
written out when the run ends. A span also tags the Spark jobs submitted
inside it (thread-local property ``perfbench.span``). Executor time comes
from the event log: a stage is charged to the ``helix_spark`` function at
its call site when PySpark recorded one (DataFrame ``collect``), otherwise
to the span that submitted its job (writes and checkpoints run inside the
wrapped functions).
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import re
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"

# public functions wrapped in a traced run: (module, attribute) pairs; a
# "Class.method" attribute wraps the method on the class. Every other
# helix_spark module that bound a function with ``from … import`` (plans.crawl,
# entry_queries, operators.verify, …) is re-pointed to the wrapper too.
WRAPPED = [
    ("helix_spark.plans.crawl", "CrawlEngine.__init__"),
    ("helix_spark.plans.crawl", "CrawlEngine.run"),
    ("helix_spark.plans.crawl", "CrawlEngine.export_report"),
    ("helix_spark.operators.politeness", "select_batch"),
    ("helix_spark.operators.politeness", "host_state_updates"),
    ("helix_spark.operators.verify", "prepare_pages_store"),
    ("helix_spark.operators.verify", "verify_batch"),
    ("helix_spark.operators.extract", "extract_links_jvm"),
    ("helix_spark.operators.dedup", "first_wins_in_batch"),
    ("helix_spark.operators.dedup", "anti_join_seen"),
    ("helix_spark.operators.rank", "bucketed_global_rank"),
    ("helix_spark.functions.urls", "with_canonical_url_2step"),
    ("helix_spark.state.bloom", "PartitionedBloom.build_update"),
    ("helix_spark.state.bloom", "PartitionedBloom.merge_update_spark"),
    ("helix_spark.state.bloom", "PartitionedBloom.probe_col"),
    ("helix_spark.state.tables", "SnapshotWarehouse.append"),
    ("helix_spark.state.tables", "SnapshotWarehouse.append_ranged"),
    ("helix_spark.state.tables", "SnapshotWarehouse.append_bucketed"),
    ("helix_spark.state.tables", "SnapshotWarehouse.overwrite"),
    ("helix_spark.state.tables", "SnapshotWarehouse.overwrite_bucketed"),
    ("helix_spark.state.tables", "SnapshotWarehouse.compact_bucketed"),
    ("helix_spark.state.tables", "SnapshotWarehouse.prune_ranged"),
    ("helix_spark.state.tables", "SnapshotWarehouse.commit"),
    ("helix_spark.state.tables", "SnapshotWarehouse.ranged_leaf_count"),
    ("helix_spark.sinks", "export_report"),
    ("helix_spark.operators.textdedup", "near_dup_pairs"),
    ("helix_spark.operators.textdedup", "ngram_jaccard_pairs"),
    ("helix_spark.operators.textdedup", "minhash_signature"),
    ("helix_spark.operators.similarity", "lsh_ann_topk"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None  # SparkContext, for job tagging

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        rec = {"name": name, "thread": threading.current_thread().name,
               "parent": stack[-1]["name"] if stack else None,
               "start": time.time(), "end": None, "result": None}
        stack.append(rec)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, name)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, (int, float)) and not isinstance(out, bool):
                rec["result"] = out
            return out
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append(rec)

    # ----------------------------------------------------------- queries
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name))

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its same-thread children cover,
        summed per name."""
        kids = defaultdict(float)
        by_thread = defaultdict(list)
        for s in self.spans:
            by_thread[s["thread"]].append(s)
        for spans in by_thread.values():
            spans.sort(key=lambda s: (s["start"], -s["end"]))
            stack: list[dict] = []
            for s in spans:
                while stack and stack[-1]["end"] <= s["start"]:
                    stack.pop()
                if stack:
                    kids[id(stack[-1])] += s["end"] - s["start"]
                stack.append(s)
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - kids[id(s)]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def install_spans(tracer: Tracer) -> None:
    """Wrap every WRAPPED function with a span named
    ``<module without helix_spark.>.<attr>``, in its defining module and
    wherever a loaded ``helix_spark`` module holds the same function."""
    import importlib
    import sys

    # load every module that may bind a wrapped function before re-pointing
    for m in ("helix_spark.plans.crawl", "helix_spark.entry_queries"):
        importlib.import_module(m)
    for mod_name, attr in WRAPPED:
        mod = importlib.import_module(mod_name)
        short = mod_name.removeprefix("helix_spark.")
        if "." in attr:
            cls_name, meth = attr.split(".")
            owner = getattr(mod, cls_name)
            name = f"{short}.{meth.strip('_') or meth}"
        else:
            owner, meth, name = mod, attr, f"{short}.{attr}"
        orig = getattr(owner, meth)

        def make(orig=orig, name=name):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                return tracer.span(name, orig, *a, **k)
            return wrapper

        wrapped = make()
        setattr(owner, meth, wrapped)
        if owner is not mod:
            continue  # a method: every caller reaches it through the class
        for mname, other in list(sys.modules.items()):
            if mname.startswith("helix_spark.") and other is not None:
                for k, v in list(vars(other).items()):
                    if v is orig:
                        setattr(other, k, wrapped)


# --------------------------------------------------------------- event log
def read_event_log(event_dir: str) -> dict:
    """Jobs, stages and task totals from the Spark event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(event_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0, "end": None,
                        "stages": ev.get("Stage IDs", []),
                        "span": (ev.get("Properties") or {}).get(SPAN_PROP),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]] = {
                        # PySpark names a stage after its Python call site,
                        # "<action> at <file>:<line>"
                        "name": si.get("Stage Name", ""),
                        "start": (si.get("Submission Time") or 0) / 1000.0,
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    stage_tasks[ev["Stage ID"]].append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    stage_span = {sid: j["span"] for j in jobs.values() for sid in j["stages"]}
    for sid, st in stages.items():
        tasks = stage_tasks.get(sid, [])
        st["run_s"] = sum(t["run_s"] for t in tasks)
        st["task_run"] = sorted(t["run_s"] for t in tasks)
        st["gc_s"] = sum(t["gc_s"] for t in tasks)
        st["shuffle_write"] = sum(t["shuffle_write"] for t in tasks)
        st["spill"] = sum(t["spill"] for t in tasks)
        st["site"] = callsite(st["name"])
        st["span"] = stage_span.get(sid)
        st["owner"] = st["site"] or st["span"]
    return {"jobs": jobs, "stages": stages}


@functools.cache
def _functions_of(path: str) -> list:
    """(first line, last line, qualified name) of every def in a file."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []

    def walk(node, prefix):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                q = f"{prefix}{ch.name}"
                if not isinstance(ch, ast.ClassDef):
                    out.append((ch.lineno, ch.end_lineno, q))
                walk(ch, q + ".")
            else:
                walk(ch, prefix)

    walk(tree, "")
    return out


def callsite(text: str) -> str | None:
    """The ``helix_spark`` frame of a stage's call site as
    ``module:function`` (innermost def enclosing the line)."""
    m = re.search(r"(/[^\s:]*?/helix_spark/[^\s:]+\.py):(\d+)", text)
    if m is None:
        return None
    path, line = m.group(1), int(m.group(2))
    mod = path[path.rindex("/helix_spark/") + len("/helix_spark/"):-3].replace("/", ".")
    inner = [(lo, q) for lo, hi, q in _functions_of(path) if lo <= line <= hi]
    return f"{mod}:{max(inner)[1] if inner else '?'}"


def busy_union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------- RSS
class RssSampler:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return False
