"""Seeded input generation for the benchmark workloads.

Everything here runs before any timed region and is reported as ``gen_s``.
The program under test only ever receives the generated tables.

- ``crawl_universe``: the synthetic web graph of ``helix_spark.sources.
  synthetic`` (the content store the crawl engine fetches from), with host
  names relabelled by a seeded permutation. The relabelling is applied to
  every string column at once, so each seed gives an isomorphic graph: the
  same per-wave batch sizes and the same amount of work, but different URL
  strings, hashes, buckets and physical layouts.
- ``query_tables``: the ``events``, ``documents`` and ``embeddings`` tables
  the battery's queries read, drawn from a seeded numpy generator, and
  written as one parquet file each by ``write_tables``. Sizes, column types
  and shapes follow the sf0.01 and sf0.1 fixture tables the repository's
  query scripts read (measured figures and the comparison are in
  BASELINE.md): uniform text over a 30-word vocabulary, 10–100 words a
  document, nearly every text distinct, and exactly 5% of documents a copy
  of another one's text with " dup" appended.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

_HOST_RE = re.compile(r"host(\d+)\.test")


# ------------------------------------------------------------------ crawl
def crawl_universe(seed: int, n_pages: int, n_hosts: int, n_images: int):
    """(pages, assets, robots) pandas frames of the synthetic web, with host
    ids permuted by ``seed``."""
    from helix_spark.sources import synthetic

    pages = synthetic.gen_pages_py(n_pages, n_hosts)
    assets = synthetic.gen_assets_py(n_pages, n_hosts, n_images)
    robots = synthetic.gen_robots_py(n_hosts)
    perm = np.random.default_rng(seed).permutation(n_hosts)

    def relabel(s):
        return _HOST_RE.sub(lambda m: f"host{perm[int(m.group(1))]}.test", s)

    for df, cols in ((pages, ("url", "html", "redirect_to")),
                     (assets, ("page_url", "asset_url")),
                     (robots, ("host",))):
        for c in cols:
            df[c] = [relabel(v) if isinstance(v, str) else v for v in df[c]]
    return pages, assets, robots


def seed_urls(pages: pd.DataFrame, n_seeds: int) -> list[str]:
    """``n_seeds`` start URLs spread evenly over the page index: html pages
    answering 200, outside robots-disallowed paths (a redirecting seed
    aborts a crawl by design, which is not the regime measured here)."""
    ok = pages[(pages.status_code == 200) & (pages.content_type == "text/html")
               & ~pages.url.str.contains("/private/")]
    step = max(len(ok) // n_seeds, 1)
    return list(ok.url.iloc[::step][:n_seeds])


# ------------------------------------------------------------ query tables
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_LANGS = ["en", "zh", "es", "fr", "de"]


def query_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ``events``, ``documents`` and ``embeddings`` tables the battery
    reads, at scale factor ``sf`` (sf 0.01: 10k events, 500 documents, 500
    embeddings; sf 0.1: 100k, 5,000 and 2,000)."""
    rng = np.random.default_rng(seed)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, pd.DataFrame] = {}
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: uniform vocabulary text; 5% of them, in random order, become
    # another document's current text plus " dup" (so a few copy a copy)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(_VOCAB, n)) for n in lens]
    for i in rng.permutation(n_docs)[: n_docs // 20]:
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
