"""Seeded crawl corpora for the benchmark: generation, caching, and the
page-index view of the link graph the oracles work on.

The engine only ever sees the Parquet pages table written here. The
oracle side rebuilds the same link graph in page-index space from
``webtext.pages.expected_edges`` (the generator's own driver-side edge
list) and maps engine vertex ids back to page indices through the
``url`` column.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np

from powergraph_spark.webtext import write_pages_table
from powergraph_spark.webtext.pages import expected_edges

ALPHA = 1.6
MAX_OUT = 256
N_SITES = 256


@dataclass(frozen=True)
class Corpus:
    n_pages: int
    seed: int

    def key(self, generator_digest: str) -> str:
        return (f"pages-n{self.n_pages}-a{ALPHA}-m{MAX_OUT}-s{N_SITES}"
                f"-seed{self.seed}-{generator_digest}")


def generator_digest(root: str) -> str:
    """Cache-key component that changes whenever the generator does."""
    h = hashlib.sha256()
    for rel in ("pages.py", "reference_parser.py"):
        with open(os.path.join(root, "powergraph_spark", "webtext", rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_table(spark, corpus: Corpus, cache_dir: str, digest: str) -> str:
    """Write the pages table once per (corpus, generator) and return its
    path. A half-written table (no _SUCCESS) is regenerated."""
    path = os.path.join(cache_dir, corpus.key(digest))
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        write_pages_table(spark, path, n_pages=corpus.n_pages, n_sites=N_SITES,
                          seed=corpus.seed, alpha=ALPHA, max_out=MAX_OUT)
    return path


def ensure_shards(spark, path: str, cut: int) -> dict[str, str]:
    """Split a cached pages table by page index into the base crawl
    (index < cut) and the appended shard, each its own table."""
    from pyspark.sql import functions as F

    idx = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    out = {}
    for name, cond in (("base", idx < cut), ("new", idx >= cut)):
        p = f"{path}-{name}{cut}"
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            shutil.rmtree(p, ignore_errors=True)
            spark.read.parquet(path).filter(cond).write.parquet(p)
        out[name] = p
    return out


def page_index(urls) -> np.ndarray:
    """Generator urls end in /page/<index>."""
    return np.array([int(u.rsplit("/", 1)[1]) for u in urls], dtype=np.int64)


class LinkGraph:
    """The expected link graph in page-index space (src, dst arrays)."""

    def __init__(self, corpus: Corpus):
        e = np.array(expected_edges(corpus.n_pages, corpus.seed, ALPHA, MAX_OUT),
                     dtype=np.int64).reshape(-1, 2)
        self.n = corpus.n_pages
        self.src, self.dst = e[:, 0], e[:, 1]

    def restrict_sources(self, below: int) -> tuple[np.ndarray, np.ndarray]:
        """Edges whose source page index is below ``below`` (a crawl
        shard split by page index)."""
        keep = self.src < below
        return self.src[keep], self.dst[keep]
