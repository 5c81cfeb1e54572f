"""Independent numpy oracles for every answer the benchmark checks.

All oracles run in page-index space over the generator's expected edge
list; engine results are mapped back through the ``url`` column. Each
``check_*`` returns an error string, or ``None`` when the answer is
right.
"""

from __future__ import annotations

import numpy as np

from .corpus import page_index

RESET = 0.15
DAMPING = 0.85


class IdMap:
    """Engine vertex id <-> page index, from a collected (id, url) table."""

    def __init__(self, vertices_pdf, n_pages: int):
        ids = vertices_pdf["id"].to_numpy(np.int64)
        idx = page_index(vertices_pdf["url"])
        order = np.argsort(ids)
        self.sorted_ids, self.sorted_idx = ids[order], idx[order]
        self.indices = np.sort(idx)
        self.id_of = np.zeros(n_pages, dtype=np.int64)
        self.id_of[idx] = ids
        self.collisions = len(ids) - len(np.unique(ids))

    def to_index(self, ids) -> np.ndarray:
        ids = np.asarray(ids, dtype=np.int64)
        pos = np.clip(np.searchsorted(self.sorted_ids, ids), 0,
                      len(self.sorted_ids) - 1)
        if not np.array_equal(self.sorted_ids[pos], ids):
            raise KeyError("engine id without a vertex row")
        return self.sorted_idx[pos]


def check_graph(edges_pdf, imap: IdMap, src, dst, vertices) -> str | None:
    """Ingested graph == expected link graph: same vertex set, no id
    collisions, and exactly the expected (src, dst) pairs."""
    if imap.collisions:
        return f"{imap.collisions} url hash collisions"
    if not np.array_equal(imap.indices, np.sort(vertices)):
        return (f"vertex set differs: {len(imap.indices)} engine vs "
                f"{len(vertices)} expected")
    try:
        s = imap.to_index(edges_pdf["src"].to_numpy())
        d = imap.to_index(edges_pdf["dst"].to_numpy())
    except KeyError as exc:
        return str(exc)
    n = len(imap.id_of)
    got, want = np.sort(s * n + d), np.sort(src * n + dst)
    if not np.array_equal(got, want):
        return f"edge set differs: {len(got)} engine vs {len(want)} expected"
    return None


def pagerank_power(src, dst, n: int, iterations: int) -> np.ndarray:
    """Synchronous unnormalized PageRank from rank 1.0, ``iterations``
    supersteps (dangling vertices contribute nothing)."""
    deg = np.bincount(src, minlength=n)
    inv_deg = np.where(deg > 0, 1.0 / np.maximum(deg, 1), 0.0)
    x = np.ones(n)
    for _ in range(iterations):
        x = RESET + DAMPING * np.bincount(dst, weights=x[src] * inv_deg[src], minlength=n)
    return x


def delta_pagerank(src, dst, n: int, tol: float, supersteps: int,
                   acc=None, sent=None):
    """Delta PageRank with a gather cache: ``acc`` caches each vertex's
    gather, ``sent`` the contribution each source last emitted. Per
    superstep only changed sources emit ``rank / out_deg - sent`` and
    receivers fold it into ``acc``; a source re-signals while its unsent
    change exceeds ``tol``. Cold start when ``acc`` is None, else a warm
    start from a previous run's (acc, sent). Returns (rank, acc, sent)."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    live = deg > 0
    safe_deg = np.where(live, deg, 1.0)
    if acc is None:
        acc, sent, rank = np.zeros(n), np.zeros(n), np.ones(n)
        changed = live
    else:
        rank = RESET + DAMPING * acc
        changed = live & (np.abs(rank - sent * deg) > tol)
    for _ in range(supersteps):
        emitted = np.where(changed, rank / safe_deg, sent)
        d = np.where(changed, emitted - sent, 0.0)
        acc = acc + np.bincount(dst, weights=d[src], minlength=n)
        rank = RESET + DAMPING * acc
        sent = emitted
        changed = live & (np.abs(rank - sent * deg) > tol)
        if not changed.any():
            break
    return rank, acc, sent


def check_ranks(state_pdf, imap: IdMap, want: np.ndarray, what: str) -> str | None:
    """Per-vertex ranks equal the oracle's up to float summation order."""
    idx = imap.to_index(state_pdf["id"].to_numpy())
    if not np.array_equal(np.sort(idx), imap.indices):
        return "rank state vertex set differs from the graph's"
    got, want = state_pdf["rank"].to_numpy(np.float64), want[idx]
    err = np.abs(got - want)
    bad = err > 1e-9 * np.maximum(1.0, np.abs(want))
    if bad.any():
        return f"{int(bad.sum())} ranks differ from {what} (max {err.max():.3g})"
    return None


def components(src, dst, ids: np.ndarray) -> np.ndarray:
    """Min-label propagation to fixpoint over the undirected graph;
    labels are engine ids, so each vertex ends on its component's
    minimum engine id."""
    lab = ids.copy()
    while True:
        nl = lab.copy()
        np.minimum.at(nl, dst, lab[src])
        np.minimum.at(nl, src, lab[dst])
        if np.array_equal(nl, lab):
            return lab
        lab = nl


def check_components(state_pdf, imap, src, dst) -> str | None:
    idx = imap.to_index(state_pdf["id"].to_numpy())
    if not np.array_equal(np.sort(idx), imap.indices):
        return "component state vertex set differs from the graph's"
    want = components(src, dst, imap.id_of)[idx]
    got = state_pdf["component"].to_numpy(np.int64)
    bad = got != want
    if bad.any():
        return f"{int(bad.sum())} vertices in the wrong component"
    return None


def label_propagation(src, dst, ids: np.ndarray, rounds: int) -> np.ndarray:
    """Synchronous label propagation over the ALL_EDGES multiset: each
    vertex takes its neighbours' most frequent label, ties to the
    smallest engine id; isolated vertices keep their label."""
    recv = np.concatenate([dst, src])
    send = np.concatenate([src, dst])
    lab = ids.copy()
    for _ in range(rounds):
        lbl = lab[send]
        o = np.lexsort((lbl, recv))
        r, lv = recv[o], lbl[o]
        first = np.ones(len(r), dtype=bool)
        first[1:] = (r[1:] != r[:-1]) | (lv[1:] != lv[:-1])
        starts = np.flatnonzero(first)
        cnt = np.diff(np.append(starts, len(r)))
        ru, lu = r[starts], lv[starts]
        o2 = np.lexsort((lu, -cnt, ru))
        ru, lu = ru[o2], lu[o2]
        head = np.ones(len(ru), dtype=bool)
        head[1:] = ru[1:] != ru[:-1]
        nl = lab.copy()
        nl[ru[head]] = lu[head]
        if np.array_equal(nl, lab):
            break
        lab = nl
    return lab


def check_labels(state_pdf, imap, src, dst, rounds: int) -> str | None:
    idx = imap.to_index(state_pdf["id"].to_numpy())
    if not np.array_equal(np.sort(idx), imap.indices):
        return "label state vertex set differs from the graph's"
    want = label_propagation(src, dst, imap.id_of, rounds)[idx]
    got = state_pdf["label"].to_numpy(np.int64)
    bad = got != want
    if bad.any():
        return f"{int(bad.sum())} labels differ after {rounds} rounds"
    return None


def triangle_total(src, dst) -> int:
    """Triangles of the undirected simple graph: orient each edge from
    the lower to the higher (degree, index) endpoint and intersect
    out-neighbourhoods."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    m = int(b.max()) + 1
    pairs = np.unique(a * m + b)
    a, b = pairs // m, pairs % m
    deg = np.bincount(np.concatenate([a, b]))
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    lo, hi = np.where(a_first, a, b), np.where(a_first, b, a)
    out: dict[int, set] = {}
    for u, v in zip(lo.tolist(), hi.tolist()):
        out.setdefault(u, set()).add(v)
    empty: set = set()
    return sum(len(out[u] & out.get(v, empty))
               for u, v in zip(lo.tolist(), hi.tolist()))
