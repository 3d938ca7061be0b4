"""Independent reference answers the benchmark checks the engine against.

Spatial oracles are numpy brute force with the engine's contract: the
distance is sqrt(dx*dx + dy*dy) in float64 and ties break by (dist, id).
Text oracles recompute word n-grams, Jaccard, union-find components and
the token-budget prefix in plain Python.
"""

from __future__ import annotations

import numpy as np

DIST_RTOL = 1e-12


def _step(n: int) -> int:
    """Query rows per distance block: a block holds about 2M distances."""
    return max(1, 2_000_000 // max(n, 1))


def _dists(q: np.ndarray, xy: np.ndarray) -> np.ndarray:
    dx = q[:, None, 0] - xy[None, :, 0]
    dy = q[:, None, 1] - xy[None, :, 1]
    return np.sqrt(dx * dx + dy * dy)


def knn(xy: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[list[tuple]]:
    """Per query row: the k nearest (dist, id), ordered by (dist, id)."""
    out = []
    step = _step(len(xy))
    for s in range(0, len(q), step):
        d = _dists(q[s : s + step], xy)
        kk = min(k, len(ids))
        kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
        for row, t in zip(d, kth):
            sel = np.flatnonzero(row <= t)
            order = np.lexsort((ids[sel], row[sel]))[:kk]
            out.append([(float(row[sel[j]]), int(ids[sel[j]])) for j in order])
    return out


def within(xy: np.ndarray, ids: np.ndarray, q: np.ndarray, radius: np.ndarray) -> list[list[tuple]]:
    """Per query row: every (dist, id) with dist <= radius, by (dist, id)."""
    out = []
    step = _step(len(xy))
    for s in range(0, len(q), step):
        d = _dists(q[s : s + step], xy)
        for row, r in zip(d, radius[s : s + step]):
            sel = np.flatnonzero(row <= r)
            order = np.lexsort((ids[sel], row[sel]))
            out.append([(float(row[sel[j]]), int(ids[sel[j]])) for j in order])
    return out


def kth_dist_all(xy: np.ndarray, k: int) -> np.ndarray:
    """Exact distance from every point to its k-th nearest point, the point
    itself counting as the first (the graph's rank-k distance).

    Grid search from fine cells to coarse ones: a point's k-th distance
    found among its 3x3 cell block is exact once it is no larger than the
    point's distance to the block edge.  The points that fail that test
    try again on cells four times as wide; a full scan ends it."""
    n = len(xy)
    kk = min(k, n)
    out = np.full(n, np.inf)
    x0, y0 = xy.min(axis=0)
    extent = float(max(np.ptp(xy[:, 0]), np.ptp(xy[:, 1]))) or 1.0
    todo = np.arange(n)
    cs = extent / 1024
    while len(todo) and cs < extent / 2:
        todo = _kth_in_blocks(xy, xy - (x0, y0), todo, kk, cs, out)
        cs *= 4
    for b in range(0, len(todo), _step(n)):
        rows = todo[b : b + _step(n)]
        out[rows] = np.partition(_dists(xy[rows], xy), kk - 1, axis=1)[:, kk - 1]
    return out


def _kth_in_blocks(
    xy: np.ndarray, p: np.ndarray, todo: np.ndarray, kk: int, cs: float, out: np.ndarray
) -> np.ndarray:
    """One grid level of ``kth_dist_all``: cells over ``p`` (the points
    offset to start at 0), distances from ``xy``.  Fills ``out`` for the
    ``todo`` points it settles and returns the rest."""
    cx = np.floor(p[:, 0] / cs).astype(np.int64) + 1  # +1: no negative neighbour
    cy = np.floor(p[:, 1] / cs).astype(np.int64) + 1
    m = int(cy.max()) + 2
    key = cx * m + cy
    order = np.argsort(key, kind="stable")
    uniq, starts = np.unique(key[order], return_index=True)
    ends = np.append(starts[1:], len(p))
    span = dict(zip(uniq.tolist(), zip(starts.tolist(), ends.tolist())))
    mine_all = todo[np.argsort(key[todo], kind="stable")]
    cells, first = np.unique(key[mine_all], return_index=True)
    last = np.append(first[1:], len(mine_all))
    failed = []
    for ck, s, e in zip(cells.tolist(), first.tolist(), last.tolist()):
        mine = mine_all[s:e]
        cand = np.concatenate(
            [
                order[slice(*span[ck + dx * m + dy])]
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if ck + dx * m + dy in span
            ]
        )
        if len(cand) < kk:
            failed.append(mine)
            continue
        ix, iy = divmod(ck, m)
        for b in range(0, len(mine), _step(len(cand))):
            rows = mine[b : b + _step(len(cand))]
            kth = np.partition(_dists(xy[rows], xy[cand]), kk - 1, axis=1)[:, kk - 1]
            px, py = p[rows, 0], p[rows, 1]
            edge = np.minimum.reduce(
                [px - (ix - 2) * cs, (ix + 1) * cs - px, py - (iy - 2) * cs, (iy + 1) * cs - py]
            )
            ok = kth <= edge
            out[rows[ok]] = kth[ok]
            failed.append(rows[~ok])
    return np.concatenate(failed) if failed else todo[:0]


def reverse_knn(xy: np.ndarray, ids: np.ndarray, kd: np.ndarray, q: np.ndarray) -> list[list[tuple]]:
    """Per query row: every point whose k-NN ball covers it, by (dist, id)."""
    out = []
    step = _step(len(xy))
    for s in range(0, len(q), step):
        d = _dists(q[s : s + step], xy)
        for row in d:
            sel = np.flatnonzero(row <= kd)
            order = np.lexsort((ids[sel], row[sel]))
            out.append([(float(row[sel[j]]), int(ids[sel[j]])) for j in order])
    return out


def same_neighbors(got: list[tuple], want: list[tuple]) -> bool:
    """Equal (dist, id) lists: ids exactly, distances to float64 rounding."""
    if len(got) != len(want):
        return False
    for (gd, gi), (wd, wi) in zip(got, want):
        if gi != wi or abs(gd - wd) > DIST_RTOL * max(1.0, abs(wd)):
            return False
    return True


# ---------------------------------------------------------------------------
# text


def shingles(text: str, n: int) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over an undirected pair list: node -> smallest node id of
    its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def contamination_hits(texts: dict[int, str], bench: list[str], n: int) -> dict[int, int]:
    grams = set().union(*(shingles(t, n) for t in bench))
    hits = {d: len(shingles(t, n) & grams) for d, t in texts.items()}
    return {d: h for d, h in hits.items() if h > 0}


_FP_MOD = 1 << 64
_FP_MASK = (1 << 63) - 1


def fingerprint(text: str) -> int:
    """Polynomial rolling hash over code points, base 1000003, mod 2^63."""
    h = 0
    for c in text:
        h = (h * 1000003 + ord(c)) % _FP_MOD
    return h & _FP_MASK


_ALPHA = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def text_stats(text: str) -> tuple[int, int, float]:
    """(n_chars, n_tokens, quality_score) with the engine's documented
    formula: 0.5*alpha_ratio + 0.3*(1 - digit_ratio) + 0.2*min(1, tokens/100)."""
    n_chars = len(text)
    n_tokens = len(text.split())
    alpha = sum(c in _ALPHA for c in text) / n_chars if n_chars else 0.0
    digit = sum(c.isascii() and c.isdigit() for c in text) / n_chars if n_chars else 0.0
    q = 0.5 * alpha + 0.3 * (1.0 - digit) + 0.2 * min(1.0, n_tokens / 100.0)
    return n_chars, n_tokens, q


def token_budget(rows: list[tuple[int, int, float]], budget: int) -> set[int]:
    """rows (doc_id, n_tokens, quality): the longest prefix in (quality desc,
    id asc) order whose running token sum stays within budget."""
    kept, total = set(), 0
    for d, t, _ in sorted(rows, key=lambda r: (-r[2], r[0])):
        total += t
        if total > budget:
            break
        kept.add(d)
    return kept


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
