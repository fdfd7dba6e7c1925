"""Independent reference answers, computed once per seed before timing.

Plain numpy (and DuckDB for reading back written parquet); nothing here
imports ``pda_spark``. The geometry tests use a different formulation
from the engine's kernels where one exists: winding number with
orientation tests instead of the even-odd ray cast, explicit segment
crossing tests instead of the batched grouped-containment kernel.
"""

from __future__ import annotations

import numpy as np

from inputs import PolygonSet

GRID = 0.5  # deg; bucket size of the candidate grids below
BIG = 1 << 24  # cells per axis in the keys below; keys stay far from int64 overflow


class Grid:
    """Points bucketed into GRID-sized columns/rows, sorted by cell key,
    so the points of one column and a row range are a contiguous slice."""

    def __init__(self, x: np.ndarray, y: np.ndarray, size: float = GRID):
        self.size = size
        gx = np.floor(x / size).astype(np.int64)
        gy = np.floor(y / size).astype(np.int64)
        key = (gx + BIG // 2) * BIG + (gy + BIG // 2)
        self.order = np.argsort(key, kind="stable")
        self.key = key[self.order]

    def candidates(self, minx: float, miny: float, maxx: float, maxy: float) -> np.ndarray:
        gx0, gx1 = int(np.floor(minx / self.size)), int(np.floor(maxx / self.size))
        gy0, gy1 = int(np.floor(miny / self.size)), int(np.floor(maxy / self.size))
        out = []
        for gx in range(gx0, gx1 + 1):
            base = (gx + BIG // 2) * BIG + BIG // 2
            lo = np.searchsorted(self.key, base + gy0, "left")
            hi = np.searchsorted(self.key, base + gy1, "right")
            out.append(self.order[lo:hi])
        return np.concatenate(out) if out else np.zeros(0, np.int64)


def _winding_inside(px, py, ring):
    """(m,) bool: inside ``ring`` by nonzero winding number."""
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x1, y1 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    px, py = px[:, None], py[:, None]
    cross = (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)
    up = (y0 <= py) & (y1 > py) & (cross > 0)
    down = (y1 <= py) & (y0 > py) & (cross < 0)
    return (up.sum(axis=1) - down.sum(axis=1)) != 0


def _near_boundary(px, py, ring, tol):
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    dx, dy = ring[1:, 0][None, :] - x0, ring[1:, 1][None, :] - y0
    px, py = px[:, None], py[:, None]
    t = np.clip(((px - x0) * dx + (py - y0) * dy) / (dx * dx + dy * dy), 0.0, 1.0)
    ex, ey = px - (x0 + t * dx), py - (y0 + t * dy)
    return (ex * ex + ey * ey < tol * tol).any(axis=1)


def pip_counts(lon: np.ndarray, lat: np.ndarray, pset: PolygonSet, grid: Grid, tol: float = 1e-7):
    """Per-polygon count of contained points, and the mask of points
    lying within ``tol`` of some polygon's boundary (the generator drops
    those, so the inside/outside answer is unambiguous)."""
    counts = {}
    near = np.zeros(len(lon), dtype=bool)
    for pid, ring in zip(pset.poly_id, pset.rings):
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        c = grid.candidates(minx, miny, maxx, maxy)
        c = c[(lon[c] >= minx) & (lon[c] <= maxx) & (lat[c] >= miny) & (lat[c] <= maxy)]
        if c.size == 0:
            continue
        near[c[_near_boundary(lon[c], lat[c], ring, tol)]] = True
        n = int(_winding_inside(lon[c], lat[c], ring).sum())
        if n:
            counts[int(pid)] = n
    return counts, near


def _orient(ax, ay, bx, by, cx, cy):
    return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))


def intersects_counts(fp_bb: np.ndarray, pset: PolygonSet, grid: Grid, max_half: float = 0.15):
    """Per-polygon count of intersecting footprints (axis-aligned boxes
    ``fp_bb`` = [minx, miny, maxx, maxy]). A box and a simple polygon
    intersect iff a polygon vertex lies in the box, a box corner lies in
    the polygon, or two edges cross; inputs are continuous random, so
    touching-only contacts do not occur."""
    counts = {}
    for pid, ring in zip(pset.poly_id, pset.rings):
        minx, miny = ring.min(axis=0)
        maxx, maxy = ring.max(axis=0)
        c = grid.candidates(minx - max_half, miny - max_half, maxx + max_half, maxy + max_half)
        b = fp_bb[c]
        keep = (b[:, 0] <= maxx) & (minx <= b[:, 2]) & (b[:, 1] <= maxy) & (miny <= b[:, 3])
        b = b[keep]
        if b.size == 0:
            continue
        vx, vy = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
        hit = (
            (vx > b[:, 0:1]) & (vx < b[:, 2:3]) & (vy > b[:, 1:2]) & (vy < b[:, 3:4])
        ).any(axis=1)
        corners_x = np.stack([b[:, 0], b[:, 2], b[:, 2], b[:, 0]], axis=1)
        corners_y = np.stack([b[:, 1], b[:, 1], b[:, 3], b[:, 3]], axis=1)
        hit |= _winding_inside(corners_x.ravel(), corners_y.ravel(), ring).reshape(-1, 4).any(axis=1)
        # box edges (m, 4) against polygon edges (k,)
        ax, ay = corners_x[:, :, None], corners_y[:, :, None]
        bx, by = np.roll(corners_x, -1, axis=1)[:, :, None], np.roll(corners_y, -1, axis=1)[:, :, None]
        cx, cy = ring[:-1, 0][None, None, :], ring[:-1, 1][None, None, :]
        dx, dy = ring[1:, 0][None, None, :], ring[1:, 1][None, None, :]
        cross = (
            (_orient(ax, ay, bx, by, cx, cy) * _orient(ax, ay, bx, by, dx, dy) < 0)
            & (_orient(cx, cy, dx, dy, ax, ay) * _orient(cx, cy, dx, dy, bx, by) < 0)
        )
        hit |= cross.any(axis=(1, 2))
        n = int(hit.sum())
        if n:
            counts[int(pid)] = n
    return counts


# ------------------------------------------------------------- DBSCAN


def _expand_ranges(lo: np.ndarray, hi: np.ndarray):
    """Concatenate [lo_i, hi_i) for every i; returns (owner i, value)."""
    n = hi - lo
    owner = np.repeat(np.arange(len(lo)), n)
    start = np.repeat(lo - np.concatenate([[0], np.cumsum(n)[:-1]]), n)
    return owner, start + np.arange(n.sum())


def dbscan(ids: np.ndarray, x: np.ndarray, y: np.ndarray, eps: float, min_pts: int):
    """Exact DBSCAN with the engine's documented conventions: degree
    counts the point itself, distance is ``(x-qx)*(x-qx)+(y-qy)*(y-qy)
    <= eps*eps`` in that operation order, a cluster's id is its minimum
    core id, and a border point takes the minimum cluster id among the
    cores within eps. Returns (is_core, cluster_id) aligned with ``ids``
    (cluster_id -1 = noise)."""
    order = np.argsort(ids, kind="stable")  # position order == id order
    xs, ys, sid = x[order], y[order], ids[order]
    n = len(sid)
    cx = np.floor(xs / eps).astype(np.int64)
    cy = np.floor(ys / eps).astype(np.int64)
    key = (cx + BIG // 2) * BIG + (cy + BIG // 2)
    srt = np.argsort(key, kind="stable")
    skey = key[srt]
    a_parts, b_parts = [], []
    for dx in (-1, 0, 1):
        base = (cx + dx + BIG // 2) * BIG + (cy + BIG // 2)
        lo = np.searchsorted(skey, base - 1, "left")
        hi = np.searchsorted(skey, base + 1, "right")
        owner, pos = _expand_ranges(lo, hi)
        a_parts.append(owner)
        b_parts.append(srt[pos])
    a = np.concatenate(a_parts)
    b = np.concatenate(b_parts)
    d2 = (xs[a] - xs[b]) * (xs[a] - xs[b]) + (ys[a] - ys[b]) * (ys[a] - ys[b])
    keep = d2 <= eps * eps
    a, b = a[keep], b[keep]
    deg = np.bincount(a, minlength=n)
    core = deg >= min_pts

    # union-find over core-core edges by vectorized min-label hooking
    cc = core[a] & core[b] & (a < b)
    u, v = a[cc], b[cc]
    parent = np.arange(n)
    while True:
        pu, pv = parent[u], parent[v]
        diff = pu != pv
        if not diff.any():
            break
        m = np.minimum(pu[diff], pv[diff])
        np.minimum.at(parent, pu[diff], m)
        np.minimum.at(parent, pv[diff], m)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
    label = np.full(n, -1, dtype=np.int64)
    label[core] = sid[parent[core]]

    bd = ~core[a] & core[b]
    border = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(border, a[bd], label[b[bd]])
    is_border = ~core & (border != np.iinfo(np.int64).max)
    label[is_border] = border[is_border]

    out_core = np.empty(n, dtype=bool)
    out_label = np.empty(n, dtype=np.int64)
    out_core[order] = core
    out_label[order] = label
    return out_core, out_label


def centroids(ids: np.ndarray, x: np.ndarray, y: np.ndarray, label: np.ndarray):
    """Cluster id -> (mean x, mean y) over every member, border included."""
    m = label >= 0
    cl, inv = np.unique(label[m], return_inverse=True)
    cnt = np.bincount(inv)
    return cl, np.bincount(inv, x[m]) / cnt, np.bincount(inv, y[m]) / cnt


def knn(qlon: np.ndarray, qlat: np.ndarray, tid: np.ndarray, tlon: np.ndarray, tlat: np.ndarray, k: int):
    """Brute-force planar-degree kNN: per query the k target ids in
    (distance, id) order, distance as ``sqrt(dx*dx + dy*dy)`` with
    dx = target - query."""
    out = []
    for ql, qa in zip(qlon, qlat):
        dx = tlon - ql
        dy = tlat - qa
        d = np.sqrt(dx * dx + dy * dy)
        out.append(tid[np.lexsort((tid, d))[:k]])
    return out
