"""Independent numpy oracles for the benchmark's outputs.

Each oracle works on the generator's own coordinates and never calls
``datafusion_geo_spark``. Every geometric test is boundary-inclusive in
intent, but the generator keeps points off parcel borders and window
edges are random doubles, so a tie has probability ~0.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

import numpy as np


def in_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of many points against one closed ring."""
    inside = np.zeros(len(x), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if ay == by:
            continue
        crosses = (ay > y) != (by > y)
        xint = ax + (y - ay) * (bx - ax) / (by - ay)
        inside ^= crosses & (x < xint)
    return inside


def window_result(x: np.ndarray, y: np.ndarray, ring: np.ndarray,
                  is_rect: bool
                  ) -> Tuple[int, Optional[Tuple[float, float, float, float]]]:
    """Count and extent of the points inside a window."""
    x0, y0 = ring[:, 0].min(), ring[:, 1].min()
    x1, y1 = ring[:, 0].max(), ring[:, 1].max()
    m = (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)
    if not is_rect:
        idx = np.flatnonzero(m)
        m = np.zeros(len(x), dtype=bool)
        m[idx[in_ring(x[idx], y[idx], ring)]] = True
    n = int(m.sum())
    if n == 0:
        return 0, None
    return n, (float(x[m].min()), float(y[m].min()),
               float(x[m].max()), float(y[m].max()))


def bbox_pairs(x: np.ndarray, y: np.ndarray, rings: Sequence[np.ndarray]
               ) -> Tuple[np.ndarray, np.ndarray]:
    """(point index, ring index) of every pair whose point lies in the
    ring's bounding box, grouped by ring."""
    order = np.argsort(x, kind="stable")
    xs, ys = x[order], y[order]
    pts, ids = [], []
    for rid, ring in enumerate(rings):
        lo = np.searchsorted(xs, ring[:, 0].min(), "left")
        hi = np.searchsorted(xs, ring[:, 0].max(), "right")
        cy = ys[lo:hi]
        m = np.flatnonzero((cy >= ring[:, 1].min())
                           & (cy <= ring[:, 1].max()))
        pts.append(order[lo + m])
        ids.append(np.full(len(m), rid, dtype=np.int64))
    return np.concatenate(pts), np.concatenate(ids)


def zone_counts(x: np.ndarray, y: np.ndarray,
                rings: Sequence[np.ndarray]) -> Dict[int, int]:
    """Points inside each zone (zones may overlap) as {zone_id: count}
    for zones holding at least one point."""
    pi, zi = bbox_pairs(x, y, rings)
    bounds = np.searchsorted(zi, np.arange(len(rings) + 1))
    out: Dict[int, int] = {}
    for zid, ring in enumerate(rings):
        p = pi[bounds[zid]:bounds[zid + 1]]
        n = int(in_ring(x[p], y[p], ring).sum())
        if n:
            out[zid] = n
    return out


def grid_counts(x: np.ndarray, y: np.ndarray, vx: np.ndarray,
                vy: np.ndarray) -> Tuple[Dict[int, int], int]:
    """Points per quad of a jittered g x g tiling as {i * g + j: count}
    for non-empty quads, plus the number of (point, quad) pairs whose
    bounding boxes overlap (the candidates a bbox filter must refine).
    A quad's vertices move less than half a cell, so a point's quad and
    every bbox it can overlap lie within one cell of its grid cell."""
    g = vx.shape[0] - 1
    step = (vx[-1, 0] - vx[0, 0]) / g
    ci = np.clip(np.floor(x / step).astype(np.int64), 0, g - 1)
    cj = np.clip(np.floor(y / step).astype(np.int64), 0, g - 1)
    owner = np.full(len(x), -1, dtype=np.int64)
    candidates = 0
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            i, j = ci + di, cj + dj
            ok = (i >= 0) & (i < g) & (j >= 0) & (j < g)
            i, j = np.where(ok, i, 0), np.where(ok, j, 0)
            qx = np.stack([vx[i, j], vx[i + 1, j], vx[i + 1, j + 1],
                           vx[i, j + 1]], axis=1)
            qy = np.stack([vy[i, j], vy[i + 1, j], vy[i + 1, j + 1],
                           vy[i, j + 1]], axis=1)
            inbox = (ok & (x >= qx.min(1)) & (x <= qx.max(1))
                     & (y >= qy.min(1)) & (y <= qy.max(1)))
            candidates += int(inbox.sum())
            inside = np.zeros(len(x), dtype=bool)
            for e in range(4):
                ax, ay = qx[:, e], qy[:, e]
                bx, by = qx[:, (e + 1) % 4], qy[:, (e + 1) % 4]
                crosses = (ay > y) != (by > y)
                with np.errstate(invalid="ignore", divide="ignore"):
                    xint = ax + (y - ay) * (bx - ax) / (by - ay)
                inside ^= crosses & (x < xint)
            hit = inbox & inside & (owner < 0)
            owner[hit] = i[hit] * g + j[hit]
    if (owner < 0).any():
        raise ValueError("grid oracle: a point fell outside every quad")
    ids, counts = np.unique(owner, return_counts=True)
    return dict(zip(ids.tolist(), counts.tolist())), candidates
