"""Seeded input generator for the spatial benchmark.

Everything the library receives is built here from one integer seed with
numpy's PCG64 generator, so the same seed gives byte-identical inputs.
Geometry is encoded by this module's own little-endian WKB and WKT
writers; nothing here calls into ``datafusion_geo_spark``.

Inputs:

* points: half uniform over the extent, half in Gaussian clusters;
* windows: query rectangles and hexagons, areas spaced log-uniformly
  (one per band) from 0.01 % to 100 % of the extent;
* parcels: WKT polygons with a heavy-tailed vertex count (4-256), some
  with a hole (for the kernel replay);
* zones: star-shaped polygons (few thousand, overlapping);
* grid parcels: a jittered quad tiling of the extent, so each point lies
  in exactly one.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import List, Sequence, Tuple

import numpy as np

EXTENT = (0.0, 0.0, 128.0, 128.0)
SPAN = EXTENT[2] - EXTENT[0]
EDGE = 1e-6

_POINT_DT = np.dtype([("bo", "u1"), ("typ", "<u4"),
                      ("x", "<f8"), ("y", "<f8")])


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per input kind: adding a new
    input kind never shifts the values of an existing one."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


# ------------------------------------------------------------------ WKB

def points_wkb(x: np.ndarray, y: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """21-byte WKB points as one buffer plus int32 offsets (the layout
    of an Arrow binary column)."""
    a = np.empty(len(x), _POINT_DT)
    a["bo"] = 1
    a["typ"] = 1
    a["x"] = x
    a["y"] = y
    offsets = np.arange(len(x) + 1, dtype=np.int32) * _POINT_DT.itemsize
    return np.frombuffer(a.tobytes(), np.uint8), offsets


def point_wkb_list(x: np.ndarray, y: np.ndarray) -> List[bytes]:
    """The same points as one bytes object per row (a pandas UDF's
    view of a binary column)."""
    buf, offs = points_wkb(x, y)
    b = buf.tobytes()
    return [b[offs[i]:offs[i + 1]] for i in range(len(x))]


def polygon_wkb(rings: Sequence[np.ndarray]) -> bytes:
    """WKB polygon from closed rings (each an (n, 2) float array)."""
    parts = [np.array([1], "u1").tobytes(),
             np.array([3, len(rings)], "<u4").tobytes()]
    for r in rings:
        parts.append(np.array([len(r)], "<u4").tobytes())
        parts.append(np.ascontiguousarray(r, "<f8").tobytes())
    return b"".join(parts)


# ------------------------------------------------------------------ WKT

def _ring_wkt(r: np.ndarray) -> str:
    return "(" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in r) + ")"


def polygon_wkt(rings: Sequence[np.ndarray]) -> str:
    return "POLYGON (" + ", ".join(_ring_wkt(r) for r in rings) + ")"


def rect_ring(x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


# --------------------------------------------------------------- points

def points(seed: int, n: int) -> Tuple[np.ndarray, np.ndarray]:
    """n points: the first half uniform, the second half in 32 Gaussian
    clusters (sigma log-uniform in [1, 6])."""
    rng = rng_for(seed, "points")
    nu = n // 2
    nc = n - nu
    ux = rng.uniform(EXTENT[0] + EDGE, EXTENT[2] - EDGE, nu)
    uy = rng.uniform(EXTENT[1] + EDGE, EXTENT[3] - EDGE, nu)
    k = 32
    cx = rng.uniform(0.1 * SPAN, 0.9 * SPAN, k)
    cy = rng.uniform(0.1 * SPAN, 0.9 * SPAN, k)
    sig = np.exp(rng.uniform(math.log(1.0), math.log(6.0), k))
    which = rng.integers(0, k, nc)
    # kept EDGE inside the extent, so no point sits on a parcel's
    # border edge (the oracles then never meet a boundary tie)
    gx = np.clip(cx[which] + rng.normal(0, 1, nc) * sig[which],
                 EXTENT[0] + EDGE, EXTENT[2] - EDGE)
    gy = np.clip(cy[which] + rng.normal(0, 1, nc) * sig[which],
                 EXTENT[1] + EDGE, EXTENT[3] - EDGE)
    return np.concatenate([ux, gx]), np.concatenate([uy, gy])


# -------------------------------------------------------------- windows

@dataclass(frozen=True)
class Window:
    ring: np.ndarray          # closed ring, (n, 2)
    bbox: Tuple[float, float, float, float]
    is_rect: bool
    stratum: int

    def wkt(self) -> str:
        return polygon_wkt([self.ring])


WINDOW_STRATA = 8  # 7 log-uniform area bands + one full-extent scan


def windows(seed: int, rounds: int) -> List[List[Window]]:
    """``rounds`` rounds of WINDOW_STRATA windows each. Stratum s < 7
    covers the s-th of seven equal log-width bands of area fraction
    [1e-4, 1] and takes the band's log-midpoint, so areas are spaced
    log-uniformly; stratum 7 is the full extent. Position, aspect ratio
    and rotation are random. Every third window (rotating with the
    round) is a hexagon instead of a rectangle. The order inside a round
    is shuffled; each round holds every stratum exactly once, so any
    whole number of rounds has the same mix. (A random area inside each
    band tripled the seed-to-seed spread of the rows a round returns.)"""
    rng = rng_for(seed, "windows")
    lo, hi = -4.0, 0.0
    band = (hi - lo) / (WINDOW_STRATA - 1)
    out = []
    for r in range(rounds):
        rnd = []
        for s in range(WINDOW_STRATA):
            if s == WINDOW_STRATA - 1:
                ring = rect_ring(*EXTENT)
                rnd.append(Window(ring, EXTENT, True, s))
                continue
            frac = 10.0 ** (lo + (s + 0.5) * band)
            area = frac * SPAN * SPAN
            if (s + r) % 3 == 1:
                rad = math.sqrt(area / (1.5 * math.sqrt(3.0)))
                rad = min(rad, SPAN / 2)
                cx = rng.uniform(EXTENT[0] + rad, EXTENT[2] - rad)
                cy = rng.uniform(EXTENT[1] + rad, EXTENT[3] - rad)
                a0 = rng.uniform(0, math.pi / 3)
                ang = a0 + np.arange(6) * math.pi / 3
                ring = np.column_stack([cx + rad * np.cos(ang),
                                        cy + rad * np.sin(ang)])
                ring = np.vstack([ring, ring[:1]])
                bb = (float(ring[:, 0].min()), float(ring[:, 1].min()),
                      float(ring[:, 0].max()), float(ring[:, 1].max()))
                rnd.append(Window(ring, bb, False, s))
            else:
                aspect = math.exp(rng.uniform(math.log(0.5), math.log(2.0)))
                w = min(SPAN, math.sqrt(area * aspect))
                h = min(SPAN, area / w)
                x0 = rng.uniform(EXTENT[0], EXTENT[2] - w)
                y0 = rng.uniform(EXTENT[1], EXTENT[3] - h)
                bb = (x0, y0, x0 + w, y0 + h)
                rnd.append(Window(rect_ring(*bb), bb, True, s))
        order = rng.permutation(WINDOW_STRATA)
        out.append([rnd[i] for i in order])
    return out


# -------------------------------------------------------------- parcels

def _star_ring(rng, cx, cy, r, nv, rough=0.35) -> np.ndarray:
    """Closed star-shaped ring around (cx, cy): sorted angles, radii in
    [r*(1-rough), r]. Star-shaped about its centre, hence simple."""
    ang = np.sort(rng.uniform(0, 2 * math.pi, nv))
    ang = ang + np.arange(nv) * 1e-9  # strictly increasing
    rad = r * (1 - rough * rng.uniform(0, 1, nv))
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def heavy_tail_vertices(rng, n: int, lo: int = 4, hi: int = 256,
                        alpha: float = 1.1) -> np.ndarray:
    """Vertex counts from a Pareto tail truncated to [lo, hi]."""
    u = rng.uniform(0, 1, n)
    v = np.floor(lo * (1 - u) ** (-1.0 / alpha)).astype(np.int64)
    return np.clip(v, lo, hi)


def parcel_wkt(seed: int, rows: int) -> List[str]:
    """WKT parcels: star-shaped polygons with a heavy-tailed vertex
    count, one in ten with a hole."""
    rng = rng_for(seed, "parcels")
    nv = heavy_tail_vertices(rng, rows)
    has_hole = rng.uniform(0, 1, rows) < 0.1
    cx = rng.uniform(2, SPAN - 2, rows)
    cy = rng.uniform(2, SPAN - 2, rows)
    rad = np.exp(rng.uniform(math.log(0.05), math.log(1.5), rows))
    out = []
    for i in range(rows):
        rings = [_star_ring(rng, cx[i], cy[i], rad[i], int(nv[i]))]
        if has_hole[i]:
            # inside the outer ring's minimum radius (0.65 r)
            rings.append(_star_ring(rng, cx[i], cy[i], 0.3 * rad[i], 5,
                                    rough=0.2)[::-1])
        out.append(polygon_wkt(rings))
    return out


# ---------------------------------------------------------------- zones

def zones(seed: int, n: int) -> List[np.ndarray]:
    """n star-shaped zones (6-16 vertices, radius log-uniform 0.5-4),
    overlapping freely."""
    rng = rng_for(seed, "zones")
    out = []
    for _ in range(n):
        r = math.exp(rng.uniform(math.log(0.5), math.log(4.0)))
        cx = rng.uniform(r, SPAN - r)
        cy = rng.uniform(r, SPAN - r)
        out.append(_star_ring(rng, cx, cy, r, int(rng.integers(6, 17))))
    return out


def grid_parcels(seed: int, g: int) -> Tuple[np.ndarray, np.ndarray]:
    """A g x g tiling of the extent by convex quads: interior grid
    vertices jittered by up to 0.2 cell (too little to fold a quad),
    border vertices kept on the border. Returns the (g+1, g+1) vertex
    arrays vx, vy; quad (i, j) has corners (i, j), (i+1, j), (i+1, j+1),
    (i, j+1)."""
    rng = rng_for(seed, "grid")
    step = SPAN / g
    ix, iy = np.meshgrid(np.arange(g + 1), np.arange(g + 1), indexing="ij")
    vx = ix * step
    vy = iy * step
    jit = 0.2 * step
    vx[1:-1, :] += rng.uniform(-jit, jit, (g - 1, g + 1))
    vy[:, 1:-1] += rng.uniform(-jit, jit, (g + 1, g - 1))
    return vx, vy


def quad_ring(vx: np.ndarray, vy: np.ndarray, i: int, j: int) -> np.ndarray:
    xs = [vx[i, j], vx[i + 1, j], vx[i + 1, j + 1], vx[i, j + 1], vx[i, j]]
    ys = [vy[i, j], vy[i + 1, j], vy[i + 1, j + 1], vy[i, j + 1], vy[i, j]]
    return np.column_stack([xs, ys])
