"""Seed determinism and shape of the generated inputs."""

import hashlib

import numpy as np

from geobench import gen


def _digest(seed: int) -> str:
    h = hashlib.sha256()
    x, y = gen.points(seed, 5_000)
    buf, offs = gen.points_wkb(x, y)
    h.update(buf.tobytes())
    h.update(offs.tobytes())
    for rnd in gen.windows(seed, 3):
        for w in rnd:
            h.update(w.wkt().encode())
    for r in gen.zones(seed, 20):
        h.update(gen.polygon_wkb([r]))
    vx, vy = gen.grid_parcels(seed, 8)
    h.update(vx.tobytes())
    h.update(vy.tobytes())
    for s in gen.parcel_wkt(seed, 30):
        h.update(s.encode())
    return h.hexdigest()


def test_same_seed_same_bytes():
    assert _digest(7) == _digest(7)


def test_other_seed_other_bytes():
    assert _digest(7) != _digest(8)


def test_points_inside_extent_and_half_clustered():
    x, y = gen.points(3, 10_000)
    assert len(x) == len(y) == 10_000
    assert x.min() > gen.EXTENT[0] and x.max() < gen.EXTENT[2]
    assert y.min() > gen.EXTENT[1] and y.max() < gen.EXTENT[3]


def test_point_wkb_layout():
    buf, offs = gen.points_wkb(np.array([1.5]), np.array([-2.0]))
    b = buf.tobytes()
    assert len(b) == 21 and offs.tolist() == [0, 21]
    assert b[0] == 1 and int.from_bytes(b[1:5], "little") == 1
    assert np.frombuffer(b[5:], "<f8").tolist() == [1.5, -2.0]
    assert gen.point_wkb_list(np.array([1.5]), np.array([-2.0])) == [b]


def test_every_round_holds_every_stratum_once():
    for rnd in gen.windows(11, 10):
        assert sorted(w.stratum for w in rnd) == list(range(gen.WINDOW_STRATA))
        full = [w for w in rnd if w.stratum == gen.WINDOW_STRATA - 1]
        assert full[0].bbox == gen.EXTENT
        for w in rnd:
            assert np.allclose(w.ring[0], w.ring[-1])
            x0, y0, x1, y1 = w.bbox
            assert gen.EXTENT[0] <= x0 <= x1 <= gen.EXTENT[2]
            assert gen.EXTENT[1] <= y0 <= y1 <= gen.EXTENT[3]


def test_window_areas_span_four_decades():
    fr = []
    for rnd in gen.windows(5, 20):
        for w in rnd:
            x0, y0, x1, y1 = w.bbox
            fr.append((x1 - x0) * (y1 - y0) / gen.SPAN ** 2)
    assert min(fr) < 1e-3 and max(fr) == 1.0


def test_heavy_tail_vertex_counts_bounded():
    rng = gen.rng_for(1, "t")
    v = gen.heavy_tail_vertices(rng, 20_000)
    assert v.min() == 4 and v.max() == 256
    assert np.median(v) < 16  # heavy tail: most parcels are small


def test_parcel_wkt_is_polygon_text():
    for s in gen.parcel_wkt(2, 50):
        assert s.startswith("POLYGON ((") and s.endswith("))")


def test_grid_quads_tile_the_extent():
    vx, vy = gen.grid_parcels(4, 6)
    area = 0.0
    for i in range(6):
        for j in range(6):
            r = gen.quad_ring(vx, vy, i, j)
            area += 0.5 * abs(np.dot(r[:-1, 0], r[1:, 1])
                              - np.dot(r[1:, 0], r[:-1, 1]))
    assert abs(area - gen.SPAN ** 2) < 1e-6
