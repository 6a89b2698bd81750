"""The oracles on inputs small enough to check by hand."""

import numpy as np

from geobench import gen, oracle

SQUARE = gen.rect_ring(0, 0, 2, 2)


def test_in_ring_square():
    x = np.array([1.0, 3.0, 0.5, -0.1])
    y = np.array([1.0, 1.0, 1.9, 1.0])
    assert oracle.in_ring(x, y, SQUARE).tolist() == [True, False, True,
                                                     False]


def test_in_ring_concave():
    # an L: the notch at (1.5, 1.5) is outside
    ring = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2], [0, 0]],
                    float)
    x = np.array([0.5, 1.5, 1.5])
    y = np.array([1.5, 0.5, 1.5])
    assert oracle.in_ring(x, y, ring).tolist() == [True, True, False]


def test_window_result_rect_and_hexagon():
    x = np.array([0.5, 1.5, 3.0, 1.0])
    y = np.array([0.5, 1.5, 3.0, 0.25])
    n, ext = oracle.window_result(x, y, SQUARE, True)
    assert n == 3 and ext == (0.5, 0.25, 1.5, 1.5)
    ang = np.arange(7) * np.pi / 3
    hexagon = np.column_stack([1 + np.cos(ang), 1 + np.sin(ang)])
    # (0.05, 1.0) is inside the hexagon's bbox but outside the hexagon?
    # no: the hexagon reaches x=0 at y=1, so it is inside; (0.1, 0.2) is
    # in a bbox corner, outside
    n, ext = oracle.window_result(np.array([0.05, 0.1, 1.0]),
                                  np.array([1.0, 0.2, 1.0]), hexagon, False)
    assert n == 2 and ext == (0.05, 1.0, 1.0, 1.0)


def test_window_result_empty():
    assert oracle.window_result(np.array([5.0]), np.array([5.0]), SQUARE,
                                True) == (0, None)


def test_bbox_pairs_and_zone_counts():
    x = np.array([0.5, 1.5, 5.0, 1.2])
    y = np.array([0.5, 1.5, 5.0, 1.2])
    tri = np.array([[0, 0], [2, 0], [0, 2], [0, 0]], float)
    far = gen.rect_ring(10, 10, 11, 11)
    pi, zi = oracle.bbox_pairs(x, y, [SQUARE, tri, far])
    pairs = sorted(zip(zi.tolist(), pi.tolist()))
    assert pairs == [(0, 0), (0, 1), (0, 3), (1, 0), (1, 1), (1, 3)]
    # the triangle holds (0.5, 0.5) only: 1.5+1.5 and 1.2+1.2 exceed 2
    assert oracle.zone_counts(x, y, [SQUARE, tri, far]) == {0: 3, 1: 1}


def test_grid_counts_every_point_in_exactly_one_quad():
    vx, vy = gen.grid_parcels(9, 4)
    x, y = gen.points(9, 2_000)
    counts, cands = oracle.grid_counts(x, y, vx, vy)
    assert sum(counts.values()) == 2_000
    assert cands >= 2_000
    # brute force against every quad
    brute = {}
    for i in range(4):
        for j in range(4):
            n = int(oracle.in_ring(x, y, gen.quad_ring(vx, vy, i, j)).sum())
            if n:
                brute[i * 4 + j] = n
    assert counts == brute
