"""Hex binning: assignment correctness (nearest-center property) and
total-count conservation."""

import math

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.hexbin import (SQRT3, hex_cell,
                                                   hexbin_counts)


def _center(q, r, size):
    return (size * SQRT3 * (q + r / 2.0), size * 1.5 * r)


def test_nearest_center_property(spark):
    # every point must land in the cell whose center is (weakly)
    # nearest among all cells — hex cells are the Voronoi regions of
    # the center lattice
    import random
    rng = random.Random(7)
    size = 2.0
    rows = [(i, rng.uniform(-20, 20), rng.uniform(-20, 20))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    out = df.select("x", "y",
                    hex_cell(F.col("x"), F.col("y"), size).alias("c")
                    ).collect()
    for row in out:
        cx, cy = _center(row["c"]["q"], row["c"]["r"], size)
        d0 = math.hypot(row["x"] - cx, row["y"] - cy)
        # compare against the 3x3 axial neighborhood
        for dq in (-2, -1, 0, 1, 2):
            for dr in (-2, -1, 0, 1, 2):
                ox, oy = _center(row["c"]["q"] + dq, row["c"]["r"] + dr,
                                 size)
                d = math.hypot(row["x"] - ox, row["y"] - oy)
                assert d >= d0 - 1e-9, (row, (dq, dr))


def test_counts_conserve_total(spark):
    rows = [(i, float(i % 17) - 8.0, float(i % 13) - 6.0)
            for i in range(500)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    got = hexbin_counts(df, 3.0).collect()
    assert sum(r["n"] for r in got) == 500


def test_null_coords_dropped(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, None, None)], "id int, x double, y double")
    assert sum(r["n"] for r in hexbin_counts(df, 1.0).collect()) == 1


def test_origin_point_in_origin_cell(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0)], "id int, x double, y double")
    c = df.select(hex_cell(F.col("x"), F.col("y"), 5.0).alias("c")) \
        .collect()[0]["c"]
    assert (c["q"], c["r"]) == (0, 0)


def test_hex_cell_assigns_nearest_center_fuzz(spark):
    """The defining hex-binning property: every point maps to the cell
    whose CENTER is nearest (ties aside) — checked against a brute
    scan of the 5x5 neighborhood of candidate centers."""
    import math
    import random

    import pyspark.sql.functions as F

    from datafusion_geo_spark.operators.hexbin import SQRT3, hex_cell

    rng = random.Random(923)
    size = 2.0
    pts = [(rng.uniform(-20, 20), rng.uniform(-20, 20))
           for _ in range(400)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = df.select("x", "y",
                    hex_cell(F.col("x"), F.col("y"), size).alias("c")) \
        .collect()

    def center(q, r):
        return (size * SQRT3 * (q + r / 2.0), size * 1.5 * r)

    for row in got:
        q0, r0 = row.c.q, row.c.r
        cx, cy = center(q0, r0)
        d0 = math.hypot(row.x - cx, row.y - cy)
        for dq in range(-2, 3):
            for dr in range(-2, 3):
                ox, oy = center(q0 + dq, r0 + dr)
                d = math.hypot(row.x - ox, row.y - oy)
                # strict better-neighbor would mean a wrong assignment
                assert d >= d0 - 1e-9, \
                    ((row.x, row.y), (q0, r0), (q0 + dq, r0 + dr), d0, d)
