"""Z-order layout: Morton keys against a reference bit interleave."""

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.layout import morton_key


def _ref_morton(x, y, bounds, bits=16):
    xmin, ymin, xmax, ymax = bounds
    n = 1 << bits

    def cell(v, lo, hi):
        q = int(((v - lo) / (hi - lo)) * n // 1)
        return max(0, min(n - 1, q))

    qx, qy = cell(x, xmin, xmax), cell(y, ymin, ymax)
    z = 0
    for i in range(bits):
        z |= ((qx >> i) & 1) << (2 * i)
        z |= ((qy >> i) & 1) << (2 * i + 1)
    return z


def test_morton_matches_reference_interleave(spark):
    pts = [(1, -170.0, -80.0), (2, 0.0, 0.0), (3, 169.9, 79.9),
           (4, -180.0, -90.0), (5, 179.999, 89.999),
           (6, 1234.5, -999.0),            # out of bounds: clamps
           (7, None, 5.0)]                 # null passes through
    df = spark.createDataFrame(pts, "id int, x double, y double")
    b = (-180.0, -90.0, 180.0, 90.0)
    got = {r["id"]: r["m"] for r in df.select(
        "id", morton_key(F.col("x"), F.col("y"), b).alias("m")).collect()}
    for i, x, y in pts:
        if x is None:
            assert got[i] is None
        else:
            assert got[i] == _ref_morton(min(max(x, -180.0), 180.0),
                                         min(max(y, -90.0), 90.0), b), i
