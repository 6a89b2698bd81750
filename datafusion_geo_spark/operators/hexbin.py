"""Hexagonal binning — the PostGIS ST_HexagonGrid / ST_Hexagon shape
re-expressed Spark-first: cell ASSIGNMENT is pure JVM arithmetic
(axial coordinates + cube rounding as built-in expressions — zero
Python in the aggregation path, fully whole-stage-codegen'd).

Convention (documented; PostGIS's grid differs only by origin/
orientation bookkeeping): POINTY-TOP hexagons of circumradius
``size``, axial coordinates
    q = (sqrt(3)/3 · x − 1/3 · y) / size
    r = (2/3 · y) / size
cube-rounded to the nearest cell center (the standard hex rounding:
round q/r/s = −q−r, then re-derive the axis with the largest rounding
error). Cell center: x = size·sqrt(3)·(q + r/2), y = size·3/2·r.

At 100 TB this is the canonical spatial histogram: one map-side
assignment expression, one hash aggregate on (q, r) — the same cost
profile as a GROUP BY on two ints.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

SQRT3 = 1.7320508075688772   # repr(math.sqrt(3)) — the oracle mirrors it


def _round_half_up(c: Column) -> Column:
    """floor(x + 0.5): one deterministic tie rule in both engines
    (Spark's bround/round vary by representation — the known trap)."""
    return F.floor(c + F.lit(0.5))


def hex_cell(x: Column, y: Column, size: float) -> Column:
    """struct(q int, r int): the axial hex cell containing (x, y) —
    pure built-in arithmetic (codegen-friendly, oracle-portable)."""
    s = F.lit(float(size))
    fq = (F.lit(SQRT3 / 3.0) * x - F.lit(1.0 / 3.0) * y) / s
    fr = (F.lit(2.0 / 3.0) * y) / s
    fs = -fq - fr
    rq = _round_half_up(fq)
    rr = _round_half_up(fr)
    rs = _round_half_up(fs)
    dq = F.abs(rq - fq)
    dr = F.abs(rr - fr)
    ds = F.abs(rs - fs)
    # fix the axis with the largest rounding error so q + r + s == 0
    q = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    r = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs) \
        .otherwise(rr)
    return F.struct(q.cast("long").alias("q"),
                    r.cast("long").alias("r"))


def hexbin_counts(df: DataFrame, size: float, x_col: str = "x",
                  y_col: str = "y") -> DataFrame:
    """Per-hex-cell row counts: ONE hash aggregate on the two cell
    ints. Null coordinates drop (no cell)."""
    cell = hex_cell(F.col(x_col), F.col(y_col), size)
    return (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .select(cell.alias("_c"))
            .groupBy(F.col("_c.q").alias("q"), F.col("_c.r").alias("r"))
            .agg(F.count(F.lit(1)).alias("n")))

