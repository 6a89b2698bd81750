"""Space-filling-curve data layout (Z-order / Morton keys).

The 100-TB story: spatial predicate pushdown lives or dies on FILE
layout. Parquet keeps per-file/rowgroup min-max stats for plain
columns; if rows are written in random spatial order, every file's
bbox spans the world and no scan ever prunes. Sorting the write by a
Morton key makes each output file cover a compact spatial region, so a
query's bbox filter (or a bbox-covering column, geoio.py) prunes most
files at plan time — the same layout trick Delta/Iceberg Z-ORDER
clustering applies, built here from plain Spark primitives.

``morton_key`` is pure JVM bit arithmetic (the classic spread-bits
multiply-free interleave — 5 mask-shift steps per axis, whole-stage
codegen friendly, no UDF). The write path that sorts by it is
``sources/geoio.py``'s Z-ordered GeoParquet writer.
"""

from __future__ import annotations

from typing import Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..sources.geoio import _part1by1 as _spread16

__all__ = ["morton_key"]

# The bit-spreading ladder is shared with sources/geoio.py, whose
# cell-size-based morton_key serves the write_geo_parquet within-cell
# clustering; this module's bounds-quantized variant is the global
# layout key (fixed [0, 2^bits) grid over known bounds).


def morton_key(x: Column, y: Column,
               bounds: Tuple[float, float, float, float],
               bits: int = 16) -> Column:
    """Z-order key of (x, y): each coordinate quantized to ``bits``
    levels over ``bounds`` (xmin, ymin, xmax, ymax) and bit-interleaved
    (x on even bits). Out-of-bounds coordinates clamp to the edge cell
    rather than corrupting the key; NULL in → NULL out. bits <= 16
    (a 32-bit key is plenty for file-level clustering — finer grids
    only reshuffle rows within the same file)."""
    if not 1 <= bits <= 16:
        raise ValueError(f"morton_key: bits must be in [1, 16], got {bits}")
    xmin, ymin, xmax, ymax = (float(b) for b in bounds)
    if not (xmax > xmin and ymax > ymin):
        raise ValueError(f"morton_key: degenerate bounds {bounds}")
    n = float(1 << bits)

    def cell(v: Column, lo: float, hi: float) -> Column:
        q = F.floor((v.cast("double") - lo) / (hi - lo) * n).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), q))

    qx = cell(x, xmin, xmax)
    qy = cell(y, ymin, ymax)
    z = _spread16(qx).bitwiseOR(F.shiftleft(_spread16(qy), 1))
    # greatest/least IGNORE nulls (they'd clamp NULL to cell 0 and give
    # junk rows a real spatial key) — keep null-in/null-out explicit
    return F.when(x.isNull() | y.isNull(), F.lit(None).cast("long")) \
            .otherwise(z).alias("morton")


def hilbert_key(x: Column, y: Column,
                bounds: Tuple[float, float, float, float],
                bits: int = 6) -> Column:
    """Hilbert-curve key of (x, y) — the stronger locality sibling of
    morton_key (Hilbert never long-jumps between consecutive cells, so
    file bboxes come out tighter than Z-order's diagonal seams; what
    newer Iceberg/Delta clustering offers beyond ZORDER).

    The classic xy2d walk is unrolled ``bits`` levels into pure JVM
    bitwise/conditional expressions (no UDF, codegen-friendly). Each
    level's rotated frame references the previous level's EXPRESSIONS,
    so the tree doubles per level — bits is capped at 6 (a 64x64 =
    4k-cell grid; finer grids only reshuffle rows inside one file,
    the same argument morton_key documents, and 6 levels keep both the
    Catalyst tree and the SQL twin's text tractable):
    per level, quadrant bits (rx, ry) accumulate s²·((3·rx) XOR ry)
    and the frame rotates via the conditional swap/reflect. The SQL
    twin (hilbert_key_sql) is generated from the SAME loop, so the
    oracle replays each level exactly. NULL in → NULL out; out-of-
    bounds clamps to the edge cell."""
    if not 1 <= bits <= 6:
        # the expression TREE trebles per level; past ~6 levels Catalyst
        # analysis/codegen blows up — use with_hilbert_key (linear
        # per-level projections) for production grids
        raise ValueError(f"hilbert_key: bits must be in [1, 6], got {bits}")
    xmin, ymin, xmax, ymax = (float(b) for b in bounds)
    if not (xmax > xmin and ymax > ymin):
        raise ValueError(f"hilbert_key: degenerate bounds {bounds}")
    n = float(1 << bits)

    def cell(v: Column, lo: float, hi: float) -> Column:
        q = F.floor((v.cast("double") - lo) / (hi - lo) * n).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), q))

    cx, cy = cell(x, xmin, xmax), cell(y, ymin, ymax)
    d = F.lit(0).cast("long")
    s = 1 << (bits - 1)
    while s > 0:
        rx = F.when(cx.bitwiseAND(F.lit(s)) > 0, F.lit(1)) \
            .otherwise(F.lit(0)).cast("long")
        ry = F.when(cy.bitwiseAND(F.lit(s)) > 0, F.lit(1)) \
            .otherwise(F.lit(0)).cast("long")
        d = d + F.lit(s) * F.lit(s) * ((F.lit(3) * rx).bitwiseXOR(ry))
        # rotate: when ry == 0, optionally reflect, then swap axes
        nx = F.when(ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - cy).otherwise(cy)) \
            .otherwise(cx)
        ny = F.when(ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - cx).otherwise(cx)) \
            .otherwise(cy)
        cx, cy = nx, ny
        s //= 2
    return F.when(x.isNull() | y.isNull(), F.lit(None)).otherwise(d)


def hilbert_key_sql_query(key_expr: str, x_expr: str, y_expr: str,
                          bounds: Tuple[float, float, float, float],
                          bits: int, from_sql: str,
                          key_name: str = "id",
                          out_name: str = "hkey") -> str:
    """The DuckDB twin of hilbert_key as a FULL query with one CTE per
    level — the naive scalar expression doubles per level (30 MB of
    text by bits=8), while CTE chaining stays linear because each
    level references the previous level's named COLUMNS. Generated
    from the same walk as the Column builder, so both engines replay
    identical arithmetic. Returns SELECT {key_name}, {out_name}."""
    if not 1 <= bits <= 8:
        raise ValueError(f"bits must be in [1, 8], got {bits}")
    xmin, ymin, xmax, ymax = (float(b) for b in bounds)
    n = float(1 << bits)
    top = (1 << bits) - 1

    def cell(v: str, lo: float, hi: float) -> str:
        return (f"GREATEST(0, LEAST({top}, CAST(floor((({v})::DOUBLE - "
                f"{lo!r}) / {hi - lo!r} * {n!r}) AS BIGINT)))")

    ctes = [f"""h0 AS (
        SELECT {key_expr} AS _k,
               {cell(x_expr, xmin, xmax)} AS cx,
               {cell(y_expr, ymin, ymax)} AS cy,
               0::BIGINT AS acc
        FROM {from_sql})"""]
    s = 1 << (bits - 1)
    lvl = 0
    while s > 0:
        rx = f"(CASE WHEN (cx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (cy & {s}) > 0 THEN 1 ELSE 0 END)"
        ctes.append(f"""h{lvl + 1} AS (
        SELECT _k,
               CASE WHEN {ry} = 0 THEN
                 (CASE WHEN {rx} = 1 THEN {s - 1} - cy ELSE cy END)
               ELSE cx END AS cx,
               CASE WHEN {ry} = 0 THEN
                 (CASE WHEN {rx} = 1 THEN {s - 1} - cx ELSE cx END)
               ELSE cy END AS cy,
               acc + {s * s} * xor(3 * {rx}, {ry}) AS acc
        FROM h{lvl})""")
        lvl += 1
        s //= 2
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT _k AS {key_name}, acc AS {out_name} FROM h{lvl}")


def with_hilbert_key(df: DataFrame, x_col: str, y_col: str,
                     bounds: Tuple[float, float, float, float],
                     bits: int = 8, out_col: str = "hkey") -> DataFrame:
    """Production Hilbert keys: the same walk as hilbert_key but built
    as one PROJECTION PER LEVEL over named columns, so the plan grows
    linearly in ``bits`` instead of the scalar form's exponential
    expression tree (Catalyst keeps multi-referenced CASE aliases at
    projection boundaries rather than re-inlining them). Supports the
    full practical grid range. NULL coords → NULL key."""
    if not 1 <= bits <= 15:
        raise ValueError(f"with_hilbert_key: bits in [1, 15], got {bits}")
    xmin, ymin, xmax, ymax = (float(b) for b in bounds)
    if not (xmax > xmin and ymax > ymin):
        raise ValueError(f"with_hilbert_key: degenerate bounds {bounds}")
    n = float(1 << bits)
    top = (1 << bits) - 1

    def cell(v: Column, lo: float, hi: float) -> Column:
        q = F.floor((v.cast("double") - lo) / (hi - lo) * n).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(top), q))

    base = [c for c in df.columns]
    out = df.select(
        *base,
        cell(F.col(x_col), xmin, xmax).alias("_hx"),
        cell(F.col(y_col), ymin, ymax).alias("_hy"),
        F.lit(0).cast("long").alias("_hacc"))
    s = 1 << (bits - 1)
    while s > 0:
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0,
                    F.lit(1)).otherwise(F.lit(0)).cast("long")
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0,
                    F.lit(1)).otherwise(F.lit(0)).cast("long")
        out = out.select(
            *base,
            F.when(ry == 0,
                   F.when(rx == 1, F.lit(s - 1) - F.col("_hy"))
                   .otherwise(F.col("_hy"))).otherwise(F.col("_hx"))
            .alias("_hx"),
            F.when(ry == 0,
                   F.when(rx == 1, F.lit(s - 1) - F.col("_hx"))
                   .otherwise(F.col("_hx"))).otherwise(F.col("_hy"))
            .alias("_hy"),
            (F.col("_hacc")
             + F.lit(s) * F.lit(s)
             * (F.lit(3) * rx).bitwiseXOR(ry)).alias("_hacc"))
        s //= 2
    return (out.withColumn(
        out_col,
        F.when(F.col(x_col).isNull() | F.col(y_col).isNull(),
               F.lit(None)).otherwise(F.col("_hacc")))
        .drop("_hx", "_hy", "_hacc"))
