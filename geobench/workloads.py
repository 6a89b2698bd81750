"""The benchmark's workloads.

A workload generates its inputs from the seed, writes what the library
reads (``setup``), and hands out rounds of operations. Each operation
runs against the live session (``run``), is checked against an oracle
(``check``; oracles run outside every timed region) and states how many
input geometries it consumed (``rows``).
Every round of a workload holds the same mix of operations, so any whole
number of rounds measures the same thing.

Spans wrap each call into the library (``plan.*`` for the calls that
build a plan, ``action.*`` for the one that runs the query); untraced
runs pass a ``NullTracer``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Any, Callable, Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle


@dataclass
class Op:
    kind: str
    rows: int                          # input geometries consumed
    run: Callable[[Any, Any], Any]     # (spark, tracer) -> result
    check: Callable[[Any], bool]
    # prepares the operation's UDF inputs; returns the in-process call
    replay: Callable[[], Callable[[], Any]]
    layer: Dict[str, float]            # counts the oracle already knows


def _write_polys_raw(path: str, id_col: str, wkbs: List[bytes]) -> None:
    pq.write_table(pa.table({id_col: np.arange(len(wkbs), dtype=np.int64),
                             "geom": pa.array(wkbs, pa.binary())}), path)


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet files under a written dataset directory."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in files if f.endswith(".parquet"))
    return total


class Workload:
    """Base: both workloads query a cell-partitioned point dataset that
    set-up writes with the library's ``write_geo_parquet``."""

    name = ""
    cell = 16.0
    n_points = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input_bytes = 0      # generated file the library's write read
        self.written_bytes = 0    # parquet bytes the write produced
        self.write_s = 0.0

    def sizes(self) -> Dict[str, Any]:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """Generate the inputs and write what the library will read."""
        raise NotImplementedError

    def _write_points(self, spark) -> str:
        """Generated points -> plain parquet (pyarrow) -> the library's
        cell-partitioned dataset; returns the dataset path."""
        from datafusion_geo_spark.sources.geoio import write_geo_parquet
        self.x, self.y = gen.points(self.seed, self.n_points)
        buf, offs = gen.points_wkb(self.x, self.y)
        geom = pa.Array.from_buffers(
            pa.binary(), self.n_points,
            [None, pa.py_buffer(offs), pa.py_buffer(buf)])
        raw = os.path.join(self.work, "points_raw.parquet")
        pq.write_table(pa.table({
            "pid": np.arange(self.n_points, dtype=np.int64),
            "geom": geom}), raw)
        self.input_bytes = os.path.getsize(raw)
        ds = os.path.join(self.work, "points_ds")
        t0 = time.perf_counter()
        write_geo_parquet(spark.read.parquet(raw), ds, cell=self.cell)
        self.write_s = time.perf_counter() - t0
        self.written_bytes = parquet_bytes(ds)
        return ds

    def rounds(self, n: int) -> List[List[Op]]:
        raise NotImplementedError

    def warmup_ops(self) -> List[Op]:
        """Operations that take every code path the timed loop takes:
        by default one round."""
        return self.rounds(1)[0]

    def bytes_written_per_input_byte(self) -> float:
        return self.written_bytes / self.input_bytes


# ------------------------------------------------------------ window_scan

class WindowScan(Workload):
    """Window queries over a cell-partitioned point dataset."""

    name = "window_scan"
    n_points = 250_000

    def sizes(self):
        return {"points": self.n_points, "windows_per_round":
                gen.WINDOW_STRATA, "cell": self.cell}

    def setup(self, spark) -> None:
        self.ds = self._write_points(spark)

    def warmup_ops(self) -> List[Op]:
        # the smallest window and the full scan: both ends of the mix
        rnd = sorted(self.rounds(1)[0], key=lambda op: op.rows)
        return [rnd[0], rnd[-1]]

    def rounds(self, n: int) -> List[List[Op]]:
        return [[self._op(w) for w in rnd]
                for rnd in gen.windows(self.seed, n)]

    def _op(self, w: gen.Window) -> Op:
        import pyspark.sql.functions as F
        from datafusion_geo_spark.functions import (geom_lit, st_extent_agg,
                                                    st_intersects)
        from datafusion_geo_spark.sources.geoio import read_geo_parquet
        n_expect, ext_expect = oracle.window_result(self.x, self.y, w.ring,
                                                    w.is_rect)
        wkt = w.wkt()

        def run(spark, tr):
            with tr.span("plan.sources.read_geo_parquet"):
                df = read_geo_parquet(spark, self.ds, bbox=w.bbox)
            with tr.span("plan.functions.st_intersects"):
                df = df.where(st_intersects(F.col("geom"), geom_lit(wkt)))
            with tr.span("plan.functions.st_extent_agg"):
                agg = df.agg(F.count(F.lit(1)).alias("n"), st_extent_agg(
                    F.struct("xmin", "ymin", "xmax", "ymax")).alias("e"))
            with tr.span("action.collect"):
                row = agg.collect()[0]
            e = row["e"]
            ext = None if e is None or e["xmin"] is None else (
                e["xmin"], e["ymin"], e["xmax"], e["ymax"])
            return row["n"], ext

        def check(res):
            return res == (n_expect, ext_expect)

        def replay():
            import pandas as pd
            from datafusion_geo_spark.functions import kernels
            x0, y0, x1, y1 = w.bbox  # the rows the bbox filter lets through
            m = ((self.x >= x0) & (self.x <= x1)
                 & (self.y >= y0) & (self.y <= y1))
            pts = pd.Series(gen.point_wkb_list(self.x[m], self.y[m]),
                            dtype=object)
            lit = pd.Series([gen.polygon_wkb([w.ring])] * len(pts),
                            dtype=object)
            return lambda: kernels.intersects(pts, lit)

        return Op("window", n_expect, run, check, replay,
                  {"rows_returned": n_expect})


# ----------------------------------------------------- point_polygon_join

class PointPolygonJoin(Workload):
    """Clustered points joined to zones (broadcast) and to a parcel
    tiling (cogrouped grid), each ending in per-polygon counts."""

    name = "point_polygon_join"
    n_points = 15_000
    n_zones = 2_000
    grid = 32          # grid x grid parcels
    cell = 32.0        # the join reads every cell: 16 files, one listing

    def sizes(self):
        return {"points": self.n_points, "zones": self.n_zones,
                "parcels": self.grid * self.grid, "cell": self.cell}

    def setup(self, spark) -> None:
        self.pts = self._write_points(spark)
        self.zone_rings = gen.zones(self.seed, self.n_zones)
        self.zones = os.path.join(self.work, "zones.parquet")
        _write_polys_raw(self.zones, "zone_id",
                         [gen.polygon_wkb([r]) for r in self.zone_rings])
        self.vx, self.vy = gen.grid_parcels(self.seed, self.grid)
        self.parcel_rings = [gen.quad_ring(self.vx, self.vy, i, j)
                             for i in range(self.grid)
                             for j in range(self.grid)]
        self.parcels = os.path.join(self.work, "parcels.parquet")
        _write_polys_raw(self.parcels, "parcel_id",
                         [gen.polygon_wkb([r]) for r in self.parcel_rings])
        self._ops = None

    def rounds(self, n: int) -> List[List[Op]]:
        if self._ops is None:  # the oracles run once per set-up
            self._ops = [self._broadcast_op(), self._grid_op()]
        return [list(self._ops) for _ in range(n)]

    def _read_points(self, spark, tr):
        from datafusion_geo_spark.sources.geoio import read_geo_parquet
        with tr.span("plan.sources.read_geo_parquet"):
            return read_geo_parquet(spark, self.pts)

    @staticmethod
    def _counts(rows) -> Dict[int, int]:
        return {int(r[0]): int(r[1]) for r in rows}

    def _broadcast_op(self) -> Op:
        import pyspark.sql.functions as F
        from datafusion_geo_spark.operators.spatial_join import (
            broadcast_bbox_join)
        expect = oracle.zone_counts(self.x, self.y, self.zone_rings)

        def run(spark, tr):
            pts = self._read_points(spark, tr)
            zones = spark.read.parquet(self.zones)
            with tr.span("plan.operators.broadcast_bbox_join"):
                j = broadcast_bbox_join(pts, zones)
                agg = j.groupBy(F.col("s.zone_id")).count()
            with tr.span("action.collect"):
                return self._counts(agg.collect())

        return Op("broadcast_bbox_join", self.n_points + self.n_zones, run,
                  lambda res: res == expect,
                  self._replay_pairs(self.zone_rings),
                  {"true_pairs": sum(expect.values()),
                   "rows_returned": sum(expect.values())})

    def _grid_op(self) -> Op:
        import pyspark.sql.functions as F
        from datafusion_geo_spark.operators.spatial_join import (
            cogrouped_grid_join)
        expect, cands = oracle.grid_counts(self.x, self.y, self.vx, self.vy)

        def run(spark, tr):
            pts = self._read_points(spark, tr)
            parcels = spark.read.parquet(self.parcels)
            with tr.span("plan.operators.cogrouped_grid_join"):
                j = cogrouped_grid_join(pts, parcels, cell=8.0,
                                        a_cols=["pid"],
                                        b_cols=["parcel_id"])
                agg = j.groupBy("parcel_id").count()
            with tr.span("action.collect"):
                return self._counts(agg.collect())

        return Op("cogrouped_grid_join", self.n_points + self.grid ** 2,
                  run, lambda res: res == expect,
                  self._replay_pairs(self.parcel_rings),
                  {"candidate_pairs": cands,
                   "true_pairs": sum(expect.values()),
                   "rows_returned": sum(expect.values())})

    def _replay_pairs(self, rings) -> Callable[[], Callable[[], None]]:
        """The kernel work of one join: bounding boxes of the polygons,
        then the exact test over every bbox-candidate pair."""
        def replay():
            import pandas as pd
            from datafusion_geo_spark.functions import kernels
            wkbs = [gen.polygon_wkb([r]) for r in rings]
            polys = pd.Series(wkbs, dtype=object)
            pi, zi = oracle.bbox_pairs(self.x, self.y, rings)
            a = pd.Series(gen.point_wkb_list(self.x[pi], self.y[pi]),
                          dtype=object)
            b = pd.Series([wkbs[z] for z in zi], dtype=object)

            def work():
                kernels.box2d_rows(polys)
                kernels.intersects(a, b)
            return work
        return replay


WORKLOADS = {w.name: w for w in (WindowScan, PointPolygonJoin)}
