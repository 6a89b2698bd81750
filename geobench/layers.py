"""Per-layer metrics of a traced run.

Layer names follow the library's modules: ``sources`` (parquet scan and
the cell-partitioned write), ``functions`` (the JVM -> Python crossing
of the pandas UDFs), ``kernels`` (the UDF bodies replayed in-process,
without Spark), ``spatial_join`` (candidate filtering, cell replication,
broadcast, task skew) and ``engine`` (jobs, stages, tasks, shuffle).

Counts and times are means per traced operation; ratios are taken over
the totals of all traced operations.
"""

from __future__ import annotations

import time
from typing import Dict, List

import numpy as np

from . import gen, harvest, oracle

# name -> unit, in report order
UNITS: Dict[str, str] = {
    "sources.files_read": "count",
    "sources.bytes_read": "bytes",
    "sources.scan_ms": "ms",
    "sources.rows_scanned_per_row_returned": "ratio",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.write_s": "s",
    "functions.crossings": "count",
    "functions.rows_sent": "count",
    "functions.bytes_sent": "bytes",
    "functions.bytes_sent_per_row": "bytes/row",
    "functions.bytes_received": "bytes",
    "functions.boot_ms": "ms",
    "functions.init_ms": "ms",
    "functions.python_total_ms": "ms",
    "kernels.intersects_points_const.rows_per_s": "rows/s",
    "kernels.intersects_point_polygon.rows_per_s": "rows/s",
    "kernels.geom_from_text_polygons.rows_per_s": "rows/s",
    "kernels.box2d_rows.rows_per_s": "rows/s",
    "kernels.share_of_udf_time": "ratio",
    "spatial_join.candidate_pairs": "count",
    "spatial_join.true_pairs": "count",
    "spatial_join.precision": "ratio",
    "spatial_join.cell_replication": "ratio",
    "spatial_join.max_task_over_median": "ratio",
    "spatial_join.broadcast_bytes": "bytes",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.executor_run_ms": "ms",
    "engine.executor_cpu_ms": "ms",
    "engine.gc_ms": "ms",
    "engine.scheduler_delay_ms": "ms",
    "engine.shuffle_bytes_written": "bytes",
    "engine.shuffle_records": "count",
    "engine.shuffle_fetch_wait_ms": "ms",
    "engine.spill_bytes": "bytes",
    "engine.core_utilization": "ratio",
}


def harvest_op(spark, executions: List[dict], group: str, spans: list,
               parent: int) -> Dict[str, float]:
    """Everything one traced operation left behind: plan counters of
    its SQL executions and its job group's stage and task metrics (jobs
    and stages become spans under ``parent``)."""
    h = harvest.plan_layers(executions)
    h.update(harvest.engine_stats(spark, group, spans, parent))
    return h


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(traced_ops: list, kernel: Dict[str, float],
              write_execs: List[dict], write_s: float,
              cores: int) -> Dict[str, float]:
    """Per-layer metric values from the traced operations; the
    ``sources`` write counters come from the set-up's dataset write."""
    n = len(traced_ops)
    w = harvest.plan_layers(write_execs)
    tot: Dict[str, float] = {}
    for op, dt, h, _ in traced_ops:
        for k, v in h.items():
            tot[k] = tot.get(k, 0.0) + v
        for k, v in op.layer.items():
            tot["op." + k] = tot.get("op." + k, 0.0) + v
        tot["wall_ms"] = tot.get("wall_ms", 0.0) + dt * 1e3
    # the broadcast join's candidates are the nested-loop join's output;
    # the cogrouped join filters inside Python, so the generator-side
    # count of bbox-overlap pairs stands in for it
    cands = tot.get("bnlj_pairs", 0.0) + tot.get("op.candidate_pairs", 0.0)
    skews = [h["max_task_over_median"] for _, _, h, _ in traced_ops]
    v = {
        "sources.files_read": tot["files_read"] / n,
        "sources.bytes_read": tot["bytes_read"] / n,
        "sources.scan_ms": tot["scan_ms"] / n,
        "sources.rows_scanned_per_row_returned":
            _ratio(tot["rows_scanned"], tot.get("op.rows_returned", 0.0)),
        "sources.files_written": w["files_written"],
        "sources.bytes_written": w["bytes_written"],
        "sources.write_s": write_s,
        "functions.crossings": tot["crossings"] / n,
        "functions.rows_sent": tot["rows_sent"] / n,
        "functions.bytes_sent": tot["bytes_sent"] / n,
        "functions.bytes_sent_per_row":
            _ratio(tot["bytes_sent"], tot["rows_sent"]),
        "functions.bytes_received": tot["bytes_received"] / n,
        "functions.boot_ms": tot["boot_ms"] / n,
        "functions.init_ms": tot["init_ms"] / n,
        "functions.python_total_ms": tot["python_total_ms"] / n,
        "spatial_join.candidate_pairs": cands / n,
        "spatial_join.true_pairs": tot.get("op.true_pairs", 0.0) / n,
        "spatial_join.precision":
            _ratio(tot.get("op.true_pairs", 0.0), cands),
        "spatial_join.cell_replication":
            _ratio(tot["exploded_rows"], tot["explode_input_rows"]),
        "spatial_join.max_task_over_median": float(np.median(skews)),
        "spatial_join.broadcast_bytes": tot["broadcast_bytes"] / n,
        "engine.core_utilization":
            _ratio(tot["executor_run_ms"], tot["wall_ms"] * cores),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_ms",
              "executor_cpu_ms", "gc_ms", "scheduler_delay_ms",
              "shuffle_bytes_written", "shuffle_records",
              "shuffle_fetch_wait_ms", "spill_bytes"):
        v["engine." + k] = tot[k] / n
    v.update(kernel)
    return {k: float(v[k]) for k in UNITS}


def _timed(tracer, name: str, fn) -> float:
    with tracer.span(name):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0


def replay_kernels(seed: int, traced_ops: list,
                   tracer) -> Dict[str, float]:
    """``functions.kernels`` called in-process on generator batches:
    four fixed per-kernel rates, and the replay of the first traced
    round's UDF work as a share of that round's Python time."""
    import pandas as pd

    from datafusion_geo_spark.functions import kernels

    out: Dict[str, float] = {}
    with tracer.span("kernels.replay"):
        px, py = gen.points(seed, 100_000)
        pts = pd.Series(gen.point_wkb_list(px, py), dtype=object)
        hexagon = next(w for rnd in gen.windows(seed, 4) for w in rnd
                       if not w.is_rect)
        lit = pd.Series([gen.polygon_wkb([hexagon.ring])] * len(pts),
                        dtype=object)
        t = _timed(tracer, "kernels.replay.intersects_points_const",
                   lambda: kernels.intersects(pts, lit))
        out["kernels.intersects_points_const.rows_per_s"] = len(pts) / t

        rings = gen.zones(seed, 200)
        zwkb = [gen.polygon_wkb([r]) for r in rings]
        pi, zi = oracle.bbox_pairs(px[:20_000], py[:20_000], rings)
        a = pd.Series(gen.point_wkb_list(px[pi], py[pi]), dtype=object)
        b = pd.Series([zwkb[z] for z in zi], dtype=object)
        t = _timed(tracer, "kernels.replay.intersects_point_polygon",
                   lambda: kernels.intersects(a, b))
        out["kernels.intersects_point_polygon.rows_per_s"] = len(a) / t

        wkt = gen.parcel_wkt(seed, 500)
        ws = pd.Series(wkt, dtype=object)
        t = _timed(tracer, "kernels.replay.geom_from_text_polygons",
                   lambda: kernels.geom_from_text(ws))
        out["kernels.geom_from_text_polygons.rows_per_s"] = len(wkt) / t

        zs = pd.Series([gen.polygon_wkb([r]) for r in gen.zones(seed, 2000)],
                       dtype=object)
        t = _timed(tracer, "kernels.replay.box2d_rows",
                   lambda: kernels.box2d_rows(zs))
        out["kernels.box2d_rows.rows_per_s"] = len(zs) / t

        first = [o for o in traced_ops if o[3] == traced_ops[0][3]]
        replay_s = sum(_timed(tracer, f"kernels.replay.op.{op.kind}",
                              op.replay()) for op, _, _, _ in first)
        py_ms = sum(h["python_total_ms"] for _, _, h, _ in first)
        out["kernels.share_of_udf_time"] = _ratio(replay_s * 1e3, py_ms)
    return out
