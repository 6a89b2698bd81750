#!/usr/bin/env python3
"""Seeded spatial benchmark for datafusion_geo_spark.

Run from the repository root:

    python3 geobench/run.py --workload window_scan --seed 1 --seconds 15

One client drives a closed loop against ``local[N]`` (N = min(4, cores)).
Set-up is the session start plus the median of three repeats of input
generation, dataset write and warm-up; then whole rounds of operations
run until ``--seconds`` have passed. Every result is checked against a numpy
oracle. Stdout carries a readable report and, as its last line, one JSON
object: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics (and a span file under ``.geobench/traces``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".geobench")

SETUP_REPEATS = 3
HEAP_MB = 1024        # driver = executor in local mode
# The tail percentile needs 10 samples beyond it; 16 puts it at p37.5
# or higher, where 11 samples would leave the second-fastest operation.
MIN_OPS = 16
MIN_ROUNDS = 2

# end-to-end metric -> unit, in report order
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "bytes_written_per_input_byte": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(cores: int, work: str):
    """A local session whose scratch space stays inside ``work``."""
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("geobench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.driver.memory", f"{HEAP_MB}m")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             # the heap is fully committed and touched at launch, so peak
             # RSS does not depend on when the JVM chose to grow it; no
             # perf-data file in /tmp
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                     f'-Djava.io.tmpdir="{tmp}"')
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def tail(lat: List[float]):
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile)."""
    s = sorted(lat)
    n = len(s)
    if n < MIN_OPS:
        raise ValueError(f"{n} latency samples; the tail needs {MIN_OPS}")
    return s[n - 11], 100.0 * (n - 10) / n


def run_op(op, spark, tr, group: str):
    """(latency s, ok) of one operation; any exception is a failure."""
    spark.sparkContext.setJobGroup(group, op.kind)
    t0 = time.perf_counter()
    try:
        res = op.run(spark, tr)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, False
    dt = time.perf_counter() - t0
    ok = bool(op.check(res))
    if not ok:
        print(f"oracle mismatch in {group} ({op.kind})", file=sys.stderr)
    return dt, ok


def set_up(wl, spark, trace: bool):
    """SETUP_REPEATS rounds of input generation, dataset write and
    warm-up in the started session (oracles and checks are not timed).
    Returns the plan recorder (traced runs), the median repeat in
    seconds, per-repeat timings, whether the warm-up matched its
    oracles, and the plan records of the last repeat's dataset write
    (traced runs)."""
    from geobench import harvest
    from geobench.trace import NullTracer
    recorder = harvest.PlanRecorder(spark) if trace else None
    repeats, phases, warm_ok, write_execs = [], [], True, []
    for _ in range(SETUP_REPEATS):
        t1 = time.perf_counter()
        wl.setup(spark)
        inputs_s = time.perf_counter() - t1
        if recorder is not None:
            recorder.drain()
            write_execs = recorder.take()
        warm_s = 0.0
        for i, op in enumerate(wl.warmup_ops()):
            dt, ok = run_op(op, spark, NullTracer(), f"warmup-{i}")
            warm_s += dt
            warm_ok &= ok
        repeats.append(inputs_s + warm_s)
        phases.append([round(inputs_s, 3), round(warm_s, 3)])
    if recorder is not None:
        recorder.drain()
        recorder.take()
    return (recorder, statistics.median(repeats), phases, warm_ok,
            write_execs)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "datafusion_geo_spark",
                                       "__init__.py")):
        print("geobench: datafusion_geo_spark not found beside the "
              "benchmark; run it from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the library too: put the checkout on their
    # path (they inherit the JVM's environment, which inherits ours).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    from geobench import harvest, layers
    from geobench.trace import NullTracer, Tracer, dump, self_times
    from geobench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would write a perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""),
         "-XX:-UsePerfData"]).strip()
    cores = max(1, min(4, os.cpu_count() or 1))
    wl = WORKLOADS[args.workload](args.seed, work)
    trace = bool(args.trace)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        session_s = time.perf_counter() - t0
        recorder, repeat_s, phases, warm_ok, write_execs = set_up(
            wl, spark, trace)
        setup_s = session_s + repeat_s
        sampler = harvest.ProcSampler(spark.sparkContext._gateway.proc.pid)
        tracer = Tracer() if trace else None
        null = NullTracer()
        steal0, load0 = harvest.steal_ticks(), harvest.loadavg()

        # ---- closed loop: whole rounds until --seconds have passed;
        # traced runs alternate untraced and traced rounds
        per_round = wl.rounds(8)  # reused cyclically
        lat: List[float] = []
        by_kind: Dict[str, List[float]] = {}
        rows = failed = attempted = 0
        walls: Dict[bool, List[float]] = {False: [], True: []}
        cpus: List[float] = []
        rss = 0.0
        traced_ops = []       # (op, latency, harvested counters, round)
        t_start = time.perf_counter()
        top = tracer.span(f"workload.{wl.name}", seed=args.seed) \
            if trace else contextlib.nullcontext()
        with top:
            r = 0
            while True:
                traced = trace and r % 2 == 1
                tr = tracer if traced else null
                cpu0 = sampler.cpu_s()
                wall = 0.0
                for i, op in enumerate(per_round[r % len(per_round)]):
                    group = f"op-{r}-{i}"
                    if traced:  # drop what untraced work left behind
                        recorder.drain()
                        recorder.take()
                    with tr.span(f"op.{op.kind}", op=group) as sp:
                        dt, ok = run_op(op, spark, tr, group)
                        if traced:
                            with tr.span("harvest", op=group):
                                recorder.drain()
                                h = layers.harvest_op(
                                    spark, recorder.take(), group,
                                    tracer.spans, sp["id"])
                            traced_ops.append((op, dt, h, r))
                    attempted += 1
                    failed += 0 if ok else 1
                    wall += dt
                    if not traced:  # traced latencies carry the harvest
                        lat.append(dt)
                        by_kind.setdefault(op.kind, []).append(dt)
                        rows += op.rows
                walls[traced].append(wall)
                if not traced:
                    cpus.append(sampler.cpu_s() - cpu0)
                rss = max(rss, sampler.rss_hwm_mb())
                r += 1
                # untraced runs need the tail's samples; traced runs a
                # median of both kinds of round
                if (time.perf_counter() - t_start >= args.seconds
                        and len(walls[False]) >= MIN_ROUNDS
                        and (len(walls[True]) >= MIN_ROUNDS if trace
                             else len(lat) >= MIN_OPS)):
                    break
            steal1, load1 = harvest.steal_ticks(), harvest.loadavg()

            metrics: Dict[str, dict] = {}
            gen_mb = sum(e.stat().st_size for e in os.scandir(work)
                         if e.name.endswith(".parquet")) / 2 ** 20
            report = [f"workload {wl.name}  seed {args.seed}  "
                      f"local[{cores}]  inputs {json.dumps(wl.sizes())}; "
                      f"{gen_mb:.2f} MB generated = "
                      f"{100 * gen_mb / HEAP_MB:.2f} % of the "
                      f"{HEAP_MB} MB executor heap"]
            if trace:
                kernel = layers.replay_kernels(args.seed, traced_ops, tracer)
        if trace:
            vals = layers.per_layer(traced_ops, kernel, write_execs,
                                    wl.write_s, cores)
            overhead = (statistics.median(walls[True])
                        - statistics.median(walls[False]))
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            path = os.path.join(STATE, "traces",
                                f"{wl.name}-seed{args.seed}.json")
            dump(path, {"workload": wl.name, "seed": args.seed,
                        "tracing_overhead_s": overhead,
                        "untraced_round_wall_s": walls[False],
                        "traced_round_wall_s": walls[True],
                        "per_layer": vals,
                        "listener_errors": recorder.errors},
                 tracer.spans)
            report.append(f"trace written to {os.path.relpath(path, ROOT)}")
            report.append(f"tracing overhead (traced - untraced wall_s, "
                          f"median round): {overhead:.4f} s")
            for k, v in self_times(tracer.spans).items():
                report.append(f"self time  {k:<44s} {v:.4f} s")
            for k, v in vals.items():
                metrics[k] = {"value": v, "unit": layers.UNITS[k]}
        else:
            p_tail, pct = tail(lat)
            busy = sum(lat)
            e2e = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls[False]),
                "ops_per_s": len(lat) / busy,
                "rows_per_s": rows / busy,
                "latency_p50_s": statistics.median(lat),
                "latency_tail_s": p_tail,
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": rss,
                "bytes_written_per_input_byte":
                    wl.bytes_written_per_input_byte(),
            }
            for k, u in E2E_UNITS.items():
                metrics[k] = {"value": float(e2e[k]), "unit": u}
            report.append(f"latency_tail_s is p{pct:.1f} over {len(lat)} "
                          f"samples; {len(walls[False])} rounds")
            report.append("median latency by operation: " + ", ".join(
                f"{k} {statistics.median(v):.4f} s (n={len(v)})"
                for k, v in by_kind.items()))
        report.append(f"error_rate {failed / attempted:.6f} ratio "
                      f"({failed} of {attempted} failed; warm-up ok: "
                      f"{warm_ok})")
        report.append(f"set-up: session start {session_s:.3f} s; "
                      f"inputs+write / warm-up per repeat (s): {phases}")
        report.append(f"diagnostics: steal ticks "
                      f"{None if steal0 is None else steal1 - steal0}, "
                      f"loadavg {load0} -> {load1}")
        for k, m in metrics.items():
            report.append(f"{k:<50s} {m['value']:.6g} {m['unit']}")
        print("\n".join(report))
        print(json.dumps({"correct": failed == 0 and warm_ok,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
