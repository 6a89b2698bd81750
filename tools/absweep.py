#!/usr/bin/env python
"""Steal-aware single-query timer for A/B comparisons: evaluates each
named query with the noop sink up to --tries times and reports the
attempt with the FEWEST hypervisor steal ticks (the bench.py retry
discipline, applied to sweep-style measurements). Warm timings only —
one untimed warmup evaluation precedes the tries.

    python tools/absweep.py [--tries N] name [name...]
"""
from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    args = sys.argv[1:]
    tries = 3
    if args and args[0] == "--tries":
        tries = int(args[1])
        args = args[2:]
    from tools.sweep import build_spark, steal_ticks
    import __spark_entry__ as entrymod
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    for name in args:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"absweep:{name}:warmup")
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        best = None
        runs = []
        for i in range(tries):
            # construction INSIDE the timed region: iterative queries
            # materialize via localCheckpoint while being built
            spark.sparkContext.setJobDescription(f"absweep:{name}:{i}")
            s0, t0 = steal_ticks(), time.time()
            fn(spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
            el, st = time.time() - t0, steal_ticks() - s0
            runs.append((round(el, 3), st))
            if best is None or st < best[1] or (st == best[1]
                                                and el < best[0]):
                best = (round(el, 3), st)
            if st < 200:      # clean enough window: stop early
                break
        print(json.dumps({"q": name, "warm": best[0], "steal": best[1],
                          "runs": runs}), flush=True)


if __name__ == "__main__":
    main()
