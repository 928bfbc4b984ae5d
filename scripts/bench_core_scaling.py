"""Parallel-scaling measurement at sf1 (VERDICT r7 item 7): time each
heavy-tier query at a fixed core count with bench.py's exact protocol
(noop sink, clearCache per rep, min-of-N), so two runs of this script —
SPARK_GRAFT_CPUS=32 and SPARK_GRAFT_CPUS=8 — yield a per-query
t_c8 / t_c32 ratio that is readable as parallel speedup.

Why sf1: at the driver's sf0.1 every query is scheduler/overhead-bound
(VERDICT r7: no query exceeded ~1.4 where parallel scaling would show 4)
— the work per task is too small for core count to matter. The 10×
upsample makes the compute tier large enough that the ratio measures
parallelism, not job-launch latency.

Usage:
    python scripts/make_scale_fixture.py                  # once
    SPARK_GRAFT_CPUS=32 python scripts/bench_core_scaling.py --out bench_out/CORES_c32.json
    SPARK_GRAFT_CPUS=8  python scripts/bench_core_scaling.py --out bench_out/CORES_c8.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force  # noqa: E402
from metas_judiciarias_etl_spark import registry  # noqa: E402
from metas_judiciarias_etl_spark.session import build_session  # noqa: E402
from scripts.bench_scale_curve import ANCHORS, EXPENSIVE  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="bench_out/sf1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    names = EXPENSIVE + [a for a in ANCHORS if a not in EXPENSIVE]
    if args.only:
        names = args.only.split(",")

    registry.load_all()
    spark = build_session(
        app_name="metas-etl-core-scaling",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "2",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    force(registry.QUERIES["q1_pricing_summary"](spark, args.sf))  # JIT warm

    results: dict[str, float] = {}
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        best = None
        for _rep in range(args.reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            force(fn(spark, args.sf))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[name] = round(best, 3)
        print(f"{name:36s} {best:7.2f}s @ c{cores}", flush=True)

    json.dump(
        {"cores": cores, "sf": args.sf, "reps": args.reps,
         "queries": results},
        open(args.out, "w"), indent=1,
    )
    print(f"wrote {args.out}: {len(results)} queries at c{cores}")


if __name__ == "__main__":
    main()
