"""Measured scale curve: wall-time ratio of each query at two fixture sizes.

Runs the N most expensive headline queries (plus scan-bound TPC-H anchors)
at --sf-a (default the driver's sf0.1) and --sf-b (default the 10× local
upsample from scripts/make_scale_fixture.py), with bench.py's exact
protocol: noop sink (full computation, no collect), min-of-2 reps,
catalog.clearCache() before every rep. Sizes are INTERLEAVED per query
(a,b,a,b) so the VM's sustained-CPU throttle biases both sides equally.

Output: one JSON with per-query {t_a, t_b, ratio, verdict} where verdict
is 'linear' (ratio ≤ factor × slack), 'sublinear' (< factor/2 — fixed
overhead dominates) or 'super-linear' (> factor × slack, needs a fix or an
explanation in SCALE.md).

Usage:
    python scripts/make_scale_fixture.py            # once, builds bench_out/sf1
    python scripts/bench_scale_curve.py --out SCALE_CURVE_r06.json
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

# Top of the sf0.1 cost ranking (BENCH_HEADLINE_r05) — the queries whose
# scaling behavior actually matters…
EXPENSIVE = [
    "dedup_lsh_band_sweep", "poisson_bootstrap_ci", "dedup_detector_ensemble",
    "dedup_lsh_recall", "dedup_repeated_substrings",
    "dedup_containment_asymmetric", "dedup_clusters_incremental",
    "emb_silhouette_by_label", "dedup_simhash_recall", "er_blocking_quality",
    "bpe_compression_curve", "item_cooccurrence_cosine", "histogram_equi_depth",
    "basket_pair_counts", "dedup_prefix_filter_jaccard", "bpe_merge_steps",
    "dedup_minhash_estimate_error", "graph_hits_scores", "er_pattern_precision",
    "crosssource_backoff_score", "prep_pipeline_v3", "emb_pca_top_component",
    "decontam_ngram_size_curve", "graph_kcore_peel", "basket_association_rules",
]
# …plus scan-bound TPC-H / event anchors that MUST come out ~linear (they
# calibrate what 'linear' looks like under this VM's noise).
ANCHORS = [
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume_customers",
    "sessionize_events", "window_running_total",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-a", default="/root/testdata/sf0.1")
    ap.add_argument("--sf-b", default="bench_out/sf1")
    ap.add_argument("--factor", type=float, default=10.0,
                    help="row-count ratio b/a (for the verdict bands)")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", default=None,
                    help="comma-separated query subset")
    ap.add_argument("--out", default="bench_out/SCALE_CURVE_latest.json")
    args = ap.parse_args()

    names = EXPENSIVE + [a for a in ANCHORS if a not in EXPENSIVE]
    if args.only:
        # an explicit subset may name ANY registered query, not just the
        # default tier (the sf1->sf10 second-decade run uses this)
        names = args.only.split(",")

    registry.load_all()
    spark = build_session(
        app_name="metas-etl-scale-curve",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "2",
        },
    )
    spark.sparkContext.setLogLevel("WARN")
    force(registry.QUERIES["q1_pricing_summary"](spark, args.sf_a))  # JIT warm

    results: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        best = {args.sf_a: None, args.sf_b: None}
        for _rep in range(args.reps):
            for sf_dir in (args.sf_a, args.sf_b):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                force(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                if best[sf_dir] is None or dt < best[sf_dir]:
                    best[sf_dir] = dt
        t_a, t_b = best[args.sf_a], best[args.sf_b]
        ratio = t_b / t_a if t_a else float("inf")
        # slack 1.5: AQE partition-count jumps + parquet row-group
        # boundaries + VM noise make exactly-10.0 unobtainable.
        if ratio > args.factor * 1.5:
            verdict = "super-linear"
        elif ratio < args.factor / 2:
            verdict = "sublinear (overhead-bound)"
        else:
            verdict = "linear"
        results[name] = {
            "t_a": round(t_a, 3), "t_b": round(t_b, 3),
            "ratio": round(ratio, 2), "verdict": verdict,
        }
        print(f"{name:36s} {t_a:7.2f}s -> {t_b:8.2f}s  x{ratio:6.2f}  {verdict}",
              flush=True)

    record = {
        "sf_a": args.sf_a, "sf_b": args.sf_b, "factor": args.factor,
        "reps": args.reps, "protocol": "interleaved a,b per rep; min-of-reps; "
        "noop sink; clearCache per rep", "queries": results,
    }
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"wrote": args.out, "n": len(results)}))


if __name__ == "__main__":
    main()
