"""Round-7 measurement harness (guide §1): time the bench tail queries
the bench's way (clearCache per rep, noop sink) AND their shared memo
builds in isolation, so each query's seconds decompose into
build-the-shared-roots vs run-the-query-logic.

Usage: python scripts/profile_tail.py [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
Prints one JSON line per measurement to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force  # noqa: E402
from metas_judiciarias_etl_spark import memo, registry  # noqa: E402
from metas_judiciarias_etl_spark.session import build_session  # noqa: E402

DEFAULT = [
    "dedup_lsh_band_sweep",
    "er_blocking_quality",
    "dedup_detector_ensemble",
    "dedup_simhash_recall",
    "dedup_clusters_incremental",
    "dedup_lsh_recall",
    "emb_silhouette_by_label",
    "dedup_containment_asymmetric",
    "dedup_repeated_substrings",
    "poisson_bootstrap_ci",
    "dedup_minhash_lsh",
    "bpe_compression_curve",
    "er_pattern_precision",
    "dedup_minhash_estimate_error",
    "dedup_prefix_filter_jaccard",
    "basket_pair_counts",
    "bpe_merge_steps",
    "graph_hits_scores",
    "er_match_weights",
    "emb_pca_top_component",
    "source_shingle_overlap_hll",
    "dedup_truth_sample_estimate",
    "histogram_equi_depth",
    "graph_kcore_peel",
    "prep_pipeline_v3",
    "item_cooccurrence_cosine",
    "basket_association_rules",
    "crosssource_backoff_score",
]


def timed(spark, label, fn, reps=2):
    best = None
    for _ in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"label": label, "sec": round(best, 3)}), flush=True)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or DEFAULT
    registry.load_all()
    spark = build_session(
        app_name="profile-tail",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "2",
        },
    )
    spark.sparkContext.setLogLevel("WARN")
    force(registry.QUERIES["q1_pricing_summary"](spark, sf_dir))  # warm JIT

    # Shared memo builds in isolation (what a cold query pays first).
    from metas_judiciarias_etl_spark.operators import dedup as D

    def build_shingles():
        memo.clear(spark)
        spark.catalog.clearCache()
        D._doc_shingles(spark, sf_dir)

    def build_sigs():
        memo.clear(spark)
        spark.catalog.clearCache()
        D._signatures_shared(spark, sf_dir)

    def build_truth():
        memo.clear(spark)
        spark.catalog.clearCache()
        registry.QUERIES["dedup_prefix_filter_jaccard"](spark, sf_dir)

    for label, fn in [
        ("memo:doc_shingles", build_shingles),
        ("memo:mh_signatures(incl shingles)", build_sigs),
        ("memo:jaccard_truth(incl roots)", build_truth),
    ]:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        print(json.dumps({"label": label, "sec": round(best, 3)}), flush=True)

    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        timed(spark, f"q:{name}", lambda fn=fn: force(fn(spark, sf_dir)))

    # Same queries again with all memos warm (cache NOT cleared): isolates
    # the query's own logic from the shared-root build cost.
    spark.catalog.clearCache()
    memo.clear(spark)
    registry.QUERIES["dedup_prefix_filter_jaccard"](spark, sf_dir)
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            continue
        best = None
        for _ in range(2):
            spark.sparkContext.setJobDescription(f"warm:{name}")
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        print(json.dumps({"label": f"warm:{name}", "sec": round(best, 3)}), flush=True)


if __name__ == "__main__":
    main()
