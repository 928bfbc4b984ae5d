"""Reference-scale metas benchmark: the published baseline, reproduced.

The reference's only benchmark (BASELINE.md) runs its two pipeline variants
over 90 court CSVs totalling 0.93 GB (largest file 118.7 MB, median
~2.2 MB): NP 112-212 s, P 25-82 s depending on hardware. The real corpus is
LFS-stubbed, so this script synthesizes a corpus with the same file count,
branch mix (27 TJ*, 24 TRE*, 24 TRT*, 6 TRF*, 3 TJM*, STM, STJ, TST — per
SURVEY §5) and size distribution, then times THIS engine's full pipeline
(schema-drift union -> resumo + consolidado, both written as CSV) on it.

Run:  python scripts/bench_metas_corpus.py [--keep] [--dir DIR]
Prints one JSON line with corpus size, wall-clock, and throughput.

Sinks are written with parallel parts (single_file=False): the reference
serializes its final writes (pandas to_csv / byte-concat), but a scale
engine never coalesce(1)s a 0.93 GB union — SURVEY §7 phase 5. Parity mode
(single CSV) remains available via metas.pipeline.write_csv.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metas_judiciarias_etl_spark.metas.pipeline import (  # noqa: E402
    FILE_COL,
    compute_resumo,
    read_court_csvs,
    stringify_resumo,
    write_csv,
)
from metas_judiciarias_etl_spark.session import build_session  # noqa: E402

MB = 1 << 20

TRIPLE_KEYS = {
    "estadual": ["2_a", "2_b", "2_c", "2_ant", "4_a", "4_b", "6_a", "7_a",
                  "7_b", "8_a", "8_b", "10_a", "10_b"],
    "trabalho": ["2_a", "2_ant", "4_a", "4_b"],
    "eleitoral": ["2_a", "2_b", "2_ant", "4_a", "4_b"],
    "federal": ["2_a", "2_b", "2_ant", "4_a", "4_b", "6_a", "7_a", "7_b",
                 "8_a", "8_b", "10_a"],
    "militar": ["2_a", "2_ant", "4_a"],
}


def _courts() -> list[tuple[str, str, str, int]]:
    """(sigla, ramo, branch-template, target_bytes) for 90 courts matching
    the reference's branch mix and size spread (BASELINE.md)."""
    rng = random.Random(42)
    out = []
    # 27 state courts: TJSP is the 118.7 MB outlier; the rest 2-40 MB.
    out.append(("TJSP", "Justiça Estadual", "estadual", int(118.7 * MB)))
    for i in range(26):
        size = int(rng.uniform(2, 40) * MB)
        out.append((f"TJ{i:02d}", "Justiça Estadual", "estadual", size))
    for i in range(24):
        out.append((f"TRE-{i:02d}", "Justiça Eleitoral", "eleitoral",
                    int(rng.uniform(0.25, 6) * MB)))
    for i in range(24):
        out.append((f"TRT{i}", "Justiça do Trabalho", "trabalho",
                    int(rng.uniform(0.5, 8) * MB)))
    for i in range(6):
        out.append((f"TRF{i + 1}", "Justiça Federal", "federal",
                    int(rng.uniform(4, 30) * MB)))
    for i in range(3):
        out.append((f"TJM{i}", "Justiça Militar Estadual", "militar",
                    int(rng.uniform(0.3, 2) * MB)))
    out.append(("STM", "Justiça Militar da União", "militar", int(1.5 * MB)))
    out.append(("STJ", "Tribunais Superiores", "estadual", int(8 * MB)))
    out.append(("TST", "Tribunais Superiores", "trabalho", int(5 * MB)))
    return out


def _gen_file(path: str, sigla: str, ramo: str, template: str,
              target_bytes: int, rng: random.Random) -> int:
    keys = TRIPLE_KEYS[template]
    header = ["sigla_tribunal", "ramo_justica", "julgados_2025",
              "casos_novos_2025", "suspensos_2025", "dessobrestados_2025"]
    for k in keys:
        header += [f"julgm{k}", f"distm{k}", f"suspm{k}"]
    if sigla == "STJ":
        header += ["julgm8", "dism8", "suspm8", "julgm10", "dism10", "suspm10"]
    # Pre-render a 512-row chunk once, then repeat to target size — data
    # values don't affect parse/agg cost, row count and width do.
    rows = []
    for _ in range(512):
        vals = [sigla, ramo] + [str(rng.randint(0, 500)) for _ in range(len(header) - 2)]
        rows.append(",".join(vals))
    chunk = "\n".join(rows) + "\n"
    written = 0
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(",".join(header) + "\n")
        while written < target_bytes:
            fh.write(chunk)
            written += len(chunk)
    return os.path.getsize(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=None, help="corpus dir (default: temp)")
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    corpus = args.dir or tempfile.mkdtemp(prefix="metas_corpus_")
    os.makedirs(corpus, exist_ok=True)
    rng = random.Random(7)
    t0 = time.perf_counter()
    if not os.listdir(corpus):
        for sigla, ramo, template, size in _courts():
            _gen_file(
                os.path.join(corpus, f"teste_{sigla}.csv"),
                sigla, ramo, template, size, rng,
            )
    # Size and count what the pipeline scans: the *.csv files in the dir.
    csv_paths = [
        p for p in (os.path.join(corpus, f) for f in os.listdir(corpus))
        if p.endswith(".csv") and os.path.isfile(p)
    ]
    total = sum(os.path.getsize(p) for p in csv_paths)
    gen_s = round(time.perf_counter() - t0, 1)

    out_dir = tempfile.mkdtemp(prefix="metas_out_")
    spark = build_session(
        app_name="metas-corpus-bench",
        # 32 MB splits so the 118 MB outlier file parallelizes (the
        # reference's P variant is stuck with file granularity — SURVEY §4.2).
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * MB)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run_two_scan() -> tuple[float, float, float]:
        t1 = time.perf_counter()
        data = read_court_csvs(spark, corpus)
        resumo = stringify_resumo(compute_resumo(data))
        write_csv(resumo, os.path.join(out_dir, "ResumoMetas.csv"), single_file=True)
        r_s = round(time.perf_counter() - t1, 2)
        t2 = time.perf_counter()
        write_csv(
            read_court_csvs(spark, corpus, typed=False).drop(FILE_COL),
            os.path.join(out_dir, "Consolidado.csv"),
            single_file=False,
        )
        c_s = round(time.perf_counter() - t2, 2)
        return round(time.perf_counter() - t1, 2), r_s, c_s

    # ONE supported path (VERDICT r5 item 7): two_scan. The shared-scan
    # variant (one untyped parse persisted across both sinks) was measured
    # in rounds 4 AND 5 at ~60% slower (r5: median 17.55 s vs 10.72 s) —
    # materializing ~1 GB of cached strings costs more than a second
    # 32-thread parse on local disk, every time. It was retired from the
    # bench after r5 and later deleted from metas/pipeline.py, so
    # run() now has only this layout.
    #
    # Variance-robust protocol: >=3 trials, EVERY trial recorded plus the
    # median — the first Spark job pays JVM/codegen warmup, and this VM's
    # CPU throttling swings identical runs up to 3x, so a single number is
    # not evidence. The headline value is the MEDIAN (robust), with the
    # best trial kept alongside for the cross-round trend.
    import statistics

    reps = int(os.environ.get("METAS_BENCH_REPS", "3"))
    ts: list[dict] = []
    for _ in range(reps):
        wall, r_s, c_s = run_two_scan()
        ts.append({"wall_sec": wall, "resumo_sec": r_s,
                   "consolidado_sec": c_s})
    variant = {
        "trials_sec": [t["wall_sec"] for t in ts],
        "median_sec": round(statistics.median(t["wall_sec"] for t in ts), 2),
        "best_sec": min(t["wall_sec"] for t in ts),
        "best_trial": min(ts, key=lambda t: t["wall_sec"]),
    }
    wall = variant["median_sec"]

    print(json.dumps({
        "metric": "metas_pipeline_reference_scale",
        "value": wall,
        "unit": "sec",
        "protocol": f"median of {reps} trials, single supported variant",
        "best_variant": "two_scan",
        "best_sec": variant["best_sec"],
        "variants": {"two_scan": variant},
        "retired_variants": {
            "shared_scan": "60% slower in r4+r5 (r5 median 17.55s vs "
            "10.72s): persisting ~1GB of parsed strings costs more than a "
            "second parallel parse on local disk; deleted from "
            "metas/pipeline.py::run"
        },
        "corpus_bytes": total,
        "corpus_files": len(csv_paths),
        "gen_sec": gen_s,
        "throughput_mb_s": round(total / MB / wall, 1),
        "reference_baseline_sec": {"P_best": 25.28, "P_worst": 81.76,
                                    "NP_best": 111.93, "NP_worst": 212.37},
    }))

    shutil.rmtree(out_dir, ignore_errors=True)
    if not args.keep and args.dir is None:
        shutil.rmtree(corpus, ignore_errors=True)


if __name__ == "__main__":
    main()
