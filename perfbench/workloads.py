"""The benchmark's workloads: inputs, one pass, and the output check.

A pass is the unit every timing is taken over:

* ``metas_reference_scale``: ``read_court_csvs`` → ``compute_resumo`` →
  ``stringify_resumo`` → ``write_csv(ResumoMetas)``, then the untyped
  ``read_court_csvs`` → ``write_csv(Consolidado)`` — the reference's two
  reports, written as ``scripts/bench_metas_corpus.py`` writes them (resumo
  as one file, Consolidado in parallel parts). One pass is one operation.
* ``registry_tail``: every query of ``REGISTRY_TAIL`` built with
  ``registry.QUERIES[name](spark, sf_dir)`` and forced through the noop
  sink, with ``spark.catalog.clearCache()`` before each, as ``bench.py``
  does. Each query is one operation.

Each pass has two phases. The *resumo* phase ends when the ResumoMetas
report is out: the ResumoMetas write on ``metas_reference_scale``, the
``metas_resumo_pipeline`` query on ``registry_tail``. The *consolidado*
phase is the rest: the Consolidado read and write, or the queries after
``metas_resumo_pipeline``.

The output check is untimed. On ``metas_reference_scale`` it compares the
reports the last pass wrote with ``tests.metas_oracle``: the resumo cell
for cell with ``expected``, the Consolidado's rows and columns with the
oracle's union. On ``registry_tail`` it runs one more pass and compares
each query with its DuckDB oracle through ``tests.oracle_harness.compare``.
"""

from __future__ import annotations

import glob
import math
import os
import time
from dataclasses import dataclass, field

import corpora

# Sizes of the generated inputs, set so that a full benchmark set (4 + 22
# runs per workload) fits its time budget on a 4-core VM running at half
# speed. The reference's own corpus is REFERENCE_BYTES (0.93 GB), 64 times
# REFERENCE_SCALE.
REFERENCE_SCALE = 1 / 64
REGISTRY_SF = 0.005

# Four queries of the registry's slow tail at sf 0.1: dedup_lsh_recall
# (eager driver work, memo builds and re-pins; it also builds the
# dedup_prefix_filter_jaccard truth set through the memo),
# histogram_equi_depth (bound by its sink), metas_resumo_pipeline (the
# registered metas pipeline) and q1_pricing_summary (a plain TPC-H
# aggregate). The other tail queries named when the benchmark was specified
# (graph_hits_scores, dedup_lsh_band_sweep, er_blocking_quality,
# dedup_truth_sample_estimate, dedup_prefix_filter_jaccard,
# q3_shipping_priority, j1_dim_lookup_fallback) would make each run longer
# than the time budget allows; graph_hits_scores alone, 30 Spark jobs of
# checkpoints, took a third of a pass.
# metas_resumo_pipeline sits mid-list so that the resumo and consolidado
# phases each cover two queries.
REGISTRY_TAIL = [
    "histogram_equi_depth",
    "metas_resumo_pipeline",  # closes the resumo phase
    "dedup_lsh_recall",
    "q1_pricing_summary",
]


@dataclass
class PassResult:
    run_s: float = 0.0
    resumo_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def consolidado_s(self) -> float:
        return self.run_s - self.resumo_s


class MetasWorkload:
    """A court-CSV corpus through the two-report metas pipeline."""

    name = "metas_reference_scale"

    def __init__(self, work_dir: str, seed: int) -> None:
        self.input_dir = os.path.join(work_dir, "input")
        self.csv_dir = self.input_dir  # the court CSVs read_court_csvs sees
        self.out_dir = os.path.join(work_dir, "output")
        self.seed = seed

    def prepare(self) -> int:
        """Write the corpus; returns its size in bytes."""
        return corpora.write_reference_corpus(
            self.input_dir, self.seed,
            round(corpora.REFERENCE_BYTES * REFERENCE_SCALE))

    def run_pass(self, spark, tr) -> PassResult:
        from metas_judiciarias_etl_spark.metas.pipeline import (
            FILE_COL, compute_resumo, read_court_csvs, stringify_resumo,
            write_csv)

        res = PassResult(attempted=1)
        t0 = time.perf_counter()
        try:
            tr.phase = "resumo"
            with tr.span("ingest.read", "call"):
                data = read_court_csvs(spark, self.input_dir)
            with tr.span("resumo.compute", "call"):
                resumo = compute_resumo(data)
            with tr.span("resumo.stringify", "call"):
                resumo = stringify_resumo(resumo)
            with tr.span("sink.resumo", "write"):
                write_csv(resumo, os.path.join(self.out_dir, "ResumoMetas.csv"))
            res.resumo_s = time.perf_counter() - t0
            tr.phase = "consolidado"
            with tr.span("ingest.read", "call"):
                union = read_court_csvs(spark, self.input_dir, typed=False).drop(FILE_COL)
            with tr.span("sink.consolidado", "write"):
                write_csv(union, os.path.join(self.out_dir, "Consolidado.csv"),
                          single_file=False)
        except Exception as exc:  # a failed pipeline run is a counted failure
            res.failed, res.errors = 1, [f"{self.name}: {exc!r}"[:500]]
        res.run_s = time.perf_counter() - t0
        return res

    def check(self, spark) -> PassResult:
        """The two reports the last pass wrote, against the pandas oracle."""
        from tests import metas_oracle

        res = PassResult(attempted=1)
        exp_resumo, exp_union = metas_oracle.expected(self.input_dir)
        problems = _compare_resumo(
            _read_sink(os.path.join(self.out_dir, "ResumoMetas.csv")), exp_resumo)
        header, rows = _read_sink(os.path.join(self.out_dir, "Consolidado.csv"))
        if len(rows) != len(exp_union) or sorted(header) != sorted(exp_union.columns):
            problems.append(f"consolidado: {len(rows)} rows x {len(header)} columns, "
                            f"oracle {exp_union.shape[0]} x {exp_union.shape[1]}")
        if problems:
            res.failed, res.errors = 1, problems[:5]
        return res

    def output_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in
                   glob.glob(os.path.join(self.out_dir, "*", "part-*")))


def _read_sink(path: str) -> tuple[list[str], list[list[str]]]:
    """Header and rows of a `;`-separated Spark CSV sink directory."""
    import csv

    header: list[str] = []
    rows: list[list[str]] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8", newline="") as fh:
            reader = csv.reader(fh, delimiter=";")
            header = next(reader, header)
            rows.extend(reader)
    return header, rows


def _cell(col: str, v):
    """Normalize one resumo cell: identity columns compare as text, metas
    as doubles rounded to 6 places with 'NA'/NaN/None as missing."""
    if col in ("sigla_tribunal", "ramo_justica"):
        return v
    if v is None or v == "NA" or (isinstance(v, float) and math.isnan(v)):
        return None
    return round(float(v), 6)


def _compare_resumo(got: tuple[list[str], list[list[str]]], exp_resumo) -> list[str]:
    """Cell-for-cell resumo comparison, as tests/test_metas_pipeline.py
    does it."""
    header, rows = got
    got_rows = {r[header.index("sigla_tribunal")]: dict(zip(header, r)) for r in rows}
    problems = []
    exp_rows = {r["sigla_tribunal"]: dict(r) for _, r in exp_resumo.iterrows()}
    if sorted(got_rows) != sorted(exp_rows):
        return [f"resumo: court set differs ({len(got_rows)} vs {len(exp_rows)})"]
    for court, exp_row in exp_rows.items():
        got_row = got_rows[court]
        for col, e in exp_row.items():
            if _cell(col, got_row.get(col)) != _cell(col, e):
                problems.append(f"resumo {court}.{col}: spark={got_row.get(col)!r} oracle={e!r}")
        for col in set(got_row) - set(exp_row):
            if _cell(col, got_row[col]) is not None:
                problems.append(f"resumo {court}.{col} should be NA")
    return problems


class RegistryWorkload:
    """The registry's tail queries over a generated parquet fixture."""

    def __init__(self, work_dir: str, seed: int) -> None:
        from metas_judiciarias_etl_spark import registry
        from metas_judiciarias_etl_spark.metas.queries import CORPUS_DIR

        registry.load_all()
        self.sf_dir = os.path.join(work_dir, "input")
        self.csv_dir = CORPUS_DIR  # read by metas_resumo_pipeline
        self.seed = seed

    def prepare(self) -> int:
        """Write the fixture; returns the bytes the queries read (the
        fixture plus the committed court corpus)."""
        fixture = corpora.write_registry_fixture(self.sf_dir, self.seed, REGISTRY_SF)
        corpus = sum(os.path.getsize(p) for p in glob.glob(os.path.join(self.csv_dir, "*.csv")))
        return fixture + corpus

    def run_pass(self, spark, tr) -> PassResult:
        from metas_judiciarias_etl_spark import registry

        res = PassResult(attempted=len(REGISTRY_TAIL))
        t0 = time.perf_counter()
        tr.phase = "resumo"
        for name in REGISTRY_TAIL:
            spark.catalog.clearCache()
            try:
                with tr.span(f"build:{name}", "build", query=name):
                    df = registry.QUERIES[name](spark, self.sf_dir)
                with tr.span(f"sink:{name}", "sink", query=name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed query is a counted failure
                res.failed += 1
                res.errors.append(f"{name}: {exc!r}"[:500])
            if name == "metas_resumo_pipeline":
                res.resumo_s = time.perf_counter() - t0
                tr.phase = "consolidado"
        res.run_s = time.perf_counter() - t0
        return res

    def check(self, spark) -> PassResult:
        from metas_judiciarias_etl_spark import registry
        from tests.oracle_harness import compare, duckdb_con

        res = PassResult(attempted=len(REGISTRY_TAIL))
        con = duckdb_con(self.sf_dir)
        spill = os.path.join(os.path.dirname(self.sf_dir), "duckdb")
        con.execute(f"SET temp_directory='{spill}'")
        con.execute("SET memory_limit='2GB'")
        try:
            for name in REGISTRY_TAIL:
                spark.catalog.clearCache()
                try:
                    df = registry.QUERIES[name](spark, self.sf_dir)
                    problems = compare(name, df, registry.ORACLES[name], con)
                except Exception as exc:
                    problems = [f"{name}: {exc!r}"[:500]]
                if problems:
                    res.failed += 1
                    res.errors.extend(problems[:2])
        finally:
            con.close()
        return res

    def output_bytes(self) -> int:
        return 0


def make(name: str, work_dir: str, seed: int):
    if name == "registry_tail":
        return RegistryWorkload(work_dir, seed)
    return MetasWorkload(work_dir, seed)


WORKLOADS = ("metas_reference_scale", "registry_tail")

