"""The metas pipeline as one declarative Catalyst plan.

Reference semantics (SURVEY.md §1/§3; Versao_Np.py cited per function), but
the execution design is Spark-native:

* per-court CSVs with drifted schemas are read via a driver-side header
  scan that buckets files by exact header, one `spark.read.csv` per bucket
  with an explicit schema, then `unionByName(allowMissingColumns=True)` —
  Spark's positional CSV binding makes a naive glob read silently
  misassign columns (SURVEY.md §4.2, the one place naive Spark is WRONG);
* the whole computation is ONE hash aggregation: `groupBy(file)` with
  ~49 column sums + non-null counts + identity `first()`s — partial
  map-side combine, one shuffle, AQE handles the 525× file-size skew;
* factors are a literal CASE tree over the mapped branch (8 branches × 15
  keys of rational constants) — constant-folded by Catalyst; the per-key
  Justiça-Estadual fallback (NP:122) is resolved at plan time;
* metas stay nullable DoubleType end to end; the 'NA' sentinel and the
  lexicographic column order appear only in the sink projection (NP:232).

At 100 TB: the header scan reads 2 lines per file (driver-side listing is
the real cost — use a manifest/catalog instead of ls at that scale); the
aggregation shuffles one row per (file, ~100 cols), i.e. output is tiny;
everything downstream of the agg is effectively free.
"""

from __future__ import annotations

import csv
import io
import os
from functools import reduce
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import config as C

FILE_COL = "_court_file"


# ---------------------------------------------------------------------------
# Source: schema-drift CSV union (replaces NP:143,155,226 and the unsound
# byte-concat P:240-252 — see SURVEY.md §1.5 'Consolidado divergence').
# ---------------------------------------------------------------------------
def _parse_header(header_line: str) -> tuple[str, ...]:
    """Parse one CSV header line with real CSV quoting rules — a quoted
    header cell containing a comma must stay one column, or the file lands
    in the wrong bucket and every value after it misaligns."""
    return tuple(h.strip() for h in next(csv.reader(io.StringIO(header_line))))


def _bucket_entries(
    entries: Iterable[tuple[str, str]],
) -> dict[tuple[str, ...], list[str]]:
    """(path, header_line) pairs → {header: [paths]} buckets, applying the
    reference's skip rules (NP:157-159): blank header or missing identity
    column → file excluded. (Header-only files need no special case under
    Spark: zero data rows → zero rows in the union → no resumo group,
    identical to the reference skipping the file.)"""
    buckets: dict[tuple[str, ...], list[str]] = {}
    for path, header_line in entries:
        if not header_line:
            continue
        header = _parse_header(header_line)
        if not set(C.IDENTITY_COLUMNS).issubset(header):
            continue
        buckets.setdefault(header, []).append(path)
    return buckets


def _scan_headers(input_dir: str) -> dict[tuple[str, ...], list[str]]:
    """Driver-side probe: first two lines of each *.csv → header buckets.

    Files are skipped (matching NP:157-159) when they are empty, have no
    data row (header-only → pandas df.empty), or lack an identity column.
    Cost: O(2 lines) per file; at real scale pass ``manifest=`` to
    ``read_court_csvs`` instead — a catalog row per file beats O(files)
    object-store open() round-trips.
    """

    def entries():
        for name in sorted(os.listdir(input_dir)):
            if not name.endswith(".csv"):
                continue
            path = os.path.join(input_dir, name)
            if not os.path.isfile(path):
                # e.g. a Spark CSV sink directory named *.csv
                continue
            with open(path, encoding="utf-8", newline="") as fh:
                header_line = fh.readline().strip("\r\n")
                has_data = bool(fh.readline())
            if has_data:
                yield path, header_line

    return _bucket_entries(entries())


def load_manifest(source: str | Iterable[tuple[str, str]]) -> list[tuple[str, str]]:
    """Normalize a file manifest to [(path, header_line)].

    ``source`` is either an iterable of (path, header_line) pairs or a path
    to a manifest CSV with columns ``path,header`` (header = the data
    file's raw first line, CSV-quoted as needed). This is the 100 TB
    listing path: one catalog read replaces per-file opens."""
    if isinstance(source, str):
        with open(source, encoding="utf-8", newline="") as fh:
            rows = csv.DictReader(fh)
            return [(r["path"], r["header"]) for r in rows]
    return list(source)


def _bucket_schema(header: tuple[str, ...], typed: bool = True) -> T.StructType:
    """Explicit schema per header bucket: identity → string, known meta
    counters → double, unknown extras → string (preserved for the
    consolidated output, ignored by the metrics). ``typed=False`` reads
    every column as string."""
    numeric = set(C.all_numeric_columns()) if typed else set()
    return T.StructType(
        [
            T.StructField(
                col, T.DoubleType() if col in numeric else T.StringType(), True
            )
            for col in header
        ]
    )


def read_court_csvs(
    spark: SparkSession,
    input_dir: str,
    typed: bool = True,
    manifest: str | Iterable[tuple[str, str]] | None = None,
) -> DataFrame:
    """Read every valid court CSV under ``input_dir`` into one DataFrame
    with by-name schema alignment and a file-lineage column.

    ``typed=False`` keeps every column a string: field-count-malformed
    rows still drop (DROPMALFORMED, = the reference's on_bad_lines='skip',
    NP:155), but values pass through byte-verbatim — the right mode for
    the Consolidado sink, which re-emits input cells without arithmetic
    (the reference applies no dtype there either; double-parsing would
    only rewrite '40' as '40.0' and pay parse + format for nothing).

    ``manifest`` replaces the driver-side per-file header probe with a
    precomputed ``(path, header_line)`` listing (see ``load_manifest``) —
    the scale path: one catalog scan instead of O(files) opens."""
    buckets = (
        _bucket_entries(load_manifest(manifest))
        if manifest is not None
        else _scan_headers(input_dir)
    )
    if not buckets:
        raise FileNotFoundError(f"no valid court CSVs in {input_dir}")
    parts = []
    for header, paths in sorted(buckets.items()):
        df = (
            # NB: no explicit encoding option — UTF-8 is already Spark's
            # default, and *naming* it switches the reader onto the
            # generic-charset line decoder, a measured 4x slowdown.
            # columnPruning=false is a PER-READ option (verified to
            # override the session conf): with pruning on, DROPMALFORMED
            # only sees projected columns, so a narrow projection (e.g. a
            # bare count) would silently KEEP malformed rows. Scoping it
            # here leaves the session conf — and every other CSV read in
            # the session — untouched.
            spark.read.options(
                header=True, sep=",", mode="DROPMALFORMED", columnPruning="false"
            )
            .schema(_bucket_schema(header, typed))
            .csv(paths)
            .withColumn(FILE_COL, F.input_file_name())
        )
        parts.append(df)
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


# ---------------------------------------------------------------------------
# Factor resolution (NP:10-24 remap, NP:41-61 factor table, NP:122 JE
# fallback) and the guarded ratio kernels (calcular_meta NP:65-81, meta-1
# NP:171-208), built as SQL TEXT and applied in a handful of selectExpr
# stages. Why text and not the Column API: the expression forest here is
# ~500 CASE/arith nodes, and building it node-by-node through py4j costs
# multiple seconds of driver time per plan; f-string assembly is free and
# yields the identical Catalyst tree. The stages are Projects that
# Catalyst's CollapseProject folds into one.
# ---------------------------------------------------------------------------
NULL_D = "CAST(NULL AS DOUBLE)"


def _sum_name(col: str) -> str:
    return f"__s_{col}"


def _lit_d(v: float | None) -> str:
    # repr() of a Python float round-trips the exact IEEE double.
    return NULL_D if v is None else f"{v!r}D"


def _mapped_sql() -> str:
    """Branch remap (NP:10-24): Tribunais Superiores resolve per court,
    Justiça Eleitoral resolves to the TSE factor set."""
    arms = " ".join(
        f"WHEN ramo_justica = '{C.SUPERIOR_BRANCH}' AND sigla_tribunal = '{sig}' "
        f"THEN '{mapped}'"
        for sig, mapped in C.SUPERIOR_COURT_MAP.items()
    )
    return (
        f"CASE {arms} "
        f"WHEN ramo_justica = '{C.ELECTORAL_BRANCH}' THEN '{C.ELECTORAL_MAPPED}' "
        "ELSE ramo_justica END"
    )


def _factor_sql(key: str) -> str:
    """CASE over ``__mapped`` emitting the literal factor for ``key`` (JE
    fallback baked in; unknown branches hit the ELSE = JE factor).
    Materialized once per key as a ``__f_`` column so every downstream
    reference is a cheap attribute, not a repeated CASE tree."""
    arms = " ".join(
        f"WHEN __mapped = '{branch}' THEN {_lit_d(C.resolve_factor(branch, key))}"
        for branch in C.FACTORS_BY_BRANCH
    )
    return f"CASE {arms} ELSE {_lit_d(C.resolve_factor(C.DEFAULT_BRANCH, key))} END"


def _meta_sql(schema_cols: set[str], j: str, d: str, s: str, key: str) -> str:
    """bround(Σj/(Σd−Σs) × factor, 2) with the reference's guards: all
    three columns present (plan-time) with ≥1 non-null value each,
    non-zero denominator, valid factor; else NULL ('NA').

    The ≥1-non-null guard is ``sum(col) IS NOT NULL``: for DoubleType,
    Spark's sum is NULL exactly when every input is NULL, and every file
    group has ≥1 row — equivalent to the reference's notna().any() probe
    (NP:67) without carrying a second count() aggregate per column (halves
    the agg width: ~49 aggregates instead of ~98). The factor guard also
    scopes the STJ overrides: ``__f_8``/``__f_10`` are NULL off-branch
    (only the STJ factor set has those keys, NP:125/131)."""
    if not {j, d, s}.issubset(schema_cols):
        return NULL_D
    sj, sd, ss = _sum_name(j), _sum_name(d), _sum_name(s)
    guard = (
        f"{sj} IS NOT NULL AND {sd} IS NOT NULL AND {ss} IS NOT NULL "
        f"AND __f_{key} IS NOT NULL"
    )
    ratio = f"bround({sj} / nullif({sd} - {ss}, 0.0D) * __f_{key}, 2)"
    return f"CASE WHEN {guard} THEN {ratio} END"


def _meta1_sql(schema_cols: set[str]) -> str:
    """Meta 1 (NP:171-208): Σjulgados/(Σcasos_novos + Σdessobrestados −
    Σsuspensos) × 100; dessobrestados optional, defaulting to 0."""
    if not set(C.META1_COLUMNS).issubset(schema_cols):
        return NULL_D
    julg, novos, susp = (_sum_name(c) for c in C.META1_COLUMNS)
    guard = f"{julg} IS NOT NULL AND {novos} IS NOT NULL AND {susp} IS NOT NULL"
    dess = (
        f"coalesce({_sum_name(C.META1_OPTIONAL)}, 0.0D)"
        if C.META1_OPTIONAL in schema_cols
        else "0.0D"
    )
    ratio = f"bround({julg} / nullif({novos} + {dess} - {susp}, 0.0D) * 100, 2)"
    return f"CASE WHEN {guard} THEN {ratio} END"


def compute_resumo(court_data: DataFrame) -> DataFrame:
    """Per-court metas as typed nullable doubles (one row per input file).

    Physical plan: one shuffle (the groupBy) + a stack of constant-folded
    projections — no joins, no UDFs, full whole-stage codegen. The STJ
    suppression (NP:127-129) runs in a separate select referencing the
    computed ``meta*_stj`` columns, so the override expression appears in
    the tree once instead of three times.
    """
    schema_cols = set(court_data.columns)
    numeric = [c for c in C.all_numeric_columns() if c in schema_cols]

    aggs: list[Column] = [
        F.first("sigla_tribunal", ignorenulls=True).alias("sigla_tribunal"),
        F.first("ramo_justica", ignorenulls=True).alias("ramo_justica"),
    ]
    for c in numeric:
        aggs.append(F.sum(c).alias(_sum_name(c)))

    per_file = court_data.groupBy(FILE_COL).agg(*aggs)

    keys = {key for *_, key in C.META_CONFIG.values()}
    keys |= {key for _, key, _ in C.STJ_CONFIG.values()}
    factors = per_file.selectExpr(
        "*", f"{_mapped_sql()} AS __mapped"
    ).selectExpr("*", *[f"{_factor_sql(k)} AS __f_{k}" for k in sorted(keys)])

    metas: list[str] = [
        "sigla_tribunal",
        "ramo_justica",
        f"{_meta1_sql(schema_cols)} AS meta1",
    ]
    for name, (j, d, s, key) in C.META_CONFIG.items():
        metas.append(f"{_meta_sql(schema_cols, j, d, s, key)} AS {name}")
    for name, ((j, d, s), key, _suppressed) in C.STJ_CONFIG.items():
        metas.append(f"{_meta_sql(schema_cols, j, d, s, key)} AS {name}")
    computed = factors.selectExpr(*metas)

    final: list[str] = []
    suppressed_by = {
        std: stj_name
        for stj_name, (_, _, suppressed) in C.STJ_CONFIG.items()
        for std in suppressed
    }
    for name in computed.columns:
        stj = suppressed_by.get(name)
        if stj is None:
            final.append(name)
        else:
            # NP:127-129: a computed override deletes the standard metas on
            # that row ('NA' after reassembly).
            final.append(
                f"CASE WHEN {stj} IS NOT NULL THEN {NULL_D} ELSE {name} END AS {name}"
            )
    return computed.selectExpr(*final)


def stringify_resumo(resumo: DataFrame, sentinel: str = "NA") -> DataFrame:
    """Sink projection (NP:229-242): every cell stringified, NULL → 'NA',
    columns in the reference's lexicographic-block order."""
    order = C.resumo_column_order(resumo.columns)
    return resumo.select(
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(sentinel)).alias(c)
            for c in order
        ]
    )


def write_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """`;`-separated CSV sink with a header row (NP:100-102), Spark's
    default minimal quoting. ``single_file`` coalesces to one part for
    byte-level parity with the reference; leave False at scale."""
    out = df.coalesce(1) if single_file else df
    out.write.options(header=True, sep=";").mode("overwrite").csv(path)


def meta1_debug_trace(
    court_data: DataFrame,
    debug_court: str,
    file_header: Iterable[str] | None = None,
) -> dict:
    """O4 debug hook: the reference's per-court Meta-1 trace
    (Versao_Np.py:147 ``NOME_ARQUIVO_DEBUG``, Versao_Np.py:174-211).

    Filters the unified court scan to ``debug_court`` (file basename),
    aggregates the four Meta-1 sums in ONE narrow Spark job, and both logs
    the reference's trace lines and returns the intermediates::

        {"file", "rows", "numerator", "cn", "ds", "sp",
         "denominator", "meta1_raw", "meta1", "reason"}

    ``reason`` is ``None`` on a computed meta1, else one of ``"no_rows"``,
    ``"missing_base_columns"``, ``"all_null_base_column"``,
    ``"zero_denominator"`` — the reference's three 'NA' branches plus the
    file-not-found case its loop can't hit. The main pipeline plan is
    untouched; this is a side query over one court's rows only (at scale:
    one file ≪ one partition, the filtered scan prunes to that file).

    ``file_header``: the debugged file's OWN column set. The reference
    classifies missing-columns per file (NP:206-208); the unified frame
    fills absent columns with NULL, which is indistinguishable from an
    all-null column frame-side. ``run(debug_court=…)`` passes the real
    header (one 1-line file probe); without it, a column absent from this
    file but present in others reports ``"all_null_base_column"`` instead
    — same NA meta1, approximated reason label.
    """
    import logging

    log = logging.getLogger(__name__)
    log.info("--- [DEBUG] INICIANDO DEBUG PARA: %s ---", debug_court)
    trace: dict = {
        "file": debug_court, "rows": 0, "numerator": None, "cn": None,
        "ds": None, "sp": None, "denominator": None, "meta1_raw": None,
        "meta1": None, "reason": None,
    }
    base = list(C.META1_COLUMNS)
    visible = set(file_header) if file_header is not None else set(court_data.columns)
    if not set(base).issubset(visible):
        # NP:206-208: base columns absent from this court's file (or, with
        # no header provided, from the unified frame entirely).
        trace["reason"] = "missing_base_columns"
        log.warning("[DEBUG] %s - Colunas base para Meta 1 não encontradas.", debug_court)
        return trace
    if not set(base).issubset(court_data.columns):
        # Header says present but the unified frame lacks it (caller
        # projected it away): nothing to aggregate.
        trace["reason"] = "missing_base_columns"
        log.warning("[DEBUG] %s - Colunas base para Meta 1 não encontradas.", debug_court)
        return trace
    scoped = court_data.where(
        F.substring_index(F.col(FILE_COL), "/", -1) == F.lit(debug_court)
    )
    has_opt = C.META1_OPTIONAL in court_data.columns
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.col(c).try_cast("double")).alias(_sum_name(c)) for c in base
    ]
    if has_opt:
        aggs.append(F.sum(F.col(C.META1_OPTIONAL).try_cast("double")).alias("__s_opt"))
    row = scoped.agg(*aggs).collect()[0]
    trace["rows"] = row["__n"]
    if row["__n"] == 0:
        trace["reason"] = "no_rows"
        log.warning("[DEBUG] %s - nenhum registro para este tribunal.", debug_court)
        return trace
    julg, cn, sp = (row[_sum_name(c)] for c in base)
    # sum() is NULL iff the column is entirely NULL (≥1 row here) — the
    # reference's notna().any() guard, NP:171/176.
    if julg is None or cn is None or sp is None:
        trace["reason"] = "all_null_base_column"
        log.warning("[DEBUG] %s - Colunas base sem dados válidos.", debug_court)
        return trace
    ds = (row["__s_opt"] if has_opt else None) or 0.0  # NP:178-180: optional → 0
    den = cn + ds - sp
    trace.update(numerator=julg, cn=cn, ds=ds, sp=sp, denominator=den)
    log.info("[DEBUG] %s - Numerador (soma julgados_2025): %s", debug_court, julg)
    log.info("[DEBUG] %s - Denom. Componentes: CN=%s, DS=%s, SP=%s", debug_court, cn, ds, sp)
    log.info("[DEBUG] %s - Denominador Final Meta 1: %s", debug_court, den)
    if den == 0:
        trace["reason"] = "zero_denominator"
        log.info("[DEBUG] %s - Meta 1: NA (denominador zero)", debug_court)
    else:
        raw = julg / den * 100
        trace["meta1_raw"] = raw
        trace["meta1"] = round(raw, 2)  # Python round = HALF_EVEN, like NP:199
        log.info("[DEBUG] %s - Meta 1 (sem arredondar): %s", debug_court, raw)
        log.info("[DEBUG] %s - Meta 1 (COM arredondar): %s", debug_court, trace["meta1"])
    log.info("--- [DEBUG] FIM DEBUG PARA: %s ---", debug_court)
    return trace


def run(
    spark: SparkSession,
    input_dir: str,
    output_dir: str | None = None,
    debug_court: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """End-to-end: read court CSVs → (ResumoMetas, Consolidado).

    Returns (stringified resumo, consolidated union); writes both as
    `;`-CSV when ``output_dir`` is given (NP:224-243).

    Two independent scans of ``input_dir``: a typed read (counters as
    doubles) feeds the metas aggregation, and an untyped read re-emits the
    input cells verbatim as the by-name Consolidado union (NP:226)."""
    data = read_court_csvs(spark, input_dir)
    resumo = stringify_resumo(compute_resumo(data))
    consolidado = read_court_csvs(spark, input_dir, typed=False).drop(FILE_COL)
    if debug_court is not None:
        # O4 (NP:147): per-court Meta-1 trace, logged before the sinks run.
        # Probe the debugged file's own header (1 line, 1 file) so the NA
        # reason matches the reference's per-file missing-columns branch.
        header: tuple[str, ...] | None = None
        debug_path = os.path.join(input_dir, debug_court)
        if os.path.isfile(debug_path):
            with open(debug_path, encoding="utf-8", newline="") as fh:
                first = fh.readline().strip("\r\n")
            if first:
                header = _parse_header(first)
        meta1_debug_trace(data, debug_court, file_header=header)
    if output_dir:
        write_csv(resumo, os.path.join(output_dir, "ResumoMetas.csv"))
        write_csv(consolidado, os.path.join(output_dir, "Consolidado.csv"))
    return resumo, consolidado
