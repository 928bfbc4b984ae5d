"""metas-spark benchmark: end-to-end and per-layer metrics of the metas
pipeline and the registry.

Run from the repository root:

    python3 perfbench/run.py --workload metas_reference_scale --seed 1 \\
        --seconds 5 --trace 0

``--trace 0`` measures with tracing off and prints the end-to-end metrics
(``run_s``, ``resumo_s``, ``consolidado_s``, ``input_mb_s``, ``setup_s``,
``peak_rss_mb``). ``--trace 1`` first sets up and times the passes in a
traced session (Spark event log on, spans around every public call,
``memo.shared`` wrapped at its import sites), then makes the untraced
measurement, and prints the per-layer metrics plus the tracing overhead
(traced minus untraced ``run_s``). ``--self-check``
checks that a seed gives byte-identical inputs and that the event-log
reader reads the recorded log in ``perfbench/testdata``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is a report: machine shape, pass times, errors and,
traced, the per-query breakdown and the path of the spans file. Both are
kept under ``.perfbench_work/results``.

One run: pin the machine shape (``SPARK_GRAFT_CPUS`` = the cores this
process may use, Spark's local and temp dirs inside ``.perfbench_work``);
generate the inputs from ``--seed`` (untimed); launch the JVM (untimed);
set up — a fresh ``build_session`` plus its first pass — and report that
as ``setup_s``; start timed passes until ``--seconds`` have gone (at
least ``MIN_PASSES``) and report the median of each timing; read peak
memory; check the outputs (untimed).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

import corpora  # noqa: E402
import eventlog  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# Timed passes start until --seconds have gone, and at least this many.
MIN_PASSES = 2
# A fixed-size driver heap (-Xms = -Xmx): with a growable heap, peak RSS
# follows the GC's resizing decisions and varied by up to 37% between runs.
DRIVER_MEMORY = "2g"


def metric_units() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# ---------------------------------------------------------------------------
# Machine shape
# ---------------------------------------------------------------------------
def pin_machine(run_dir: str) -> dict:
    """Pin the environment the engine reads at import and session start."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return {"cpus": cpus, "SPARK_GRAFT_CPUS": cpus, "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY}


def versions() -> dict:
    import pyspark

    return {"commit": git_commit(), "spark": pyspark.__version__,
            "python": platform.python_version(), "machine": platform.machine()}


def git_commit() -> str:
    """HEAD of the checkout, read from .git without running git."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        ref = ref[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown (not a git checkout)"


def engine_missing() -> str | None:
    """Why the engine or its test oracles cannot be imported, if so."""
    try:
        import metas_judiciarias_etl_spark.session  # noqa: F401
        import tests.metas_oracle  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        return repr(exc)
    return None


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process, in MB."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm)) / 1024


# ---------------------------------------------------------------------------
# One measurement (in this process)
# ---------------------------------------------------------------------------
def start_session(run_dir: str, event_dir: str | None):
    from metas_judiciarias_etl_spark.session import build_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "2",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEMORY}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from metas_judiciarias_etl_spark import memo

    memo.clear(spark)
    spark.stop()


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Tally:
    """Operations attempted and failed over a run, with the first errors."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def add(self, res: workloads.PassResult) -> workloads.PassResult:
        self.attempted += res.attempted
        self.failed += res.failed
        self.errors.extend(res.errors[:20 - len(self.errors)])
        return res


def timed_phase(wl, tr, tally: Tally, spark, run_dir: str, event_dir: str | None,
                seconds: float) -> tuple:
    """Stop ``spark``; set up (a fresh session plus its first pass); start
    timed passes until ``seconds`` have gone, at least ``MIN_PASSES``.
    Returns the new session, the set-up time and the timed passes."""
    tr.spark = None
    stop_session(spark)
    t0 = time.perf_counter()
    with tr.span("setup", "setup"):
        with tr.span("session.start", "session"):
            spark = start_session(run_dir, event_dir)
        tr.spark = spark
        with tr.span("pass", "pass"):
            tally.add(wl.run_pass(spark, tr))
    setup = time.perf_counter() - t0
    passes = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        with tr.span("pass", "pass", index=len(passes), timed=True):
            passes.append(tally.add(wl.run_pass(spark, tr)))
    return spark, setup, passes


def end_to_end(passes: list, setup: float, input_bytes: int) -> dict:
    ok = [p for p in passes if not p.failed] or passes
    return {
        "run_s": statistics.median(p.run_s for p in ok),
        "resumo_s": statistics.median(p.resumo_s for p in ok),
        "consolidado_s": statistics.median(p.consolidado_s for p in ok),
        "input_mb_s": statistics.median(input_bytes / corpora.MB / p.run_s for p in ok),
        "setup_s": setup,
    }


def measure(name: str, seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    """Generate the inputs, launch the JVM, measure untraced and check the
    outputs; if ``traced``, measure in a traced session first. Returns the
    raw record."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    t0 = time.perf_counter()
    wl = workloads.make(name, run_dir, seed)
    input_bytes = wl.prepare()
    prepare = time.perf_counter() - t0

    tally = Tally()
    untraced = tracing.NullTracer()
    spark = None
    restore = []
    try:
        # Launch the JVM untimed, in a session that is stopped at once:
        # setup_s is a fresh session plus its first pass (codegen, JIT
        # warm-up, memo builds) without the JVM launch.
        t0 = time.perf_counter()
        spark = start_session(run_dir, None)
        jvm_start = time.perf_counter() - t0

        if traced:
            # First the traced phase, with Spark's event log on and spans
            # around every public call: its set-up and passes then run as
            # early in the JVM as an untraced run's do.
            tr = tracing.Tracer()
            event_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(event_dir)
            restore = instrument(tr)
            spark, setup, passes = timed_phase(wl, tr, tally, spark, run_dir, event_dir,
                                               seconds)
            traced_metrics = end_to_end(passes, setup, input_bytes)
            static_layers = {"sink.output_bytes": wl.output_bytes(),
                             **ingest_shape(spark, wl.csv_dir)}
            while restore:
                restore.pop()()

        spark, setup, passes = timed_phase(wl, untraced, tally, spark, run_dir, None, seconds)
        metrics = end_to_end(passes, setup, input_bytes)
        metrics["peak_rss_mb"] = peak_rss_mb(spark)
        t0 = time.perf_counter()
        tally.add(wl.check(spark))
        check = time.perf_counter() - t0
    finally:
        if spark is not None:
            stop_session(spark)
        stop_jvm()
        for undo in restore:
            undo()

    record = {
        "workload": name, "seed": seed, "input_bytes": input_bytes,
        "prepare_s": prepare, "jvm_start_s": jvm_start, "check_s": check,
        "pass_run_s": [p.run_s for p in passes], "metrics": metrics,
        "attempted": tally.attempted, "failed": tally.failed, "errors": tally.errors,
    }
    if traced:
        record["traced"] = traced_metrics
        jobs = eventlog.read_jobs(eventlog.log_files(event_dir))
        add_job_spans(tr.spans, jobs)
        layers, detail = layer_metrics(tr.spans, jobs, int(os.environ["SPARK_GRAFT_CPUS"]))
        layers.update(static_layers)
        layers["trace.overhead_s"] = traced_metrics["run_s"] - metrics["run_s"]
        record["layers"], record["detail"], record["spans"] = layers, detail, tr.spans
    return record


def instrument(tr: tracing.Tracer) -> list:
    """Wrap the public calls the engine makes on the benchmark's behalf:
    ``memo.shared`` at its import sites, and the pipeline functions that
    ``metas_resumo_pipeline`` imported. Returns the undo functions."""
    from metas_judiciarias_etl_spark import registry
    from metas_judiciarias_etl_spark.metas import queries
    from metas_judiciarias_etl_spark.operators import dedup, similarity

    registry.load_all()
    undo = [tracing.wrap_memo(tr, [dedup, similarity])]
    names = {"read_court_csvs": "ingest.read", "compute_resumo": "resumo.compute",
             "stringify_resumo": "resumo.stringify"}
    saved = {attr: getattr(queries, attr) for attr in names}
    for attr, span in names.items():
        setattr(queries, attr, tr.wrap(saved[attr], span, "call"))
    undo.append(lambda: [setattr(queries, a, f) for a, f in saved.items()])
    return undo


def ingest_shape(spark, csv_dir: str) -> dict:
    """Files and header buckets ``read_court_csvs`` makes of ``csv_dir``
    (taken once, outside the timed passes)."""
    from metas_judiciarias_etl_spark.metas.pipeline import read_court_csvs

    df = read_court_csvs(spark, csv_dir)
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().size()
    return {"ingest.files": len(df.inputFiles()), "ingest.buckets": leaves}


# ---------------------------------------------------------------------------
# Per-layer metrics from spans and the event log
# ---------------------------------------------------------------------------
def layer_metrics(spans: list[dict], jobs: list[eventlog.Job], cpus: int) -> tuple[dict, dict]:
    """Per-pass layer numbers, medians over the timed passes (set-up
    numbers: from the timed set-up)."""
    by_id = {s["id"]: s for s in spans}
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(root: dict) -> list[dict]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s["id"], []))
        return out

    def enclosing_pass(span_id):
        while span_id is not None:
            s = by_id[span_id]
            if s["kind"] == "pass":
                return s["id"]
            span_id = s["parent"]
        return None

    jobs_by_pass: dict = {}
    for job in jobs:
        group = job.group or ""
        if not group.startswith(tracing.GROUP_PREFIX):
            continue
        span_id = int(group[len(tracing.GROUP_PREFIX):])
        jobs_by_pass.setdefault(enclosing_pass(span_id), []).append((span_id, job))

    timed = [s for s in spans if s["kind"] == "pass" and s.get("timed")]
    rows, per_query = [], {}
    for p in timed:
        sub = subtree(p)
        direct = children.get(p["id"], [])
        queries = [s for s in direct if "query" in s]
        memo = [s for s in sub if s["kind"].startswith("memo.")]
        n_req = len(memo)
        n_hit = sum(s["kind"] == "memo.hit" for s in memo)
        pjobs = [j for _, j in jobs_by_pass.get(p["id"], [])]
        tot = {k: sum(j.totals[k] for j in pjobs) for k in eventlog.TASK_TOTALS}
        busy = eventlog.busy_ms(pjobs) / 1000
        rows.append({
            "ingest.read_s": sum(s["dur"] for s in sub if s["name"] == "ingest.read"),
            "resumo.build_s": sum(s["dur"] for s in sub
                                  if s["name"] in ("resumo.compute", "resumo.stringify")),
            "sink.resumo_s": sum(s["dur"] for s in direct
                                 if s["kind"] == "write" and s["phase"] == "resumo"),
            "sink.consolidado_s": sum(s["dur"] for s in direct
                                      if s["kind"] == "write" and s["phase"] == "consolidado"),
            "query.build_s": sum(s["dur"] for s in queries if s["kind"] == "build"),
            "query.sink_s": sum(s["dur"] for s in queries if s["kind"] == "sink"),
            "memo.requests": n_req,
            "memo.repins": sum(s["kind"] == "memo.repin" for s in memo),
            "memo.hit_ratio": n_hit / n_req if n_req else 0.0,
            "spark.jobs": len(pjobs),
            "spark.stages": sum(j.stages for j in pjobs),
            "spark.tasks": tot["tasks"],
            "spark.failed_tasks": tot["failed_tasks"],
            "spark.executor_run_s": tot["run_ms"] / 1000,
            "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
            "spark.gc_s": tot["gc_ms"] / 1000,
            "spark.input_bytes": tot["input_bytes"],
            "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spark.spill_bytes": tot["spill_bytes"],
            "spark.job_busy_s": busy,
            "spark.driver_gap_s": p["dur"] - busy,
            "spark.slot_util": tot["run_ms"] / 1000 / (busy * cpus) if busy else 0.0,
        })
        owner = {x["id"]: s for s in direct for x in subtree(s)}
        jobs_per_query: dict = {}
        for span_id, _ in jobs_by_pass.get(p["id"], []):
            q = owner.get(span_id, {}).get("query")
            jobs_per_query[q] = jobs_per_query.get(q, 0) + 1
        for s in direct:
            q = s.get("query")
            if q is not None:
                d = per_query.setdefault(q, {"build_s": [], "sink_s": [], "jobs": []})
                d[f"{s['kind']}_s"].append(s["dur"])
                if s["kind"] == "sink":
                    d["jobs"].append(jobs_per_query.get(q, 0))
    layers = {k: statistics.median(r[k] for r in rows) for k in rows[0]}

    setup = next(s for s in spans if s["kind"] == "setup")
    layers["session.start_s"] = next(
        c["dur"] for c in children[setup["id"]] if c["kind"] == "session")
    # Memo builds happen in the set-up; the timed passes only hit or re-pin.
    builds = [m for m in subtree(setup) if m["kind"] == "memo.build"]
    layers["memo.builds"] = len(builds)
    detail = {
        "memo.build_s": sum(tracing.self_time(spans, m) for m in builds),
        "memo.repin_s": statistics.median(
            sum(tracing.self_time(spans, m) for m in subtree(p) if m["kind"] == "memo.repin")
            for p in timed),
    }
    for q, d in per_query.items():
        for k, v in d.items():
            detail[f"query.{q}.{k}"] = statistics.median(v)
    return layers, detail


def add_job_spans(spans: list[dict], jobs: list[eventlog.Job]) -> None:
    for job in jobs:
        group = job.group or ""
        if group.startswith(tracing.GROUP_PREFIX) and job.end_ms is not None:
            spans.append({
                "id": f"job-{len(spans)}", "name": f"spark job {job.job_id}",
                "kind": "spark.job", "parent": int(group[len(tracing.GROUP_PREFIX):]),
                "start": job.start_ms / 1000, "end": job.end_ms / 1000,
                "dur": (job.end_ms - job.start_ms) / 1000,
                "stages": job.stages, "tasks": job.totals["tasks"],
                "succeeded": job.succeeded,
            })


# ---------------------------------------------------------------------------
# Self-check
# ---------------------------------------------------------------------------
# A log recorded from Spark 4.1 (three jobs in two job groups: an aggregate
# whose second job reuses, and skips, the first job's shuffle stage, then a
# noop write), cut down to the fields the reader uses, and what it holds.
SAMPLE_LOG = os.path.join(HERE, "testdata", "eventlog_sample.jsonl")
SAMPLE_EXPECT = {"jobs": 3, "groups": ["pb:1", "pb:2"], "stages": 3, "tasks": 9,
                 "run_ms": 1084, "shuffle_read_bytes": 921,
                 "shuffle_write_bytes": 921, "busy_ms": 641}


def self_check(names: list[str], seed: int) -> list[str]:
    """Same seed → byte-identical inputs (and another seed → other bytes);
    the event-log reader reads the recorded sample log."""
    problems = []
    base = os.path.join(WORK, f"selfcheck-{os.getpid()}")
    try:
        for name in names:
            digests = []
            for i, s in enumerate((seed, seed, seed + 1)):
                d = os.path.join(base, f"{name}-{i}")
                workloads.make(name, d, s).prepare()
                digests.append(corpora.tree_digest(os.path.join(d, "input")))
            if digests[0] != digests[1]:
                problems.append(f"{name}: seed {seed} gave two different inputs")
            if digests[0] == digests[2]:
                problems.append(f"{name}: seeds {seed} and {seed + 1} gave the same input")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    problems += check_sample_log()
    return problems


def check_sample_log() -> list[str]:
    jobs = eventlog.read_jobs([SAMPLE_LOG])
    got = {
        "jobs": len(jobs),
        "groups": sorted({j.group for j in jobs}),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.totals["tasks"] for j in jobs),
        "run_ms": sum(j.totals["run_ms"] for j in jobs),
        "shuffle_read_bytes": sum(j.totals["shuffle_read_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j.totals["shuffle_write_bytes"] for j in jobs),
        "busy_ms": eventlog.busy_ms(jobs),
    }
    return [] if got == SAMPLE_EXPECT else [f"event-log reader: {got} != {SAMPLE_EXPECT}"]


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------
def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    })


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shape = pin_machine(run_dir)
    missing = engine_missing()
    if missing:
        print(f"perfbench: engine not importable from {ROOT}: {missing}", file=sys.stderr)
        return 2
    if args.self_check:
        problems = self_check(list(workloads.WORKLOADS), args.seed)
        print(json.dumps({"self_check": "ok" if not problems else problems}))
        return 1 if problems else 0
    if args.workload is None:
        ap.error("--workload is required")

    end_to_end_units, per_layer_units = metric_units()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    try:
        problems = self_check([args.workload], args.seed) if args.trace else []
        rec = measure(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
        attempted, failed = rec["attempted"], rec["failed"] + len(problems)
        report = {"machine": {**shape, **versions(), "seed": args.seed},
                  "workload": args.workload, "prepare_s": rec["prepare_s"],
                  "jvm_start_s": rec["jvm_start_s"], "check_s": rec["check_s"],
                  "pass_run_s": rec["pass_run_s"], "untraced": rec["metrics"],
                  "ops_failed_frac": failed / attempted, "errors": rec["errors"]}
        if args.trace == 0:
            metrics, units = rec["metrics"], end_to_end_units
        else:
            spans_path = stem + "-spans.jsonl"
            with open(spans_path, "w") as fh:
                for s in rec["spans"]:
                    fh.write(json.dumps(s) + "\n")
            metrics = dict(rec["layers"], ops_failed_frac=failed / attempted)
            units = per_layer_units
            report.update(self_check=problems or "ok", traced=rec["traced"],
                          detail=rec["detail"], spans=spans_path)
        report["end_to_end_or_layers"] = {k: metrics[k] for k in units}
        with open(stem + f"-trace{args.trace}.json", "w") as fh:
            json.dump(report, fh, indent=1)
        print(json.dumps(report))
        print(result_line(failed == 0, attempted, failed, metrics, units))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
