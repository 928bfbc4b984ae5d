"""Spans around the benchmark's calls into the engine's public functions.

A span is one pass, one public call, or (added after the run from the
event log) one Spark job; it carries its parent's id. ``Tracer`` keeps the
spans in memory and the caller writes them out at the end of the run.
While a call span is open, its id is the Spark job group, so every job the
call triggers can be tied back to it.

``NullTracer`` has the same surface and records nothing: the untraced
phase of a run times passes only, and the difference between the traced
and untraced phases' ``run_s`` is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import time
from typing import Callable, Iterator

import eventlog

GROUP_PREFIX = "perfbench:"


class NullTracer:
    phase: str | None = None  # the pass phase new spans are tagged with

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call", **attrs) -> Iterator[None]:
        yield


class Tracer(NullTracer):
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark = None  # set once a session exists; job groups need it

    def _set_group(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if self._stack:
            top = self._stack[-1]
            sc.setJobGroup(GROUP_PREFIX + str(top["id"]), top["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call", **attrs) -> Iterator[dict]:
        parent = self._stack[-1]["id"] if self._stack else None
        record = {"id": len(self.spans), "parent": parent, "name": name,
                  "kind": kind, "phase": self.phase, "start": time.time(), **attrs}
        self.spans.append(record)
        self._stack.append(record)
        self._set_group()
        t0 = time.perf_counter()
        try:
            yield record
        finally:
            record["dur"] = time.perf_counter() - t0
            record["end"] = record["start"] + record["dur"]
            self._stack.pop()
            self._set_group()

    def wrap(self, fn: Callable, name: str, kind: str = "call") -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, kind):
                return fn(*args, **kwargs)

        return traced


def wrap_memo(tracer: Tracer, modules: list) -> Callable[[], None]:
    """Replace ``shared`` at its import sites (the memo module itself and
    every module that did ``from ..memo import shared``) with a wrapper that
    records a ``memo.build``/``memo.hit``/``memo.repin`` span per request.
    The kind is read from the memo table before the call: no entry for this
    session means a build, an entry whose blocks were evicted a re-pin.
    Returns a function that restores the originals."""
    from pyspark import StorageLevel

    from metas_judiciarias_etl_spark import memo

    original = memo.shared

    @functools.wraps(original)
    def shared(spark, sf_dir, name, build, deps=()):
        hit = memo._MEMO.get((sf_dir, name))
        if hit is None or hit[0] is not spark:
            kind = "memo.build"
        elif hit[1].storageLevel == StorageLevel.NONE:
            kind = "memo.repin"
        else:
            kind = "memo.hit"
        with tracer.span(f"memo:{name}", kind):
            return original(spark, sf_dir, name, build, deps)

    sites = [m for m in [memo, *modules] if getattr(m, "shared", None) is original]
    for m in sites:
        m.shared = shared

    def restore() -> None:
        for m in sites:
            m.shared = original

    return restore


def self_time(spans: list[dict], span: dict) -> float:
    """A span's duration minus the part its direct children cover."""
    covered = eventlog.union_length(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans if c["parent"] == span["id"] and "end" in c)
    return max(0.0, span["dur"] - covered)
