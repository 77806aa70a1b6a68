"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own code, around calls into the
engine's layer functions; nothing under ``crawlspark/`` is edited. Each span
sets a Spark job group (``u<unit>:<layer.span>``), so every Spark job a
layer triggers is attributed to it, and each wrapped function's lazy output
is forced with ``localCheckpoint(eager=True)`` so its work lands inside its
own span instead of in whichever later action happens to evaluate it.

Counting rows of a forced output costs Spark jobs of its own. Those run in
the ``trace`` group, outside any layer span, and are reported as
``trace.overhead_s`` so that

    unit wall = sum(top-level layer spans) + trace overhead + scheduler self

holds by construction.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import pstats
import time
from collections import defaultdict

from pyspark.sql import DataFrame

TRACE_GROUP = "trace"


def set_group(sc, group: str | None) -> None:
    """Set (or, with None, clear) the job group of the calling thread."""
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(group, group)


class Tracer:
    """Spans of the current unit: name, start, end and the enclosing span."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.unit = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start_unit(self, unit: int) -> None:
        self.unit = unit
        self.spans = []
        self._stack = []

    def group(self, name: str) -> str:
        return f"u{self.unit}:{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span and attribute the Spark jobs it runs to it."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        set_group(self.sc, self.group(name))
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            set_group(self.sc, prev)

    def count(self, df: DataFrame) -> int:
        """Row count of an already-forced frame, charged to trace overhead."""
        with self.span(TRACE_GROUP):
            return df.count()

    def wrap(self, fn, name: str, on_result=None):
        """Span ``fn`` as ``name``; force a DataFrame result so the layer's
        work happens inside the span. ``on_result(out, args, kwargs)`` runs
        after the span closes and records counts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            if on_result is not None:
                on_result(out, args, kwargs)
            return out

        return traced

    # -- reductions -----------------------------------------------------
    def span_seconds(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return out

    def outer_seconds(self, name: str) -> float:
        """Seconds in spans called ``name``, not counting such spans nested
        in another of the same name."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and (s["parent"] is None or self.spans[s["parent"]]["name"] != name)
        )

    def top_level_seconds(self) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] is None
        )

    def jobs_by_group(self) -> dict[str, int]:
        """Jobs per span name for the current unit (nested spans own the
        jobs they ran; a parent does not count its children's jobs)."""
        tracker = self.sc.statusTracker()
        names = {s["name"] for s in self.spans}
        return {n: len(tracker.getJobIdsForGroup(self.group(n))) for n in names}


@contextlib.contextmanager
def patched(obj, attr: str, value):
    """Replace ``obj.attr`` for the duration of the block."""
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        setattr(obj, attr, old)


# -- Python UDF time ------------------------------------------------------


def udf_profile(spark, dump_dir: str, functions: set[str]) -> dict:
    """Read the perf profiles the UDF profiler collected since the last
    ``spark.profile.clear`` (public ``spark.profile.dump`` output).

    Returns ``{"total": s, "seconds": {fn: s}, "calls": {fn: n}}``: the
    Python time of every profiled UDF, and the cumulative seconds and call
    count of each named function. A UDF is attributed by the functions it
    runs rather than by its opaque plan id."""
    os.makedirs(dump_dir, exist_ok=True)
    for f in glob.glob(os.path.join(dump_dir, "*.pstats")):
        os.remove(f)
    spark.profile.dump(dump_dir, type="perf")
    out: dict = {"total": 0.0, "seconds": defaultdict(float), "calls": defaultdict(int)}
    for f in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(f)
        out["total"] += st.total_tt
        for (_file, _line, func), (_cc, nc, _tt, ct, _callers) in st.stats.items():
            if func in functions:
                out["seconds"][func] += ct
                out["calls"][func] += nc
    return out


# -- Spark event log ------------------------------------------------------


def event_log_totals(log_dir: str, group_prefix: str) -> dict[str, float]:
    """Shuffle bytes written and JVM GC seconds of every task of the jobs
    whose group starts with ``group_prefix``. Read after ``spark.stop()``,
    which flushes the log."""
    stage_in_scope: set[int] = set()
    shuffle = gc_ms = 0.0
    # Spark 4 writes a rolling log: <log_dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        stage_in_scope.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_in_scope:
                        continue
                    m = ev.get("Task Metrics") or {}
                    gc_ms += m.get("JVM GC Time", 0)
                    shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return {"spark.shuffle_write_bytes": shuffle, "spark.jvm_gc_s": gc_ms / 1000.0}
