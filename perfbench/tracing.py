"""Tracing for the benchmark's traced run.

Spans are kept in memory (name, start, end, parent, request id) and
written out once, when the run ends. They are recorded only by the
benchmark: around its own calls into each layer, and by wrappers it
installs at run time on a few public functions (``tables.table``,
``readers.read_seq``/``read_vcf``, ``sinks.upsert_parquet``) for the
life of the traced pass. No program file is changed.

Spark's own execution counters come from the application status store
(``AppStatusStore``), which stays populated with the UI disabled; each
request's numbers are the deltas of the stages and jobs it created.
"""

from __future__ import annotations

import importlib
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    attrs: dict


class Tracer:
    """In-memory span recorder. ``enabled`` False makes every call a no-op,
    so the same request code runs traced and untraced."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.request: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.request, attrs)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, fn, name: str, on_result=None):
        def wrapper(*args, **kwargs):
            with self.span(name) as attrs:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, args, out)
                return out

        return wrapper

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "request": s.request,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part covered by children."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


# --- run-time wrappers on public functions --------------------------------------


class RelationCacheProbe:
    """Marks each ``tables.table`` span with ``hit``: the call returned
    the very DataFrame object an earlier call returned for the same
    (session, directory, table) — the relation cache's observable
    behaviour. Untraced calls still record what was returned, so a warm
    pass sees the passes before it."""

    def __init__(self) -> None:
        self._seen: dict[tuple, object] = {}

    def __call__(self, attrs: dict, args: tuple, out) -> None:
        spark, sf_dir, name = args[:3]
        key = (spark.sparkContext.applicationId, sf_dir, name)
        attrs["table"] = name
        attrs["hit"] = self._seen.get(key) is out
        self._seen[key] = out


def install_wrappers(tracer: Tracer, probe: RelationCacheProbe):
    """Wrap the traced public functions wherever a loaded program module
    bound them; return an undo callable."""
    targets = [
        ("laser_hadoop_spark.tables", "table", "tables.table", probe),
        ("laser_hadoop_spark.sources.readers", "read_seq", "sources.read_seq", None),
        ("laser_hadoop_spark.sources.readers", "read_vcf", "sources.read_vcf", None),
        ("laser_hadoop_spark.sources.sinks", "upsert_parquet", "sinks.upsert_parquet", None),
    ]
    undo: list[tuple[object, str, object]] = []
    for mod_name, attr, span_name, on_result in targets:
        original = getattr(importlib.import_module(mod_name), attr)
        wrapper = tracer.wrap(original, span_name, on_result)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("laser_hadoop_spark") and getattr(
                mod, attr, None
            ) is original:
                setattr(mod, attr, wrapper)
                undo.append((mod, attr, original))

    def restore() -> None:
        for mod, attr, original in undo:
            setattr(mod, attr, original)

    return restore


# --- Spark status-store counters -------------------------------------------------

STAGE_FIELDS = {
    "tasks": ("numTasks", 1.0),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "input_mb": ("inputBytes", 1 / 2**20),
    "output_mb": ("outputBytes", 1 / 2**20),
}


class SparkCounters:
    """Per-request deltas from the status store. ``mark()`` before a
    request, ``delta()`` after it."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._sc = jsc
        self._store = jsc.statusStore()
        self._gw = spark.sparkContext._gateway
        self._last_job = self._newest(self._jobs(), "jobId")
        self._last_stage = self._newest(self._stages(), "stageId")

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self):
        jvm = self._gw.jvm
        empty = jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(jvm.double, 0)
        seq = self._store.stageList(empty, False, False, quantiles, empty)
        return jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _jobs(self):
        seq = self._store.jobsList(self._gw.jvm.java.util.ArrayList())
        return self._gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    @staticmethod
    def _newest(items, getter: str) -> int:
        # both lists come newest first
        return int(getattr(items[0], getter)()) if len(items) else -1

    def mark(self) -> None:
        self._drain()
        self._last_job = max(self._last_job, self._newest(self._jobs(), "jobId"))
        self._last_stage = max(self._last_stage, self._newest(self._stages(), "stageId"))

    def delta(self) -> dict[str, float]:
        self._drain()
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["stages"] = 0.0
        out["jobs"] = 0.0
        top_stage = self._last_stage
        for st in self._stages():
            sid = int(st.stageId())
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += float(getattr(st, getter)()) * scale
        top_job = self._last_job
        for job in self._jobs():
            jid = int(job.jobId())
            if jid <= self._last_job:
                break
            out["jobs"] += 1
            top_job = max(top_job, jid)
        self._last_stage, self._last_job = top_stage, top_job
        return out
