"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files: ``Tracer.install``
wraps the program's layer functions where they are looked up at call
time (module attributes and ``LakeTable`` methods) and ``uninstall``
puts the originals back, so untraced rounds run the unmodified program.
Each span records name, start, end, parent, thread and a few counts
taken from the wrapped call's arguments or return value. Spans stay in
memory and are written out once, when the run ends.

Each wrapper also tags the Spark jobs its call launches with
``setJobGroup(<span name>)``; ``spark_stage_metrics`` reads executor
run time, shuffle bytes and spill per job group from the local UI's
REST endpoint, which the traced session enables.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    attrs: dict = field(default_factory=dict)
    own: float = 0.0  # seconds the tracer itself spent opening and closing it


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.active = False

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    _GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")

    def _get_group(self) -> tuple:
        sc = self.spark.sparkContext
        return tuple(sc.getLocalProperty(k) for k in self._GROUP_KEYS)

    def _set_group(self, values: tuple) -> None:
        sc = self.spark.sparkContext
        for k, v in zip(self._GROUP_KEYS, values):
            sc.setLocalProperty(k, v)

    def span(self, name: str, **attrs):
        """Context manager recording one span (a no-op while inactive)."""
        if not self.active:
            return contextlib.nullcontext()
        return _SpanCtx(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> Span:
        st = self._stack()
        sp = Span(
            sid=next(self._ids),
            name=name,
            start=time.perf_counter(),
            parent=st[-1].sid if st else None,
            thread=threading.current_thread().name,
            attrs=dict(attrs),
        )
        st.append(sp)
        sp.attrs["_group"] = self._get_group()
        self._set_group((name, name))
        sp.own = time.perf_counter() - sp.start
        return sp

    def _close(self, sp: Span) -> None:
        t = time.perf_counter()
        self._stack().pop()
        self._set_group(sp.attrs.pop("_group"))
        sp.end = time.perf_counter()
        sp.own += sp.end - t
        with self._lock:
            self.spans.append(sp)

    # -- wrapping ----------------------------------------------------------

    def _patch(self, owner, attr: str, name: str, on_result=None, on_args=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = tracer._open(name, on_args(args, kwargs) if on_args else {})
            try:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    sp.attrs.update(on_result(out) or {})
                return out
            finally:
                tracer._close(sp)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics are built on."""
        # LakeTable.read/lookup and stream_log return lazy or running
        # objects; the workloads time the actions that consume them with
        # explicit spans (lake.read, lake.lookup, realtime.stream)
        from plugin_debezium_spark.plans import compact, lake, merge
        from plugin_debezium_spark.sources import log_reader
        from plugin_debezium_spark.streaming import engine, incremental, realtime

        def merge_out(out):
            if not isinstance(out, dict) or out.get("skipped"):
                return {}
            return {
                "rows_written": out.get("rows_written", 0),
                "batch_keys": out.get("batch_keys", 0),
                "files_written": out.get("files_written", 0),
            }

        def compact_out(out):
            if not isinstance(out, dict):
                return {}
            return {
                "files_folded": int(out.get("files_before", 0))
                - int(out.get("files_after", 0))
            }

        def write_args(args, kwargs):
            return {"tag": kwargs.get("tag", args[3] if len(args) > 3 else "d")}

        def plan_out(out):
            return {"epochs": len(out)}

        self._patch(engine, "run", "engine.run")
        self._patch(log_reader, "plan_epochs", "sources.plan", plan_out)
        self._patch(engine, "plan_epochs", "sources.plan", plan_out)
        self._patch(engine, "prepare_latest", "engine.prepare")
        self._patch(engine, "_epoch_agg", "engine.stats")
        self._patch(engine, "_apply_epoch_variant", "engine.apply")
        self._patch(realtime, "_apply_epoch_variant", "engine.apply")
        self._patch(engine, "_write_metrics", "engine.write_metrics")
        self._patch(merge, "merge_prepared", "merge.merge", merge_out)
        self._patch(incremental, "merge_prepared", "merge.merge", merge_out)
        self._patch(incremental, "apply_chunk", "incremental.chunk")
        self._patch(compact, "compact", "compact.compact", compact_out)
        self._patch(compact, "expire_snapshots", "compact.expire")
        self._patch(
            lake.LakeTable, "write_bucket_data", "lake.write", on_args=write_args
        )
        self._patch(lake.LakeTable, "commit", "lake.commit")
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name, self.attrs)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


# -- interval arithmetic ----------------------------------------------------


def union_len(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def overlap_len(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    """Length of (union of a) ∩ (union of b)."""
    return union_len(a) + union_len(b) - union_len(a + b)


def clip(iv: list[tuple[float, float]], lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in iv if e > lo and s < hi]


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part its children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.sid]
    return (span.end - span.start) - union_len(clip(kids, span.start, span.end))


# -- Spark stage metrics per job group ---------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _base(spark) -> str:
    sc = spark.sparkContext
    return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"


def max_job_id(spark) -> int:
    return max((j["jobId"] for j in _get(f"{_base(spark)}/jobs")), default=-1)


def spark_stage_metrics(spark, job_ranges) -> dict[str, dict]:
    """{job group: {executor_run_s, shuffle_write_bytes, spill_bytes}}
    from the local UI REST API (jobs carry the group, stages carry the
    task metrics), over jobs whose id falls in one of ``job_ranges``
    (exclusive low, inclusive high)."""
    base = _base(spark)
    jobs = [
        j for j in _get(f"{base}/jobs")
        if any(lo < j["jobId"] <= hi for lo, hi in job_ranges)
    ]
    stages = {
        (s["stageId"], s["attemptId"]): s for s in _get(f"{base}/stages")
    }
    by_stage_id: dict[int, list[dict]] = {}
    for (sid, _a), s in stages.items():
        by_stage_id.setdefault(sid, []).append(s)
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for j in jobs:
        g = j.get("jobGroup") or "(none)"
        agg = out.setdefault(
            g, {"executor_run_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        )
        for sid in j.get("stageIds", []):
            if sid in seen:
                continue  # a stage reused by a later job counts once
            seen.add(sid)
            for s in by_stage_id.get(sid, []):
                agg["executor_run_s"] += s.get("executorRunTime", 0) / 1000.0
                agg["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                agg["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get(
                    "diskBytesSpilled", 0
                )
    return out
