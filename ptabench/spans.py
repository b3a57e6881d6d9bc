"""Span recorder and Spark job-group collector for the traced run.

``Tracer.install`` replaces each target function's module attribute, in
every loaded ``enterprise_warp_spark`` module that holds it, with a wrapper
that records a span (name, start, end, parent, run id), runs the call under
a Spark job group of its own and restores the parent's group on exit. Jobs
therefore belong to the innermost open span. ``collect_stages`` then reads
each span's jobs back from the live status store:

    statusTracker().getJobIdsForGroup -> getJobInfo(j).stageIds
    -> sc._jsc.sc().statusStore().lastStageAttempt(sid)

which works with ``spark.ui.enabled=false``. Spans stay in memory until the
benchmark writes them out. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = {
    # StageData accessor -> (key, scale to seconds/bytes)
    "executorRunTime": ("executor_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_memory_bytes", 1),
    "diskBytesSpilled": ("spill_disk_bytes", 1),
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    rows: int = 0  # rows of the span's DataFrame result, or its list length
    collected: int = 0  # rows pulled to the driver while this span was innermost
    jobs: int = 0
    stages: int = 0
    stats: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its children's
    intervals (clipped to the parent; overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s.sid, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.dur - covered
    return out


def _row_count(df) -> int:
    from pyspark.sql import DataFrame

    return df.count() if isinstance(df, DataFrame) else 0


def _checkpoint(df):
    """Materialise a lazy DataFrame result so its jobs run inside the span
    that produced it."""
    from pyspark.sql import DataFrame

    return df.localCheckpoint(eager=True) if isinstance(df, DataFrame) else df


class Tracer:
    """One recorder per traced run. `install(targets)` takes
    {"module:function": (span name, mode)}, mode being "call" (time the call only), "materialize"
    (checkpoint the returned DataFrame inside the span, so downstream reads
    the result instead of recomputing it) or "count" (run one extra count
    of the lazy result inside the span and return it unchanged)."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans
    def _group(self, sid: int) -> str:
        return f"ptabench-{self.run_id}-{sid}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span.sid), span.name)

    def open(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent.sid if parent else None, self.run_id)
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # ------------------------------------------------------- wrapping
    def _wrap(self, fn, name: str, mode: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if mode == "materialize":
                    out = _checkpoint(out)
                if mode in ("materialize", "count"):
                    s.rows = _row_count(out)
                elif isinstance(out, list):
                    s.rows = len(out)
                return out

        return wrapper

    def install(self, targets: dict[str, tuple[str, str]]) -> None:
        import importlib

        for target, (name, mode) in targets.items():
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            w = self._wrap(orig, name, mode)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("enterprise_warp_spark") \
                        and getattr(m, attr, None) is orig:
                    setattr(m, attr, w)
                    self._undo.append((m, attr, orig))
        self._count_driver_rows()

    def _count_driver_rows(self) -> None:
        """Attribute rows pulled to the driver (toPandas/collect) to the
        innermost open span; a collect made inside toPandas counts once."""
        cls = type(self.spark.range(0))
        tracer = self
        depth = [0]
        for attr in ("toPandas", "collect"):
            orig = getattr(cls, attr)

            def counted(df, *a, _orig=orig, **k):
                depth[0] += 1
                try:
                    out = _orig(df, *a, **k)
                finally:
                    depth[0] -= 1
                if depth[0] == 0 and tracer.stack:
                    tracer.stack[-1].collected += len(out)
                return out

            setattr(cls, attr, counted)
            self._undo.append((cls, attr, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    # ---------------------------------------------------- stage metrics
    def collect_stages(self) -> None:
        """Fill each span's job/stage totals from the status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            stats = {k: 0 for k, _ in STAGE_FIELDS.values()}
            jobs = tracker.getJobIdsForGroup(self._group(s.sid))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                for acc, (key, scale) in STAGE_FIELDS.items():
                    stats[key] += getattr(st, acc)() * scale
            s.jobs, s.stages, s.stats = len(jobs), len(stage_ids), stats

    def dump(self, path: str) -> None:
        with open(path, "a") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s), sort_keys=True) + "\n")
