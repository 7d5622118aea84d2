"""Outside-in tracing: spans around the package's public functions and
Spark's per-job counters, attributed to those spans.

Nothing in the package is modified. ``Tracer.install`` rebinds each
traced function in every loaded ``parquet_sampler_spark`` module that
holds it (``from x import f`` copies included) to a wrapper that
records a span; ``uninstall`` restores the originals.

Spark's counters come from its event log (``spark.eventLog.enabled``,
uncompressed, not rolling). Each job and each stage is charged to the
innermost span whose time window holds its submission time. Job groups
cannot do this: jobs launched from an operator's thread pool carry no
job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

# (module, attribute) pairs wrapped with a span named "<module>.<attr>"
TRACED = [
    ("sources.io", "read_parquet"),
    ("sources.io", "metadata_row_count"),
    ("sources.io", "write_parquet"),
    ("operators.sample", "sample_exact"),
    ("operators.semijoin", "semi_join_reduce"),
    ("plans.cache", "persist"),
    ("plans.cache", "register"),
]
_PKG = "parquet_sampler_spark"


class Span:
    __slots__ = ("name", "t0", "t1", "jobs", "stages")

    def __init__(self, name: str):
        self.name = name
        self.t0 = time.time()
        self.t1 = None
        self.jobs: list[tuple[float, float]] = []
        self.stages: list[dict] = []

    @property
    def wall(self) -> float:
        return (self.t1 or time.time()) - self.t0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        # wrappers record only while enabled (inside measured requests)
        self.enabled = False
        self.counts: dict[str, float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()

    # -- wrapping --------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr in TRACED:
            mod = sys.modules[f"{_PKG}.{mod_name}"]
            orig = getattr(mod, attr)
            wrapped = self._wrap(f"{mod_name}.{attr}", orig)
            for m in [m for k, m in list(sys.modules.items())
                      if k == _PKG or k.startswith(_PKG + ".")]:
                for name, val in list(vars(m).items()):
                    if val is orig:
                        self._saved.append((m, name, orig))
                        setattr(m, name, wrapped)

    def uninstall(self) -> None:
        for m, name, orig in reversed(self._saved):
            setattr(m, name, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        tracer = self
        extra = _EXTRA.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            before = extra[0](args, kwargs) if extra else None
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if extra:
                extra[1](tracer, before, args, kwargs, out)
            return out

        return wrapper

    # -- event log -------------------------------------------------------
    def attribute(self, event_log: str) -> None:
        """Parse the event log and charge every job / stage to the
        innermost span holding its submission time: the latest-started
        one, since spans nest in time within a thread and a span opened
        in a pool thread starts after the span that submitted it."""
        jobs, stages = _parse_event_log(event_log)
        ordered = sorted(self.spans, key=lambda s: s.t0)

        def owner(t: float) -> Span | None:
            best = None
            for s in ordered:
                if s.t0 > t:
                    break
                if s.t1 is not None and s.t1 >= t:
                    best = s
            return best

        for sub, end in jobs:
            s = owner(sub)
            if s is not None:
                s.jobs.append((sub, end))
        for st in stages:
            s = owner(st["submit"])
            if s is not None:
                s.stages.append(st)

    def within(self, outer: Span) -> list[Span]:
        """Spans inside ``outer``'s window, ``outer`` included."""
        return [s for s in self.spans
                if s.t0 >= outer.t0 and s.t1 is not None
                and s.t1 <= outer.t1]


def _sum_stage(spans: list[Span], key: str) -> float:
    return sum(st.get(key, 0.0) for s in spans for st in s.stages)


def span_layers(spans: list[Span], wall: float) -> dict[str, float]:
    """Spark-engine layer numbers for a set of spans covering ``wall``
    seconds (one request): jobs, stages, tasks, executor time, bytes,
    and driver-only time = wall minus the union of the job windows."""
    ivs = sorted(j for s in spans for j in s.jobs)
    busy, cur0, cur1 = 0.0, None, None
    for a, b in ivs:
        if cur1 is None or a > cur1:
            if cur1 is not None:
                busy += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        busy += cur1 - cur0
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": float(len(ivs)),
        "spark.stages": float(sum(len(s.stages) for s in spans)),
        "spark.tasks": _sum_stage(spans, "tasks"),
        "spark.driver_only_s": max(wall - busy, 0.0),
        "spark.executor_run_s": _sum_stage(spans, "run_ms") / 1e3,
        "spark.executor_cpu_s": _sum_stage(spans, "cpu_ns") / 1e9,
        "spark.gc_s": _sum_stage(spans, "gc_ms") / 1e3,
        "spark.shuffle_read_mb": _sum_stage(spans, "shuffle_read_b") / mb,
        "spark.shuffle_write_mb": _sum_stage(spans, "shuffle_write_b") / mb,
        "spark.spill_mb": _sum_stage(spans, "spill_b") / mb,
        "spark.python_worker_s": _sum_stage(spans, "python_ms") / 1e3,
        "spark.python_mb": _sum_stage(spans, "python_b") / mb,
        "sources.io.scan.input_mb": _sum_stage(spans, "input_b") / mb,
        "sources.io.scan.records": _sum_stage(spans, "input_records"),
    }


# internal task-metric accumulators → stage fields
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_b",
    "internal.metrics.diskBytesSpilled": "spill_b",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.input.bytesRead": "input_b",
    "internal.metrics.input.recordsRead": "input_records",
    # SQL metrics of the Python/Arrow exchange operators
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_b",
    "data returned from Python workers": "python_b",
}


def _num(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    try:  # SQL metrics may arrive as "1.2 MiB"-style strings
        return float(str(v).split()[0].replace(",", ""))
    except ValueError:
        return 0.0


def _parse_event_log(path: str):
    """(job windows, completed-stage metric dicts) from one event log,
    times in epoch seconds."""
    starts, jobs, stages = {}, [], []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                starts[ev["Job ID"]] = ev["Submission Time"] / 1e3
            elif kind == "SparkListenerJobEnd":
                t0 = starts.pop(ev["Job ID"], None)
                if t0 is not None:
                    jobs.append((t0, ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info:
                    continue
                st = defaultdict(float)
                st["submit"] = info["Submission Time"] / 1e3
                st["tasks"] = float(info.get("Number of Tasks", 0))
                for acc in info.get("Accumulables", []):
                    key = _ACCUMS.get(acc.get("Name"))
                    if key:
                        st[key] += _num(acc.get("Value", 0))
                stages.append(dict(st))
    return jobs, stages


def find_event_log(log_dir: str, app_id: str) -> str:
    hits = [p for p in glob.glob(os.path.join(log_dir, f"{app_id}*"))
            if not p.endswith(".inprogress")]
    if not hits:
        raise FileNotFoundError(f"no finished event log for {app_id}")
    return hits[0]


# -- per-function extras: (before(args, kwargs), after(tracer, before,
#    args, kwargs, out)) -------------------------------------------------

def _cache_len(args, kwargs):
    from parquet_sampler_spark.plans import cache
    return len(cache._PERSISTED)


def _cache_after(tracer, before, args, kwargs, out):
    from parquet_sampler_spark.plans import cache
    df = args[0] if args else kwargs.get("df")
    hit = out is not df and before is not None and len(
        cache._PERSISTED) == before
    tracer.counts["plans.cache.persist_calls"] += 1
    tracer.counts["plans.cache.semantic_hits"] += float(hit)
    tracer.counts["plans.cache.evictions"] += max(
        0, before + (0 if hit else 1) - len(cache._PERSISTED))


def _write_after(tracer, before, args, kwargs, out):
    path = args[1] if len(args) > 1 else kwargs.get("path")
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    tracer.counts["sources.io.write.files"] += files
    tracer.counts["sources.io.write.output_mb"] += size / (1024.0 * 1024.0)


_EXTRA = {
    "plans.cache.persist": (_cache_len, _cache_after),
    "plans.cache.register": (_cache_len, _cache_after),
    "sources.io.write_parquet": (lambda a, k: None, _write_after),
}
