"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one client, closed loop:
set up (session start on the first, seeded inputs, warm-up requests)
three times and keep the median as ``setup_s``; then serve requests back
to back for ``--seconds``; then check every request's output against
DuckDB and print one JSON line. ``PLAN.md`` says what each workload and
metric is for.

``--trace 0`` reports the end-to-end metrics: the median of each
request's latency over the job floor measured around it (see
``_job_floor_s``), and ``setup_s``. Every request's latency and CPU
seconds, the raw median latency and the host's steal time over the
window go to stderr. ``--trace 1`` measures half the window untraced
and half traced (event log on, spans around the package's public
functions) and reports the per-layer metrics, per request, plus the
tracing overhead on the median latency.

Everything is written under ``.perfbench_work/`` in the checkout and
removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# job-floor probe: a batch of empty Spark-core jobs before a request,
# at most every PROBE_EVERY_S of the window, and one after the last
PROBE_EVERY_S = 2.0
PROBE_JOBS = 8
PROBE_WARM = 8  # batches before the window

END_TO_END = {"latency_p50_over_job_floor": "ratio", "setup_s": "s"}


def _log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(pids) -> float:
    """User plus system CPU seconds of ``pids`` (all their threads)."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / _TICK


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _job_floor_s(spark) -> float:
    """Median latency of ``PROBE_JOBS`` empty Spark-core jobs (64
    integers parallelized in the JVM and counted). They run no package
    code, no SQL planning and no Python worker, so they time only how
    fast the host currently schedules a Spark job."""
    jsc = spark.sparkContext._jsc
    ints = spark.sparkContext._jvm.java.util.Collections.nCopies(64, 1)
    out = []
    for _ in range(PROBE_JOBS):
        t0 = time.perf_counter()
        jsc.parallelize(ints, 2).count()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _environment(work: str, trace: bool) -> None:
    """Everything Spark, its Python workers and the package write goes
    under ``work``; the event log is configured through
    ``SPARK_CONF_DIR`` so ``get_spark`` runs unchanged."""
    conf = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf, tmp, os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    lines = [
        f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        # off for the untraced half; _enable_event_log turns it on
        lines += [
            "spark.eventLog.enabled false",
            f"spark.eventLog.dir file://{os.path.join(work, 'events')}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": cpus,
        # 3g holds every workload; the package default (8g) is sized for
        # far larger inputs
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "3g"),
        "TMPDIR": tmp,
        # every JVM (launcher and driver): temp files under work, and no
        # hsperfdata directory in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Spark's Python workers import the package (UDF rows)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = tmp


def _enable_event_log(spark) -> None:
    """Turn the event log on for the next session started in this JVM
    (a new SparkContext reads ``spark.*`` system properties)."""
    spark.sparkContext._jvm.System.setProperty(
        "spark.eventLog.enabled", "true")


class Bench:
    def __init__(self, args, work: str):
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]()
        self.spark = None
        self.drain = {"plans.cache.entries_after_clear": 0.0,
                      "spark.persisted_rdds_after_clear": 0.0,
                      "queries.tmp_roots_after_clear": 0.0}
        self.failed = 0
        self.session_start = None  # first get_spark: JVM launch + context

    # -- session / setup -------------------------------------------------
    def _start(self, app: str) -> None:
        from parquet_sampler_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app)
        if self.session_start is None:
            self.session_start = time.perf_counter() - t0

    def _restart(self, app: str) -> None:
        from parquet_sampler_spark import queries

        queries.clear_caches()
        self.spark.stop()
        self._start(app)

    def setup(self) -> float:
        """One set-up: start the session if none runs, write the seeded
        inputs into a fresh directory, serve warm-up requests. Later
        set-ups keep the session: a restarted SparkContext runs its
        first requests about twice as slow, which would double the run
        time for set-up alone."""
        t0 = time.perf_counter()
        if self.spark is None:
            self._start("perfbench")
        inputs = os.path.join(self.work, "inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        self.wl.prepare(inputs, self.args.seed)
        self._warm()
        return time.perf_counter() - t0

    def _warm(self) -> None:
        for item in itertools.islice(
                self.wl.names(self.args.seed, warmup=True), self.wl.warmups):
            if item is not None:
                self.wl.request(self.spark, item)
        self._clear()

    def _clear(self) -> None:
        """``clear_caches()`` plus the drain counters read after it
        (worst value seen is kept; all should stay 0)."""
        from parquet_sampler_spark import queries
        from parquet_sampler_spark.plans import cache

        queries.clear_caches()
        roots = [d for d in os.listdir(tempfile.gettempdir())
                 if d.startswith("psx_")]
        now = {
            "plans.cache.entries_after_clear": float(len(cache._PERSISTED)),
            "spark.persisted_rdds_after_clear": float(
                self.spark.sparkContext._jsc.getPersistentRDDs().size()),
            "queries.tmp_roots_after_clear": float(len(roots)),
        }
        for k, v in now.items():
            self.drain[k] = max(self.drain[k], v)

    # -- measured window -------------------------------------------------
    def measure(self, seconds: float, stream, tracer=None) -> dict:
        """Serve requests back to back for ``seconds``; checks follow,
        outside the timed loop."""
        from parquet_sampler_spark.operators import sample
        from parquet_sampler_spark.plans import cache

        from pyspark import SparkContext

        pids = (os.getpid(), SparkContext._gateway.proc.pid)
        # warm the probe's own code path first; a cold JVM runs its
        # first batches several times slower
        for _ in range(PROBE_WARM):
            _job_floor_s(self.spark)
        lat, cpu, done = [], [], []
        # job floor of each probe batch, and for each request the index
        # of the last batch before it
        floors, before = [], []
        probe_s, last_probe = 0.0, None
        steal0 = _steal_s()
        t_start = time.perf_counter()
        deadline = t_start + seconds
        while True:
            item = next(stream)
            over = time.perf_counter() >= deadline
            if item is None:  # pass boundary
                if over:
                    break
                self._clear()
                continue
            if over and not self.wl.passes:
                break
            p0 = time.perf_counter()
            if last_probe is None or p0 - last_probe >= PROBE_EVERY_S:
                floors.append(_job_floor_s(self.spark))
                last_probe = time.perf_counter()
                probe_s += last_probe - p0
            before.append(len(floors) - 1)
            stats0 = (dict(sample.PREFILTER_STATS), dict(sample.SELECT_STATS))
            c0 = _cpu_s(pids)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    ctx = self.wl.request(self.spark, item)
                else:
                    tracer.enabled = True
                    with tracer.span("request") as span:
                        ctx = self.wl.request(self.spark, item, tracer)
                    tracer.enabled = False
            except Exception:  # counted, not fatal
                _log(f"request {item!r} failed:\n{traceback.format_exc()}")
                ctx = None
                if tracer is not None:
                    tracer.enabled = False
            lat.append(time.perf_counter() - t0)
            cpu.append(_cpu_s(pids) - c0)
            done.append(ctx)
            if tracer is not None and ctx is not None:
                ctx["span"] = span
                ctx["live"] = len(cache._PERSISTED)
                ctx["stats"] = {
                    f"{grp}.{k}": v - s0[k]
                    for grp, s0, s1 in (
                        ("prefilter", stats0[0], sample.PREFILTER_STATS),
                        ("select", stats0[1], sample.SELECT_STATS))
                    for k, v in s1.items()}
        wall = time.perf_counter() - t_start - probe_s
        floors.append(_job_floor_s(self.spark))  # closes the last bracket
        # each request against the mean floor of the batches on either
        # side of it: the host's speed drifts within a window too
        ratio = [t / ((floors[b] + floors[b + 1]) / 2)
                 for t, b in zip(lat, before)]
        _log(f"steal during window: {_steal_s() - steal0:.2f} cpu-s")
        _log("job floor per batch (ms): " + ", ".join(
            f"{f * 1e3:.1f}" for f in floors))
        _log("latency over job floor: " + ", ".join(
            f"{r:.1f}" for r in ratio))
        _log("latencies (wall/cpu): " + ", ".join(
            f"{c['name'] if c and 'name' in c else 'req'}={t:.3f}/{u:.2f}"
            for c, t, u in zip(done, lat, cpu)))
        ok = 0
        for ctx in done:
            if ctx is None:
                continue
            try:
                res = self.wl.check(ctx, self.spark)
            except Exception:  # counted as a mismatch
                _log(f"check failed:\n{traceback.format_exc()}")
                res = {"ok": False}
            ctx["check"] = res
            ok += bool(res["ok"])
            if not res["ok"]:
                _log(f"output mismatch: {ctx.get('name', ctx.get('seed'))}")
        self.failed += len(done) - ok
        return {"lat": lat, "cpu": cpu, "ctx": done, "ok": ok, "wall": wall,
                "floor": statistics.median(floors),
                "ratio": statistics.median(ratio), "attempted": len(done)}

    def run(self) -> dict:
        args = self.args
        setups = [self.setup() for _ in range(SETUPS)]
        _log(f"setups: {[round(s, 3) for s in setups]}")
        stream = self.wl.names(args.seed, warmup=False)
        if not args.trace:
            m = self.measure(args.seconds, stream)
            self._clear()
            _log(f"latency_p50_s {statistics.median(m['lat']):.4f}")
            metrics = {
                "latency_p50_over_job_floor": m["ratio"],
                "setup_s": statistics.median(setups),
            }
            out = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
            return self.result(m["attempted"], out)
        return self.run_traced(stream, setups)

    def run_traced(self, stream, setups) -> dict:
        import spans as tr

        half = self.args.seconds / 2.0
        untraced = self.measure(half, stream)
        # restart with the event log on and warm up again, so both halves
        # start from a warmed session; spans go in after that
        _enable_event_log(self.spark)
        self._restart("perfbench-traced")
        self._warm()
        tracer = tr.Tracer()
        tracer.install()
        try:
            m = self.measure(half, stream, tracer)
        finally:
            tracer.uninstall()
        self._clear()
        rss = self.peak_rss_mb()
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()  # flushes and closes the event log
        self.spark = None
        tracer.attribute(tr.find_event_log(
            os.path.join(self.work, "events"), app_id))
        layers = per_request_layers(tracer, m)
        layers.update(self.drain)
        layers["session.start_s"] = self.session_start
        layers["peak_rss_mb"] = rss
        p50_t = statistics.median(m["lat"])
        p50_u = statistics.median(untraced["lat"])
        layers["trace.latency_p50_s"] = p50_t
        layers["trace.untraced_latency_p50_s"] = p50_u
        layers["trace.overhead_s"] = p50_t - p50_u
        # closed loop, one client: from the untraced half
        layers["spark.job_floor_ms"] = untraced["floor"] * 1e3
        layers["requests_per_s"] = untraced["ok"] / untraced["wall"]
        layers["cpu_s_per_request"] = statistics.median(untraced["cpu"])
        layers["failed_ratio"] = self.failed / max(
            1, m["attempted"] + untraced["attempted"])
        out = {k: {"value": v, "unit": LAYER_UNITS[k]}
               for k, v in layers.items()}
        return self.result(m["attempted"] + untraced["attempted"], out)

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm)

    def result(self, attempted: int, metrics: dict) -> dict:
        return {"correct": self.failed == 0, "attempted": attempted,
                "failed": self.failed, "metrics": metrics}


LAYER_UNITS = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "sources.io.write_parquet.s": "s",
    "sources.io.write.files": "count",
    "sources.io.write.output_mb": "MB",
    "sources.io.scan.input_mb": "MB",
    "sources.io.scan.records": "count",
    "sources.io.metadata_row_count.s": "s",
    "operators.sample.sample_exact.s": "s",
    "operators.sample.jobs": "count",
    "operators.sample.prefilter_hit_ratio": "ratio",
    "operators.sample.topk": "count",
    "operators.sample.threshold": "count",
    "operators.sample.rows_read_per_row_kept": "ratio",
    "operators.semijoin.semi_join_reduce.s": "s",
    "operators.semijoin.rows_kept_ratio": "ratio",
    "plans.cache.persist_calls": "count",
    "plans.cache.semantic_hits": "count",
    "plans.cache.evictions": "count",
    "plans.cache.live_entries": "count",
    "plans.cache.entries_after_clear": "count",
    "queries.build_s": "s",
    "queries.force_s": "s",
    "queries.tmp_roots_after_clear": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_only_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_worker_s": "s",
    "spark.python_mb": "MB",
    "spark.persisted_rdds_after_clear": "count",
    "spark.job_floor_ms": "ms",
    "requests_per_s": "1/s",
    "cpu_s_per_request": "s",
    "input_rows_per_s": "1/s",
    "output_mb_per_request": "MB",
    "failed_ratio": "ratio",
    "trace.latency_p50_s": "s",
    "trace.untraced_latency_p50_s": "s",
    "trace.overhead_s": "s",
}


def per_request_layers(tracer, m: dict) -> dict[str, float]:
    """Per-layer numbers averaged over the traced requests."""
    import spans as tr

    reqs = [c for c in m["ctx"] if c is not None]
    n = max(len(reqs), 1)
    acc: dict[str, float] = defaultdict(float)
    for c in reqs:
        span = c["span"]
        inner = tracer.within(span)
        for k, v in tr.span_layers(inner, span.wall).items():
            acc[k] += v
        for s in inner:
            key = {"sources.io.write_parquet": "sources.io.write_parquet.s",
                   "sources.io.metadata_row_count":
                       "sources.io.metadata_row_count.s",
                   "operators.sample.sample_exact":
                       "operators.sample.sample_exact.s",
                   "operators.semijoin.semi_join_reduce":
                       "operators.semijoin.semi_join_reduce.s",
                   "queries.build": "queries.build_s",
                   "queries.force": "queries.force_s",
                   }.get(s.name)
            if key:
                acc[key] += s.wall
        samp = [s for s in inner
                if s.name == "operators.sample.sample_exact"]
        acc["operators.sample.jobs"] += sum(len(s.jobs) for s in samp)
        acc["plans.cache.live_entries"] += c["live"]
        st = c["stats"]
        acc["operators.sample.topk"] += st["select.topk"]
        acc["operators.sample.threshold"] += st["select.threshold"]
        acc["prefilter.hit"] += st["prefilter.hit"]
        acc["prefilter.all"] += st["prefilter.hit"] + st["prefilter.fallback"]
        chk = c.get("check", {})
        if "sample_rows" in chk:
            # records scanned by the sampling jobs (selection plus the
            # publish of the sample) per row kept
            li_write = [s for s in inner
                        if s.name == "sources.io.write_parquet"][:1]
            read = sum(st_.get("input_records", 0.0)
                       for s in samp + li_write for st_ in s.stages)
            acc["operators.sample.rows_read_per_row_kept"] += read / max(
                chk["sample_rows"], 1)
            acc["operators.semijoin.rows_kept_ratio"] += (
                chk["dim_rows_kept"] / max(chk["dim_rows_in"], 1))
            acc["input_rows"] += chk["input_rows"]
    for k in ("plans.cache.persist_calls", "plans.cache.semantic_hits",
              "plans.cache.evictions", "sources.io.write.files",
              "sources.io.write.output_mb"):
        acc[k] = tracer.counts.get(k, 0.0)
    out = {k: acc[k] / n for k in LAYER_UNITS}
    out["operators.sample.prefilter_hit_ratio"] = (
        acc["prefilter.hit"] / acc["prefilter.all"]
        if acc["prefilter.all"] else 0.0)
    out["input_rows_per_s"] = acc["input_rows"] / m["wall"]
    out["output_mb_per_request"] = out["sources.io.write.output_mb"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "parquet_sampler_spark",
                                       "__init__.py")):
        _log(f"parquet_sampler_spark not found under {ROOT}; "
             "run from the root of a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    bench = None
    try:
        _environment(work, bool(args.trace))
        bench = Bench(args, work)
        res = bench.run()
    finally:
        _shutdown(bench)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(res))
    return 0


def _shutdown(bench) -> None:
    """Stop the session and the JVM, and wait for every process they
    started (the JVM and Spark's Python workers)."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = _descendants(proc.pid)
    if bench is not None and bench.spark is not None:
        try:
            bench.spark.stop()
        except Exception:
            pass
    try:
        gw.shutdown()
    except Exception:
        pass
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
