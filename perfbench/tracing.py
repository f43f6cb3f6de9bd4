"""Per-layer tracing for the benchmark, measured from outside the engine.

Nothing here edits a file of the engine. A traced run:

* wraps the public functions and public class methods of every
  ``sfa_spark`` subpackage (functions, ml, operators, plans, sources,
  streaming) so that each driver-side call records a span;
* reads the DAG scheduler's job and stage counters around each phase;
* walks each query's executed plan after it has run and sums the SQL
  metrics of its nodes into the layer they belong to;
* registers a StreamingQueryListener for micro-batch progress;
* samples the resident memory of the driver process tree from /proc.

A span is ``[name, layer, start, end, parent, query, jobs]``: ``parent``
is the index of the enclosing span on the same thread (or None) and
``jobs`` the number of Spark jobs started while an outermost ``ml`` or
``plans`` span was open. Spans stay in memory and are written out with
the run's artifact.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time

LAYERS = ("functions", "ml", "operators", "plans", "sources", "streaming")
# layers whose outermost spans also count the Spark jobs they start
JOB_LAYERS = ("ml", "plans")


def job_counters(spark):
    """Return a function giving (jobs, stages) created so far in the
    session. The DAG scheduler numbers jobs and stages consecutively, so
    a difference of two readings counts every job of the interval,
    including those run by streaming threads under their own job
    group."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: (dag.nextJobId(), dag.nextStageId())


class Spans:
    """Span recorder and the wrappers that feed it."""

    def __init__(self, jobs_now):
        self.spans: list[list] = []
        self.query = "setup"
        self._jobs_now = jobs_now
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.hook_s = 0.0  # time spent in the bookkeeping below

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        """Restore every attribute install() replaced."""
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str) -> tuple[int, int | None]:
        t = time.perf_counter()
        stack = self._stack()
        count_jobs = layer in JOB_LAYERS and not any(
            self.spans[i][1] == layer for i in stack
        )
        j0 = self._jobs_now()[0] if count_jobs else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                [name, layer, time.perf_counter(), None,
                 stack[-1] if stack else None, self.query, None]
            )
            stack.append(idx)
            self.hook_s += time.perf_counter() - t
        return idx, j0

    def _close(self, idx: int, j0: int | None) -> None:
        t = span_end = time.perf_counter()
        self._stack().pop()
        span = self.spans[idx]
        span[3] = span_end
        if j0 is not None:
            span[6] = self._jobs_now()[0] - j0
        with self._lock:
            self.hook_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record one span around a block: the benchmark's own phases
        (query build and execution)."""
        token = self._open(name, layer)
        try:
            yield
        finally:
            self._close(*token)

    def wrap(self, fn, name: str, layer: str):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            token = rec._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                rec._close(*token)

        return traced

    def install(self, package: str = "sfa_spark") -> int:
        """Wrap every public function and public method defined in the
        layer subpackages, then rebind every module-level reference to a
        wrapped function (``from x import f`` copies) in all loaded
        ``sfa_spark`` modules. Returns the number of wrapped callables.

        functools.wraps keeps ``__module__``/``__qualname__``, and the
        module attribute is the wrapper, so cloudpickle still ships a
        wrapped function to Python workers by reference: workers import
        the unwrapped original."""
        swapped: dict[int, object] = {}
        for layer in LAYERS:
            pkg = importlib.import_module(f"{package}.{layer}")
            mods = [pkg] + [
                importlib.import_module(m.name)
                for m in pkgutil.iter_modules(pkg.__path__, f"{pkg.__name__}.")
            ]
            for mod in mods:
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                        w = self.wrap(obj, f"{mod.__name__}.{attr}", layer)
                        self._patch(mod, attr, w)
                        swapped[id(obj)] = w
                    elif inspect.isclass(obj):
                        self._wrap_class(obj, f"{mod.__name__}.{attr}", layer)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in swapped and inspect.isfunction(obj):
                    self._patch(mod, attr, swapped[id(obj)])
        return len(swapped)

    def _wrap_class(self, cls, qual: str, layer: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{qual}.{attr}"
            if isinstance(raw, staticmethod):
                self._patch(cls, attr, staticmethod(self.wrap(raw.__func__, name, layer)))
            elif isinstance(raw, classmethod):
                self._patch(cls, attr, classmethod(self.wrap(raw.__func__, name, layer)))
            elif inspect.isfunction(raw):
                self._patch(cls, attr, self.wrap(raw, name, layer))

    # ------------------------------------------------------------ summaries

    def outermost(self, layer: str, queries: set[str]) -> list[list]:
        """Spans of `layer` in `queries` with no ancestor of the same
        layer."""
        out = []
        for s in self.spans:
            if s[1] != layer or s[5] not in queries or s[3] is None:
                continue
            p = s[4]
            while p is not None and self.spans[p][1] != layer:
                p = self.spans[p][4]
            if p is None:
                out.append(s)
        return out

    def self_time(self, queries: set[str]) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its child
        spans' durations. A child is opened and closed on its parent's
        thread while the parent is open, so children never overlap."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s[5] in queries and s[3] is not None:
                out[s[1]] = out.get(s[1], 0.0) + s[3] - s[2]
                if s[4] is not None:
                    p = self.spans[s[4]]
                    out[p[1]] = out.get(p[1], 0.0) - (s[3] - s[2])
        return out

    def dump(self, t0: float) -> list[dict]:
        return [
            {
                "name": s[0], "layer": s[1],
                "start_s": round(s[2] - t0, 6),
                "end_s": None if s[3] is None else round(s[3] - t0, 6),
                "parent": s[4], "query": s[5], "jobs": s[6],
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------- plan metrics

PLAN_KEYS = (
    "sources.scan_rows", "sources.scan_bytes", "sources.scan_s",
    "functions.python_total_s", "functions.python_boot_s",
    "functions.python_init_s", "functions.python_bytes_sent",
    "functions.python_bytes_received",
    "operators.shuffle_write_bytes", "operators.shuffle_records",
    "operators.shuffle_write_s", "operators.shuffle_fetch_wait_s",
    "operators.spill_bytes", "operators.codegen_s",
    "operators.cache_scan_rows",
)
# SQL metric name -> layer metric, for names that only one kind of node
# carries
_BY_METRIC = {
    "filesSize": "sources.scan_bytes",
    "scanTime": "sources.scan_s",
    "pythonTotalTime": "functions.python_total_s",
    "pythonBootTime": "functions.python_boot_s",
    "pythonInitTime": "functions.python_init_s",
    "pythonDataSent": "functions.python_bytes_sent",
    "pythonDataReceived": "functions.python_bytes_received",
    "shuffleBytesWritten": "operators.shuffle_write_bytes",
    "shuffleRecordsWritten": "operators.shuffle_records",
    "shuffleWriteTime": "operators.shuffle_write_s",
    "fetchWaitTime": "operators.shuffle_fetch_wait_s",
    "spillSize": "operators.spill_bytes",
    "pipelineTime": "operators.codegen_s",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}
_SCANS = {
    "FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec",
    "LocalTableScanExec",
}


def plan_metrics(spark, df) -> dict[str, float]:
    """Sum the SQL metrics of df's executed plan (after the action that
    ran it) into the PLAN_KEYS layer metrics. Adaptive plans are read
    through their final plan and query stages; a cached relation's plan
    is read once however many scans share it; reused exchanges are not
    counted twice."""
    jvm = spark._jvm
    to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out = dict.fromkeys(PLAN_KEYS, 0.0)
    seen_cached: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        for key, metric in to_java(node.metrics()).items():
            kind = metric.metricType()
            if kind not in _SCALE:
                continue
            value = metric.value() * _SCALE[kind]
            if key == "numOutputRows":
                if cls in _SCANS:
                    out["sources.scan_rows"] += value
                elif cls == "InMemoryTableScanExec":
                    out["operators.cache_scan_rows"] += value
            elif key in _BY_METRIC:
                out[_BY_METRIC[key]] += value
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            pass
        elif cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            h = jvm.System.identityHashCode(cached)
            if h not in seen_cached:
                seen_cached.add(h)
                stack.append(cached)
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        subs = node.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
    return out


# ---------------------------------------------------------------- streaming


def stream_listener(spark):
    """Register a listener that records every micro-batch's progress
    with the benchmark query that was running; returns the record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.query = "setup"
            self.runs: dict[str, str] = {}  # runId -> benchmark query
            self.batches: list[dict] = []
            self.hook_s = 0.0  # time spent in these callbacks

        def onQueryStarted(self, event):
            t = time.perf_counter()
            self.runs[str(event.runId)] = self.query
            self.hook_s += time.perf_counter() - t

        def onQueryProgress(self, event):
            t = time.perf_counter()
            p = event.progress
            self.batches.append(
                {
                    "query": self.runs.get(str(p.runId), self.query),
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )
            self.hook_s += time.perf_counter() - t

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def flush_listeners(spark) -> None:
    """Block until the listener bus has delivered every queued event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stream_jobs(spark, run_ids) -> int:
    """Jobs run by the given streaming queries: a stream runs its
    micro-batches under a job group named by its run id."""
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobIdsForGroup(r)) for r in run_ids)


# ---------------------------------------------------------------- files, memory


def dir_usage(*roots: str) -> tuple[int, int]:
    """(files, bytes) currently under the given directories."""
    files = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                try:
                    size += os.lstat(os.path.join(dirpath, n)).st_size
                except FileNotFoundError:
                    continue
                files += 1
    return files, size


def descendants(pid: int) -> list[int]:
    """Live descendant processes of pid, read from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    JVM and its Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.5):
        self.peak_mb = 0.0
        self.busy_s = 0.0  # time spent sampling
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            t = time.perf_counter()
            self.peak_mb = max(self.peak_mb, _rss_mb([me] + descendants(me)))
            self.busy_s += time.perf_counter() - t
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
