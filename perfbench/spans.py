"""Tracing for the benchmark's traced run, plus /proc CPU and RSS sampling.

The recorder wraps the package's public entry points at run time, patching
each name where its caller looks it up, and records one span per call:
``[name, layer, start, end, parent, request]``.  Spans stay in memory and are
written out when the benchmark ends.  Each request runs under its own Spark
job group; after it the recorder reads job, task and failed-task counts from
``statusTracker()`` and the ``MapInPandas`` SQL metrics from the executed
plans of the DataFrames the request returned.

Nothing here edits ``lucene_plugin_spark``: patches are undone by
:meth:`Recorder.unpatch`.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, owner, attribute, layer).  The owner is the object whose
#: attribute callers look up: a class for methods, or (owner None) the module
#: itself, as for ``parse_query``, which the executor imports by name.
ENTRY_POINTS = [
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "ingest_docs", "index.builder"),
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "build_from_docs", "index.builder"),
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "assign_doc_ids", "index.builder"),
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "doc_postings_df", "index.builder"),
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "segment_blocks", "index.builder"),
    ("lucene_plugin_spark.index.mutations", "IndexMutator", "upsert", "index.mutations"),
    ("lucene_plugin_spark.index.mutations", "IndexMutator", "delete_keys", "index.mutations"),
    ("lucene_plugin_spark.index.mutations", "IndexMutator", "compact", "index.mutations"),
    ("lucene_plugin_spark.storage.catalog", "Table", "append", "storage.catalog"),
    ("lucene_plugin_spark.storage.catalog", "Table", "overwrite", "storage.catalog"),
    ("lucene_plugin_spark.storage.catalog", "Table", "commit_dirs", "storage.catalog"),
    ("lucene_plugin_spark.storage.catalog", "Table", "replace_partitions", "storage.catalog"),
    ("lucene_plugin_spark.query.executor", "SearchEngine", "warm", "query.executor"),
    ("lucene_plugin_spark.query.executor", "SearchEngine", "search", "query.executor"),
    ("lucene_plugin_spark.query.executor", "SearchEngine", "search_many", "query.executor"),
    ("lucene_plugin_spark.api", "LuceneFacade", "commit", "api"),
    ("lucene_plugin_spark.api", "LuceneFacade", "search", "api"),
    ("lucene_plugin_spark.query.executor", None, "parse_query", "query.parser"),
]

#: MapInPandas SQL metrics read from executed plans
PYTHON_METRICS = ("pythonDataSent", "pythonDataReceived",
                  "pythonNumRowsReceived", "pythonTotalTime", "pythonBootTime")


class Recorder:
    """Span recorder and per-request Spark counters for one process."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[list] = []
        self.requests: list[dict] = []
        self._stack: list[int] = []
        self._request: str | None = None
        self._dfs: list = []
        self._patches: list[tuple[object, str, object]] = []
        #: seconds spent reading counters after requests (tracing cost that
        #: falls outside the timed operations)
        self.post_s = 0.0

    # ------------------------------------------------------------- patching
    def patch(self) -> None:
        import importlib
        for mod, owner, attr, layer in ENTRY_POINTS:
            m = importlib.import_module(mod)
            target = getattr(m, owner) if owner else m
            orig = target.__dict__[attr]
            setattr(target, attr, self._wrapper(orig, f"{owner or mod.rsplit('.', 1)[1]}.{attr}",
                                                layer))
            self._patches.append((target, attr, orig))

    def unpatch(self) -> None:
        for target, attr, orig in reversed(self._patches):
            setattr(target, attr, orig)
        self._patches = []

    def _wrapper(self, orig, name: str, layer: str):
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not rec.enabled:
                return orig(*args, **kwargs)
            with rec.span(name, layer):
                out = orig(*args, **kwargs)
            if name.startswith("SearchEngine.search"):
                rec._dfs.append(out)
            return out
        return wrapper

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, layer, time.perf_counter(), None, parent,
                           self._request])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.perf_counter()

    # ------------------------------------------------------------- requests
    @contextmanager
    def request(self, kind: str, traced: bool = True):
        """One client request.  When ``traced``, it runs under its own job
        group inside a root span, and its counters are read afterwards
        (outside the caller's timing)."""
        if not traced:
            yield {}
            return
        sc = self.spark.sparkContext
        rid = f"{kind}-{len(self.requests)}"
        info = {"id": rid, "kind": kind}
        self._request, self._dfs = rid, []
        sc.setJobGroup(rid, kind)
        self.enabled = True
        try:
            with self.span(f"request:{kind}", "bench"):
                yield info
        finally:
            self.enabled = False
            self._request = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            t0 = time.perf_counter()
            info.update(self._job_counts(rid))
            info.update(self._python_metrics(self._dfs))
            self._dfs = []
            self.requests.append(info)
            self.post_s += time.perf_counter() - t0

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            ji = st.getJobInfo(j)
            for s in (ji.stageIds if ji else []):
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    def _python_metrics(self, dfs) -> dict:
        out = {k: 0 for k in PYTHON_METRICS}
        out["python_stages"] = 0
        for df in dfs:
            plan = df._jdf.queryExecution().executedPlan()
            for node in _plan_nodes(plan):
                if node.getClass().getSimpleName() != "MapInPandasExec":
                    continue
                out["python_stages"] += 1
                metrics = node.metrics()
                for k in PYTHON_METRICS:
                    opt = metrics.get(k)
                    if opt.isDefined():
                        out[k] += int(opt.get().value())
        return out

    # -------------------------------------------------------------- reports
    def request_ids(self, kinds: set[str]) -> set[str]:
        return {r["id"] for r in self.requests if r["kind"] in kinds}

    def self_times(self, requests: set[str]) -> dict[str, float]:
        """Self time (s) per layer over the spans of ``requests``: a span's
        duration minus the time its child spans cover.  The root request
        spans' self time is the part no wrapped layer claims."""
        child_s = defaultdict(float)
        for name, layer, t0, t1, parent, req in self.spans:
            if parent is not None:
                child_s[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, layer, t0, t1, parent, req) in enumerate(self.spans):
            if req in requests:
                key = "unattributed" if layer == "bench" else layer
                out[key] += (t1 - t0) - child_s[i]
        return dict(out)

    def span_total(self, name: str, requests: set[str] | None = None) -> tuple[float, int]:
        """(total seconds, count) of spans called ``name``, within
        ``requests`` when given."""
        tot, n = 0.0, 0
        for s in self.spans:
            if s[0] == name and (requests is None or s[5] in requests):
                tot += s[3] - s[2]
                n += 1
        return tot, n

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        cols = ["name", "layer", "start", "end", "parent", "request"]
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(cols, s)) for s in self.spans],
                       "requests": self.requests, **extra}, f)


def _plan_nodes(plan):
    """Every physical node under ``plan``, looking through adaptive plans
    and query stages."""
    stack = [plan]
    while stack:
        p = stack.pop()
        yield p
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        ch = p.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))


# ------------------------------------------------------------------- /proc
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children[int(st[1])].append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def cpu_s(pids) -> float:
    """utime+stime of ``pids`` plus that of their reaped children."""
    tot = 0
    for p in pids:
        st = _stat(p)
        if st:
            tot += sum(int(x) for x in st[11:15])
    return tot / _TICK


def hwm_mb(pid: int, field: str = "VmHWM") -> float:
    """Peak resident set size of ``pid`` so far (``VmHWM``), or another
    ``/proc/<pid>/status`` size field such as ``VmRSS``; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


class ProcSampler:
    """Peak memory of the driver, the JVM and its Python workers, and CPU
    seconds split into driver and JVM (with workers).

    Peak memory is the sum over every process seen of its own peak resident
    set size (``VmHWM``), read between operations.  Each process's peak is
    kept by the kernel, so the figure does not depend on when it is read.
    ``harness_mb`` (the answer checks' own state in the driver) is taken off.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._hwm: dict[int, float] = {}
        self._last = 0.0
        self.harness_mb = 0.0

    def sample(self, force: bool = False) -> None:
        now = time.perf_counter()
        if not force and now - self._last < 0.2:
            return
        self._last = now
        for p in process_tree(os.getpid()):
            self._hwm[p] = max(self._hwm.get(p, 0.0), hwm_mb(p))

    @property
    def peak_rss_mb(self) -> float:
        return sum(self._hwm.values()) - self.harness_mb

    def cpu(self) -> tuple[float, float]:
        """(driver, jvm-and-workers) CPU seconds so far."""
        t = os.times()
        return t.user + t.system, cpu_s(process_tree(self.jvm_pid))
