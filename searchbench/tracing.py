"""Spans, Spark work counts and plan metrics, taken from outside the engine.

* ``JobCounter`` counts jobs, tasks, failed tasks and shuffle bytes by
  job-id range from Spark's status store: every job whose id falls between
  two marks, whatever job group it carries.
* ``plan_metrics`` walks the executed plan of a collected DataFrame —
  through ``AdaptiveSparkPlanExec.finalPhysicalPlan()``, every
  ``QueryStageExec.plan()``, reused exchanges and cached relations — and
  sums the SQL metrics of the postings and docs scans and of the Python
  decode nodes above them.
* ``Tracer`` records spans (name, start, end, parent, operation id) in
  memory; ``instrument`` wraps the engine's public stage calls with spans
  for a traced run and restores them afterwards.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from xltsearch_spark.sources.table_store import ParquetFilesystemStore, TableStore

# plan nodes that hand rows to a Python worker
PYTHON_NODES = ("MapInPandasExec", "MapInArrowExec", "PythonMapInArrowExec",
                "FlatMapGroupsInPandasExec", "ArrowEvalPythonExec",
                "BatchEvalPythonExec")


class JobCounter:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._sc = self.sc._jsc.sc()
        jvm, gw = self.sc._jvm, self.sc._gateway
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(jvm.double, 0)

    def mark(self) -> int:
        """Id of the next job Spark will start."""
        return int(self._sc.dagScheduler().nextJobId())

    def since(self, first: int) -> dict:
        """Work of every job with id in [first, next job id)."""
        self._sc.listenerBus().waitUntilEmpty()
        last = self.mark()
        tracker, store = self.sc.statusTracker(), self._sc.statusStore()
        out = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0}
        seen = set()
        for jid in range(first, last):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                it = store.stageData(sid, False, self._no_status, False,
                                     self._no_quantiles).iterator()
                while it.hasNext():
                    st = it.next()
                    out["tasks"] += st.numCompleteTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    out["shuffle_bytes"] += st.shuffleWriteBytes()
        return out


# ----------------------------- plan metrics ---------------------------------

def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.finalPhysicalPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.length())]


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _scan_root(node) -> str | None:
    if node.getClass().getSimpleName() != "FileSourceScanExec":
        return None
    return node.relation().location().rootPaths().mkString(",")


def _table(path: str) -> str | None:
    """Stage table a scan reads: the catalog's segment directory layout is
    <warehouse>/<index>/segments/<segment>/<stage>."""
    for stage in ("postings", "docs"):
        if "/segments/" in path and path.rstrip("/").endswith("/" + stage):
            return stage
    return None


def plan_metrics(df) -> dict:
    """Rows and bytes the executed plan of ``df`` read and decoded."""
    out = {"postings_blocks_read": 0, "postings_bytes_read": 0,
           "blocks_decoded": 0, "docs_rows_read": 0, "scans": 0}
    root = df._jdf.queryExecution().executedPlan()

    def rows_in(node) -> int:
        # rows the first row-counting node below ``node`` produced
        while True:
            kids = _children(node)
            if not kids:
                return 0
            node = kids[0]
            m = _metrics(node)
            if "numOutputRows" in m:
                return m["numOutputRows"]

    def walk(node) -> set:
        """Tables scanned under ``node``."""
        tables = set()
        for k in _children(node):
            tables |= walk(k)
        path = _scan_root(node)
        if path is not None:
            table = _table(path)
            m = _metrics(node)
            out["scans"] += 1
            if table == "postings":
                out["postings_blocks_read"] += m.get("numOutputRows", 0)
                out["postings_bytes_read"] += m.get("filesSize", 0)
            elif table == "docs":
                out["docs_rows_read"] += m.get("numOutputRows", 0)
            if table:
                tables.add(table)
        elif node.getClass().getSimpleName() in PYTHON_NODES \
                and "postings" in tables:
            out["blocks_decoded"] += rows_in(node)
            tables.discard("postings")  # counted once, at the first decode
        return tables

    walk(root)
    return out


# --------------------------------- spans -------------------------------------

class Tracer:
    """In-memory spans. Disabled, ``span`` only yields ``None``."""

    def __init__(self, counter: JobCounter, enabled: bool):
        self.counter = counter
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op = None          # operation id shared by one request's spans
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, count: bool = True, **attrs):
        if not self.enabled:
            yield None
            return
        s = {"id": len(self.spans), "name": name, "op": self.op,
             "parent": self._stack[-1]["id"] if self._stack else None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        first = self.counter.mark() if count else None
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if count:
                s.update(self.counter.since(first))
            s["bookkeeping_s"] = time.perf_counter() - s["end"]
            self.bookkeeping_s += s["bookkeeping_s"]

    def self_times(self) -> dict:
        """span id -> duration minus the time its child spans cover (a
        child's count collection runs inside its parent's interval, so it
        is covered too)."""
        covered: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = (covered.get(s["parent"], 0.0)
                                        + s["end"] - s["start"] + s["bookkeeping_s"])
        return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0)
                for s in self.spans}


class TracingStore(TableStore):
    """Table store that records one span per table write, keyed by the
    written stage (the last directory of the target path)."""

    def __init__(self, tracer: Tracer, inner: TableStore | None = None):
        self.tracer = tracer
        self.inner = inner or ParquetFilesystemStore()

    def write(self, df, target, partition_by=(), mode="overwrite"):
        parent = os.path.basename(os.path.dirname(target.rstrip("/")))
        stage = "tombstones" if parent == "tombstones" else os.path.basename(target)
        with self.tracer.span("store.write", stage=stage, target=target):
            self.inner.write(df, target, partition_by=partition_by, mode=mode)

    def read(self, spark, target):
        return self.inner.read(spark, target)


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the build stages the catalog calls and the change-diff summary
    with spans, for the duration of a traced run."""
    import xltsearch_spark.catalog as catalog_mod
    from xltsearch_spark.operators.build import IndexBuilder
    patched = []

    def wrap(owner, attr, name):
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)
        setattr(owner, attr, traced)
        patched.append((owner, attr, orig))

    wrap(IndexBuilder, "docs_stage", "build.docs_stage")
    wrap(IndexBuilder, "stats_stage", "build.stats_stage")
    wrap(catalog_mod, "diff_summary", "catalog.diff_summary")
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)


def trace_parser(tracer: Tracer, engine) -> None:
    """Span every ``QueryParser.parse`` the engine makes (no Spark work)."""
    orig = engine.parser.parse

    def parse(query):
        with tracer.span("plans.parse", count=False):
            return orig(query)
    engine.parser.parse = parse


# ------------------------------ memory ---------------------------------------

def descendants() -> dict:
    """pid -> resident pages of every live descendant of this process."""
    parent, rss = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[int(pid)] = pages
    me, out = os.getpid(), {}
    for pid, pages in rss.items():
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out[pid] = pages
    return out


class PeakRss:
    """Highest summed resident memory of this process's descendants (the
    Spark JVM and its Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def sample(self) -> None:
        total = sum(descendants().values()) * self._page
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
