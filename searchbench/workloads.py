"""The benchmark's workloads, driven through the engine's public API only:
``IndexCatalog.build/update/engine``, ``SearchEngine.search`` and
``SearchEngine.search_many``.

One client, closed loop: each query is sent after the previous answer has
been collected and checked. Every answer is checked against the oracle;
a wrong answer or an exception is a failed operation.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
import traceback
from contextlib import nullcontext

import check
from tracing import Tracer, TracingStore, instrument, plan_metrics, trace_parser

K_SINGLE = 10      # hits per interactive query
K_BATCH = 100      # hits per query of a batch
BATCH_SIZE = 16
BATCH_PHRASES = 1
REFRESHES = 9      # no-op refreshes of the search index
WARMUP_DOCS = 100  # files in the corpus of the untimed warm-up build
# Rarest-first conjunction pruning is off on every engine the benchmark
# opens. The index build can write posting blocks whose doc ids are out of
# order (skip_first_doc > skip_last_doc): the docs stage is read back as
# partitions of non-adjacent files, so one term's runs interleave. Pruning
# by those block spans drops true hits of AND and phrase queries. Every run
# reports the count of such blocks (``disordered_blocks``); pruning can be
# measured again once that count is 0.
CONJ_PRUNE = False


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run: inputs, expected answers, Spark handles
    and what was measured."""

    def __init__(self, ctx, spark, counter, tracer):
        self.ctx = ctx                  # inputs and expected answers
        self.spark = spark
        self.counter = counter
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.wrong_by_shape: dict = {}
        self.e2e: dict = {}
        self.report: dict = {}

    def fail(self, what: str, shape: str | None = None) -> None:
        self.failed += 1
        if shape:
            self.wrong_by_shape[shape] = self.wrong_by_shape.get(shape, 0) + 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def catalog(self, name: str):
        """A catalog in a fresh warehouse; traced runs write through a
        store that spans every stage write."""
        from xltsearch_spark.catalog import IndexCatalog
        store = TracingStore(self.tracer) if self.tracer.enabled else None
        return IndexCatalog(self.spark, os.path.join(self.ctx.work, name),
                            self.ctx.config, store=store)

    # ------------------------- build / update ------------------------------
    def build(self, cat, corpus, fingerprint: str) -> float:
        """Timed ``IndexCatalog.build`` on a cold Spark cache; seconds."""
        self.spark.catalog.clearCache()
        with self.tracer.span("catalog.build") as s:
            t0 = time.perf_counter()
            cat.build(corpus, fingerprint=fingerprint)
            dt = time.perf_counter() - t0
        if s is not None:
            s["index_bytes"] = dir_bytes(cat.root)
        return dt

    def update(self, cat, corpus, fingerprint: str, expect: dict):
        """Timed ``IndexCatalog.update`` on a cold Spark cache; checks the
        change summary. Returns (seconds, job counts)."""
        self.spark.catalog.clearCache()
        first = self.counter.mark()
        with self.tracer.span("catalog.update") as s:
            t0 = time.perf_counter()
            summary = cat.update(corpus, fingerprint=fingerprint)
            dt = time.perf_counter() - t0
        if s is not None:
            s["changed_docs"] = summary["insert"] + summary["update"] + summary["delete"]
        self.attempted += 1
        if summary != expect:
            self.fail(f"update summary {summary}, generator made {expect}")
        return dt, self.counter.since(first)

    def same_work(self, what: str, counts: dict, first: dict) -> None:
        """Each repeated update must redo all the work of the first one:
        equal job and task counts show no cached frame of an earlier
        iteration was reused."""
        got = (counts["jobs"], counts["tasks"])
        want = (first["jobs"], first["tasks"])
        if got != want:
            self.fail(f"{what}: jobs/tasks {got}, first iteration {want}")

    def engine(self, cat):
        with self.tracer.span("catalog.engine"):
            t0 = time.perf_counter()
            eng = cat.engine()
            dt = time.perf_counter() - t0
        eng.conj_prune_enabled = CONJ_PRUNE
        if self.tracer.enabled:
            trace_parser(self.tracer, eng)
        return eng, dt

    def check_index(self, cat, hashsums: bool) -> None:
        """Ingest invariants, outside every timed region: the oracle's
        collection statistics and, with ``hashsums``, the sha256 row
        invariant."""
        exp = self.ctx.expected
        if hashsums:
            self.attempted += 1
            bad = cat.verify_hashsums(self.spark.createDataFrame(self.ctx.manifest))
            if bad:
                self.fail(f"verify_hashsums: {bad} mismatching rows")
        self.report["disordered_blocks"] = self.disordered_blocks(cat)
        stats = cat.load_stats()
        self.attempted += 1
        if (stats.n_docs, stats.sum_ttf) != (exp["n_docs"], exp["sum_ttf"]):
            self.fail(f"stats n_docs={stats.n_docs} sum_ttf={stats.sum_ttf}, "
                      f"oracle {exp['n_docs']} {exp['sum_ttf']}")

    def disordered_blocks(self, cat) -> int:
        """Posting blocks whose first doc id is above their last (see
        ``CONJ_PRUNE``), over every segment; untimed."""
        from pyspark.sql import functions as F
        # one read per segment: the segments' partition directories conflict
        return sum(self.spark.read.parquet(p)
                   .filter(F.col("skip_first_doc") > F.col("skip_last_doc")).count()
                   for p in glob.glob(os.path.join(cat.root, "segments", "*", "postings")))

    # ------------------------------ reads ----------------------------------
    def one_query(self, eng, shape: str, q: str, tracer) -> tuple | None:
        """Send one query, collect, check. Returns (latency, tracing
        bookkeeping inside it, answer correct), or None when it raised."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with tracer.span("search.search", shape=shape, query=q) as s1:
                df = eng.search(q, K_SINGLE)
            with tracer.span("search.collect", shape=shape) as s2:
                rows = df.collect()
            dt = time.perf_counter() - t0
        except Exception:  # a failed operation; the run goes on
            self.fail(f"{q!r}: {traceback.format_exc(limit=2)}", shape)
            return None
        bookkeeping = 0.0
        if s2 is not None:
            bookkeeping = s1["bookkeeping_s"] + s2["bookkeeping_s"]
            pm = plan_metrics(df)
            s2.update(pm, hits=len(rows), latency=dt)
            if rows and pm["postings_blocks_read"] == 0:
                raise RuntimeError(f"plan reader found no postings blocks for "
                                   f"{q!r}, which returned {len(rows)} hits")
        why = check.mismatch(check.search_rows(rows), self.ctx.expected["single"][q])
        if why:
            self.fail(f"{q!r}: {why}", shape)
        return dt, bookkeeping, why is None

    def query_phase(self, eng, stream, seconds: float, min_queries: int) -> dict:
        """Closed loop over ``stream`` for at least ``seconds`` and
        ``min_queries`` queries (a fixed count, so every run sees the same
        shape mix and share of repeats). Wrong answers count as failed
        operations; their latency is still a latency sample, and only
        correct answers count as done."""
        lat, net, by_shape, seen, repeats, correct = [], [], {}, set(), 0, 0
        failed0 = self.failed
        t_start = time.perf_counter()
        n = 0
        while n < min_queries or time.perf_counter() - t_start < seconds:
            shape, q = next(stream)
            self.tracer.op = f"q{n}"
            n += 1
            repeats += q in seen
            seen.add(q)
            got = self.one_query(eng, shape, q, self.tracer)
            if got is not None:
                lat.append(got[0])
                net.append(got[0] - got[1])
                by_shape.setdefault(shape, []).append(got[0])
                correct += got[2]
        wall = time.perf_counter() - t_start
        self.tracer.op = None
        return {"latencies": lat, "untraced": net, "by_shape": by_shape,
                "wall": wall, "sent": n, "correct": correct,
                "failed": self.failed - failed0, "repeat_share": repeats / n}

    def batch(self, eng, batch: list) -> float | None:
        """One ``search_many`` call over ``batch``; returns seconds or None."""
        queries = {f"b{i:03d}": q for i, (_, q) in enumerate(batch)}
        self.attempted += 1
        self.tracer.op = "batch"
        try:
            t0 = time.perf_counter()
            with self.tracer.span("search.search_many", size=len(queries)):
                df = eng.search_many(queries, K_BATCH)
            with self.tracer.span("search.batch_collect") as s2:
                rows = df.collect()
            dt = time.perf_counter() - t0
        except Exception:
            self.fail(f"batch: {traceback.format_exc(limit=2)}", "batch")
            return None
        finally:
            self.tracer.op = None
        if s2 is not None:
            s2.update(plan_metrics(df), hits=len(rows))
        got = check.batch_rows(rows)
        for qid, q in queries.items():
            why = check.mismatch(got.get(qid, []), self.ctx.expected["batch"][q],
                                 stored=False)
            if why:
                self.fail(f"batch {q!r}: {why}", "batch")
                return None
        return dt


def _warmup_build(run: Run) -> float:
    """First build of the session, over a small corpus into a warehouse of
    its own; seconds, which count in ``setup_s`` only. A session's first
    build pays for JIT compilation, Python worker start and first-job
    set-up (a 100-file build takes ~13 s cold, a 1000-file build ~6.5 s
    after it), so the timed build after this one measures the build
    pipeline rather than start-up. Its input is another table, so the
    timed build can reuse no frame of it."""
    from xltsearch_spark.catalog import IndexCatalog
    from xltsearch_spark.sources.corpus import read_corpus
    corpus = read_corpus(run.spark, run.ctx.warmup_path)
    t0 = time.perf_counter()
    IndexCatalog(run.spark, os.path.join(run.ctx.work, "warmup"),
                 run.ctx.config).build(corpus, fingerprint="warmup")
    return time.perf_counter() - t0


def _warmup(run: Run, eng) -> float:
    """Untraced warm-up queries on terms the timed stream never uses, so
    the term-stats caches start empty."""
    off = Tracer(None, enabled=False)
    t0 = time.perf_counter()
    for shape, q in run.ctx.queries.warmup:
        run.one_query(eng, shape, q, off)
    return time.perf_counter() - t0


def _read_metrics(run: Run, phase: dict, batch_queries: int = 0,
                  batch_wall: float = 0.0) -> None:
    run.e2e["query_p50_s"] = median(phase["latencies"])
    run.e2e["queries_per_s"] = ((phase["correct"] + batch_queries)
                                / (phase["wall"] + batch_wall))
    lat = sorted(phase["latencies"])
    n = len(lat)
    tail = n - 11  # highest percentile with at least ten samples beyond it
    run.report["single_queries"] = {
        "samples": n, "sent": phase["sent"], "failed": phase["failed"],
        "repeat_share": round(phase["repeat_share"], 3),
        "tail_percentile": int(100 * (tail + 1) / n) if tail >= 0 else None,
        "tail_s": lat[tail] if tail >= 0 else None,
        "p50_s_by_shape": {s: median(v) for s, v in sorted(phase["by_shape"].items())},
    }
    if run.tracer.enabled:
        # the same queries' latencies with and without the tracer's own
        # bookkeeping, which runs inside each timed window
        run.report["trace_overhead"] = {
            "query_p50_s": median(phase["latencies"]) - median(phase["untraced"]),
            "bookkeeping_s": run.tracer.bookkeeping_s}


def search_read(run: Run, session_s: float) -> None:
    """Interactive search box on a freshly built single-segment index."""
    import queries as qmod
    from xltsearch_spark.sources.corpus import read_corpus
    ctx = run.ctx
    warm_build_s = _warmup_build(run)
    corpus = read_corpus(run.spark, ctx.v1_path)
    cat = run.catalog("index")
    with instrument(run.tracer) if run.tracer.enabled else nullcontext():
        build_s = run.build(cat, corpus, "v1")
        refresh_s, first = [], None
        for i in range(REFRESHES):
            dt, counts = run.update(cat, corpus, f"v1-refresh{i}", ctx.expect_refresh)
            refresh_s.append(dt)
            first = first or counts
            run.same_work(f"refresh {i}", counts, first)
        eng, open_s = run.engine(cat)
        warm_s = _warmup(run, eng)
        run.e2e["setup_s"] = session_s + warm_build_s + build_s + open_s + warm_s
        run.e2e["build_docs_per_s"] = ctx.n_docs / build_s
        # the first refresh is the diff path's warm-up
        run.e2e["update_docs_per_s"] = ctx.n_docs / median(refresh_s[1:])
        run.e2e["index_bytes_per_source_byte"] = dir_bytes(cat.root) / ctx.source_bytes
        # a round of every shape, then the repeats that open the next round
        phase = run.query_phase(eng, qmod.stream(ctx.queries, ctx.seed),
                                ctx.seconds, len(qmod.SHAPES) * 3 // 2)
        _read_metrics(run, phase)
    run.check_index(cat, hashsums=False)
    run.report["setup_parts_s"] = {"session": session_s, "warmup_build": warm_build_s,
                                   "build": build_s, "engine_open": open_s,
                                   "warmup_queries": warm_s}
    run.report["timed_parts_s"] = {"refreshes": refresh_s}


def ingest_update(run: Run, session_s: float) -> None:
    """Build, apply the change batch, then read the updated index: one
    evaluation batch through ``search_many``, then single queries."""
    import queries as qmod
    from xltsearch_spark.sources.corpus import read_corpus
    ctx = run.ctx
    warm_build_s = _warmup_build(run)
    v1 = read_corpus(run.spark, ctx.v1_path)
    v2 = read_corpus(run.spark, ctx.v2_path)
    run.e2e["setup_s"] = session_s + warm_build_s
    with instrument(run.tracer) if run.tracer.enabled else nullcontext():
        cat = run.catalog("index")
        build_s = run.build(cat, v1, "v1")
        update_s, _ = run.update(cat, v2, "v2", ctx.expect_update)
        eng, open_s = run.engine(cat)
        t0 = time.perf_counter()
        batch_ok = run.batch(eng, ctx.queries.batches[0]) is not None
        batch_wall = time.perf_counter() - t0
        shapes = qmod.UPDATED_SHAPES
        phase = run.query_phase(eng, qmod.stream(ctx.queries, ctx.seed, shapes),
                                ctx.seconds - batch_wall, len(shapes))
        run.e2e["build_docs_per_s"] = ctx.n_docs / build_s
        run.e2e["update_docs_per_s"] = ctx.n_update_docs / update_s
        run.e2e["index_bytes_per_source_byte"] = dir_bytes(cat.root) / ctx.source_bytes
        _read_metrics(run, phase, BATCH_SIZE if batch_ok else 0, batch_wall)
    run.check_index(cat, hashsums=True)
    run.report["setup_parts_s"] = {"session": session_s, "warmup_build": warm_build_s}
    run.report["timed_parts_s"] = {"build": build_s, "update": update_s,
                                   "engine_open": open_s, "batch": batch_wall}


WORKLOADS = {"search_read": search_read, "ingest_update": ingest_update}
