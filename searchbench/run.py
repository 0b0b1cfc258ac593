"""Benchmark launcher: one command, one workload, one JSON result line.

    python3 searchbench/run.py --workload search_read --seed 1 --seconds 5 --trace 0

Run from the repository root. The launcher pins the environment the engine
needs (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEM``, ``PYTHONPATH``, Spark's
local and temporary directories) before Spark starts, generates the seeded
input, computes the expected answers with the pure-Python oracle (cached
per input, outside every timed region), runs the workload, and prints a
report line and then the result line. Everything it writes goes under
``.bench_work/`` in the repository root.

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` the per-layer metrics of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

N_DOCS = 1000
SPARK_MEM = "3g"
UNITS = {"setup_s": "s", "query_p50_s": "s", "queries_per_s": "1/s",
         "build_docs_per_s": "docs/s", "update_docs_per_s": "docs/s",
         "index_bytes_per_source_byte": "ratio"}


def launcher_env(run_dir: str) -> dict:
    """The environment the engine and its Python workers run with."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": SPARK_MEM,
        # workers import xltsearch_spark by module path
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: temp files in the
        # checkout, and no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    return env


class Context:
    """Seeded inputs and their expected answers."""

    def __init__(self, workload: str, seed: int, seconds: float, run_dir: str):
        import corpus
        import queries
        from expected import OracleCache, expected, segment_history, source_digest
        from xltsearch_spark.config import IndexConfig
        from xltsearch_spark.sources.corpus import corpus_manifest, write_corpus_parquet
        from workloads import BATCH_PHRASES, BATCH_SIZE, K_BATCH, K_SINGLE, WARMUP_DOCS

        self.seed, self.seconds, self.work = seed, seconds, run_dir
        self.config = IndexConfig(name="bench", term_buckets=16)
        gen = corpus.generate(N_DOCS, seed)
        self.n_docs = len(gen.table)
        self.queries = queries.make_queries(gen, seed, n_batches=1,
                                            batch_size=BATCH_SIZE,
                                            batch_phrases=BATCH_PHRASES)
        singles = [q for _, q in self.queries.warmup]
        singles += [q for pool in self.queries.pool.values() for q in pool]
        batch = [q for b in self.queries.batches for _, q in b] \
            if workload == "ingest_update" else []
        self.v1_path = os.path.join(run_dir, "v1.parquet")
        write_corpus_parquet(gen.table, self.v1_path)
        self.warmup_path = os.path.join(run_dir, "warmup.parquet")
        write_corpus_parquet(corpus.generate(WARMUP_DOCS, seed).table, self.warmup_path)
        table, deleted, indexed = gen.table, None, gen.table
        self.expect_refresh = {"insert": 0, "update": 0, "delete": 0,
                               "unchanged": self.n_docs}
        if workload == "ingest_update":
            change = corpus.change_batch(gen, seed)
            self.v2_path = os.path.join(run_dir, "v2.parquet")
            write_corpus_parquet(change.table, self.v2_path)
            table, deleted = segment_history(gen.table, change.table)
            indexed = change.table
            self.n_update_docs = len(change.table)
            self.expect_update = {
                "insert": change.n_insert, "update": change.n_update,
                "delete": change.n_delete,
                "unchanged": self.n_docs - change.n_update - change.n_delete}
        self.manifest = corpus_manifest(indexed)
        # bytes of every document version the index holds, tombstoned ones too
        self.source_bytes = int(table["content"].str.len().sum())
        cache = OracleCache(os.path.join(WORK, "oracle"), source_digest(ROOT))
        self.expected, self.oracle_cached = cache.get(
            workload, seed, N_DOCS, self.config.config_hash(),
            lambda: expected(table, self.config, singles, K_SINGLE, batch,
                             K_BATCH, deleted=deleted))


def cpu_seconds() -> dict:
    """Machine-wide CPU time by kind, from /proc/stat: steal is time the
    host gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    tick = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {k: int(v) / tick for k, v in zip(names, fields)}


def _running(pid: int) -> bool:
    """Whether ``pid`` is a process that has not exited (zombies have)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and every Python worker it
    started have exited; the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext
    from tracing import descendants
    started = set(descendants())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # workers outlive the JVM by a moment (they exit on stdin EOF)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xltsearch_spark", "__init__.py")):
        print(f"xltsearch_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    started = time.perf_counter()
    load_start = os.getloadavg()
    cpu_start = cpu_seconds()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = launcher_env(run_dir)
    try:
        return _run(args, env, run_dir, started, load_start, cpu_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, env, run_dir, started, load_start, cpu_start) -> int:
    import check
    import workloads
    from layers import per_layer
    from tracing import JobCounter, PeakRss, Tracer

    t0 = time.perf_counter()
    ctx = Context(args.workload, args.seed, args.seconds, run_dir)
    sample = next(v for v in ctx.expected["single"].values() if len(v) >= 2)
    selftest = check.selftest(sample, ROOT)
    oracle_s = time.perf_counter() - t0

    from xltsearch_spark.session import get_spark
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark("searchbench")
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            counter = JobCounter(spark)
            run_first_job = counter.mark()
            run = workloads.Run(ctx, spark, counter, Tracer(counter, bool(args.trace)))
            workloads.WORKLOADS[args.workload](run, session_s)
            run.report["spark_run_totals"] = counter.since(run_first_job)
        finally:
            _stop_spark(spark)
    run.report["peak_rss_mb"] = rss.peak / 2**20

    if args.trace:
        metrics = per_layer(run)
        trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        self_s = run.tracer.self_times()
        with open(trace_path, "w") as f:
            json.dump([{**s, "self_s": self_s[s["id"]]} for s in run.tracer.spans], f)
        # against an untraced run of the same seed, the tracing overhead
        run.report["end_to_end_traced"] = run.e2e
    else:
        metrics = {k: {"value": run.e2e[k], "unit": UNITS[k]} for k in UNITS}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "n_docs": ctx.n_docs, "source_bytes": ctx.source_bytes,
        "env": env, "warehouse": os.path.join(run_dir, "index"),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_s": {k: round(v - cpu_start[k], 2) for k, v in cpu_seconds().items()},
        "oracle_cached": ctx.oracle_cached, "oracle_and_inputs_s": oracle_s,
        "wall_s": time.perf_counter() - started,
        "checker_selftest": selftest, "failures": run.failures,
        "wrong_by_shape": run.wrong_by_shape, **run.report,
    }
    print("report " + json.dumps(report, default=float))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
