"""Per-layer metrics of a traced run, derived from its spans.

Times are span durations in seconds; counts come from the status store
over each span's job-id range and from the executed plans of the collected
DataFrames. Per-query figures are medians (times) or means (counts) over
the traced read loop.
"""

from __future__ import annotations

import statistics

from queries import SHAPES

BUILD_STAGES = ("docs", "runs", "dictionary", "doc_stats", "postings")

# name -> unit; the order is the order of BENCHMARK.json
LAYER_UNITS = {
    "build.docs_s": "s", "build.runs_s": "s", "build.stats_s": "s",
    "build.dictionary_s": "s", "build.doc_stats_s": "s", "build.postings_s": "s",
    "build.jobs": "count", "build.tasks": "count", "build.shuffle_bytes": "bytes",
    "build.index_bytes": "bytes",
    "catalog.diff_s": "s", "catalog.segment_s": "s", "catalog.tombstones_s": "s",
    "catalog.engine_open_s": "s", "catalog.update_jobs": "count",
    "catalog.update_tasks": "count", "catalog.changed_docs": "count",
    "catalog.changed_docs_per_s": "docs/s",
    "plans.parse_s": "s",
    "search.plan_s": "s", "search.exec_s": "s", "search.plan_jobs": "count",
    "search.exec_jobs": "count", "search.exec_tasks": "count",
    "search.postings_blocks_read": "count", "search.postings_blocks_decoded": "count",
    "search.postings_bytes_read": "bytes", "search.blocks_decoded_per_hit": "ratio",
    "search.docs_rows_read": "count", "search.shuffle_bytes": "bytes",
    **{f"search.p50_s.{s}": "s" for s in SHAPES},
    "search.batch_plan_s": "s", "search.batch_exec_s": "s",
    "search.batch_jobs": "count", "search.batch_tasks": "count",
    "search.batch_blocks_decoded": "count", "search.batch_shuffle_bytes": "bytes",
    "spark.failed_tasks": "count", "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.bookkeeping_s": "s",
}


def _dur(s) -> float:
    return s["end"] - s["start"]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def per_layer(run) -> dict:
    spans = run.tracer.spans
    by_id = {s["id"]: s for s in spans}

    def under(root) -> list:
        """Spans below ``root``."""
        out = []
        for s in spans:
            p = s["parent"]
            while p is not None and p != root["id"]:
                p = by_id[p]["parent"]
            if p == root["id"]:
                out.append(s)
        return out

    def named(xs, name, **attrs):
        return [s for s in xs if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    m: dict = {}
    # build: the run's one build, its stage writes and stage calls
    build = named(spans, "catalog.build")[-1]
    inner = under(build)
    for stage in BUILD_STAGES:
        m[f"build.{stage}_s"] = sum(_dur(s) for s in named(inner, "store.write", stage=stage))
    m["build.docs_s"] += sum(_dur(s) for s in named(inner, "build.docs_stage"))
    m["build.stats_s"] = sum(_dur(s) for s in named(inner, "build.stats_stage"))
    m["build.jobs"] = build["jobs"]
    m["build.tasks"] = build["tasks"]
    m["build.shuffle_bytes"] = build["shuffle_bytes"]
    m["build.index_bytes"] = build["index_bytes"]

    # catalog: updates (the change batch, or no-op refreshes) and opens
    diff, seg, tomb = [], [], []
    for u in named(spans, "catalog.update"):
        inner = under(u)
        diff.append(sum(_dur(s) for s in named(inner, "catalog.diff_summary")))
        tomb.append(sum(_dur(s) for s in named(inner, "store.write", stage="tombstones")))
        seg.append(sum(_dur(s) for s in inner
                       if s["name"] in ("build.docs_stage", "build.stats_stage")
                       or (s["name"] == "store.write" and s["stage"] != "tombstones")))
    updates = named(spans, "catalog.update")
    m["catalog.diff_s"] = _median(diff)
    m["catalog.segment_s"] = _median(seg)
    m["catalog.tombstones_s"] = _median(tomb)
    m["catalog.engine_open_s"] = _median([_dur(s) for s in named(spans, "catalog.engine")])
    m["catalog.update_jobs"] = _median([s["jobs"] for s in updates])
    m["catalog.update_tasks"] = _median([s["tasks"] for s in updates])
    m["catalog.changed_docs"] = _median([s["changed_docs"] for s in updates])
    m["catalog.changed_docs_per_s"] = _median(
        [s["changed_docs"] / _dur(s) for s in updates])

    # single queries of the traced read loop
    plan = named(spans, "search.search")
    exe = named(spans, "search.collect")
    parse: dict = {}
    for s in named(spans, "plans.parse"):
        if s["op"] and s["op"].startswith("q"):
            parse[s["op"]] = parse.get(s["op"], 0.0) + _dur(s)
    m["plans.parse_s"] = _median(list(parse.values()))
    m["search.plan_s"] = _median([_dur(s) for s in plan])
    m["search.exec_s"] = _median([_dur(s) for s in exe])
    m["search.plan_jobs"] = _mean([s["jobs"] for s in plan])
    m["search.exec_jobs"] = _mean([s["jobs"] for s in exe])
    m["search.exec_tasks"] = _mean([s["tasks"] for s in exe])
    m["search.postings_blocks_read"] = _mean([s["postings_blocks_read"] for s in exe])
    m["search.postings_blocks_decoded"] = _mean([s["blocks_decoded"] for s in exe])
    m["search.postings_bytes_read"] = _mean([s["postings_bytes_read"] for s in exe])
    hits = sum(s["hits"] for s in exe)
    m["search.blocks_decoded_per_hit"] = (
        sum(s["blocks_decoded"] for s in exe) / hits if hits else 0.0)
    m["search.docs_rows_read"] = _mean([s["docs_rows_read"] for s in exe])
    m["search.shuffle_bytes"] = _mean([s["shuffle_bytes"] for s in plan + exe])
    for shape in SHAPES:
        m[f"search.p50_s.{shape}"] = _median(
            [s["latency"] for s in exe if s["shape"] == shape])

    # batches
    bplan = named(spans, "search.search_many")
    bexe = named(spans, "search.batch_collect")
    m["search.batch_plan_s"] = _median([_dur(s) for s in bplan])
    m["search.batch_exec_s"] = _median([_dur(s) for s in bexe])
    for key in ("jobs", "tasks", "shuffle_bytes"):
        m[f"search.batch_{key}"] = _mean([p[key] + e[key] for p, e in zip(bplan, bexe)])
    m["search.batch_blocks_decoded"] = _mean([s["blocks_decoded"] for s in bexe])

    m["spark.failed_tasks"] = run.report["spark_run_totals"]["failed_tasks"]
    m["spark.peak_rss_mb"] = run.report["peak_rss_mb"]
    over = run.report["trace_overhead"]
    m["trace.overhead_s"] = over["query_p50_s"]
    m["trace.bookkeeping_s"] = over["bookkeeping_s"]
    return {k: {"value": float(m[k]), "unit": u} for k, u in LAYER_UNITS.items()}
