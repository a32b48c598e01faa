"""Turn a finished workload's samples and spans into named metrics.

END_TO_END and PER_LAYER are the metric catalogue (name -> unit);
BENCHMARK.json lists the same names. A per-layer metric whose layer a
workload never calls reads 0 on that workload.
"""

from __future__ import annotations

import statistics

END_TO_END = {
    "setup_s": "s",
    "index_docs_per_cpu_s": "1/s",
    "batch_cpu_ms_per_query": "ms",
    "index_bytes_per_posting": "B/posting",
    "driver_rss_mb": "MB",
}

BUILD_PHASES = ("lexicon", "tokenize_write", "docs_write",
                "shuffle_encode_write", "terms_write")

PER_LAYER = {
    "functions.extract.us_per_doc": "us",
    "functions.tokenize.us_per_doc": "us",
    "functions.codecs.encode_ns_per_posting": "ns",
    "functions.codecs.decode_ns_per_posting": "ns",
    "functions.scoring.bm25_ns_per_posting": "ns",
    "plans.dense_ids.s": "s",
    "plans.dense_ids.jobs": "count",
    "build.index_s": "s",
    **{f"build.phase.{p}_s": "s" for p in BUILD_PHASES},
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.task_s": "s",
    "build.shuffle_write_bytes": "B",
    "build.skew_ratio": "ratio",
    "positions.build_s": "s",
    "positions.jobs": "count",
    "positions.shuffle_write_bytes": "B",
    "positions.bytes_per_position": "B/position",
    "positions.phrase_jobs": "count",
    "positions.phrase_p50_ms": "ms",
    "query.index_open_s": "s",
    "query.lookup_us": "us",
    "query.cpu_ms": "ms",
    "wall.index_docs_per_s": "1/s",
    "wall.freshness_s": "s",
    "wall.query_p50_ms": "ms",
    "wall.query_p90_ms": "ms",
    "wall.batch_queries_per_s": "1/s",
    "query.jobs_per_query": "count",
    "query.cache_miss_ratio": "ratio",
    "query.batch_jobs": "count",
    "query.batch_stages": "count",
    "query.batch_task_s": "s",
    "query.batch_shuffle_bytes": "B",
    "query.distributed_p50_ms": "ms",
    "query.distributed_jobs": "count",
    "query.distributed_stages": "count",
    "dedup.against_s": "s",
    "dedup.jobs": "count",
    "dedup.task_s": "s",
    "dedup.kept_ratio": "ratio",
    "ingest.process_batch_s": "s",
    "ingest.process_batch_jobs": "count",
    "ingest.process_batch_task_s": "s",
    "segments.open_s": "s",
    "segments.n_segments": "count",
    "delete.s": "s",
    "delete.jobs": "count",
    "merge.s": "s",
    "merge.jobs": "count",
    "merge.shuffle_write_bytes": "B",
    "run.client_self_s": "s",
    "trace.overhead_ratio": "ratio",
    "host.loadavg_1m": "1",
    "run.cpu_s": "s",
}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p(xs, q: int) -> float:
    """q-th percentile (nearest rank) of xs."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, -(-q * len(s) // 100) - 1))])


def _per_batch_query(xs) -> float:
    from perfbench.workloads import BATCH_QUERIES
    return _med(xs) / BATCH_QUERIES


def end_to_end(wl, setup_s: float, rss_mb: float) -> dict:
    s = wl.samples
    vals = {
        "setup_s": setup_s,
        "index_docs_per_cpu_s": _med(s["docs_per_cpu_s"]),
        "batch_cpu_ms_per_query": _per_batch_query(s["batch_cpu_s"]) * 1e3,
        "index_bytes_per_posting": wl.postings_bytes / wl.total_postings,
        "driver_rss_mb": rss_mb,
    }
    return {k: (vals[k], u) for k, u in END_TO_END.items()}


def _timed(wl, name: str):
    return [sp for sp in wl.tr.spans
            if sp.name == name and sp.request != "warmup"]


def per_layer(wl, counts: dict, window_s: float, own_s: float) -> dict:
    """Metrics read from spans, job counts and the workload's own
    bookkeeping; event-log figures are added by event_metrics."""
    from perfbench.kernels import function_costs

    def secs(name):
        return [sp.seconds for sp in _timed(wl, name)]

    def jobs(name):
        return _med([counts[sp.sid]["jobs"] for sp in _timed(wl, name)
                     if sp.sid in counts])

    out = {k: 0.0 for k in PER_LAYER}
    out.update(function_costs(wl.html_sample))
    out["plans.dense_ids.s"] = _med(secs("dense_id_mapping"))
    out["plans.dense_ids.jobs"] = jobs("dense_id_mapping")
    out["build.index_s"] = _med(secs("build_index"))
    out["build.jobs"] = jobs("build_index")
    phases = getattr(wl, "phases", [])
    for p in BUILD_PHASES:
        out[f"build.phase.{p}_s"] = _med([ph.get(p, 0.0) for ph in phases])
    out["build.skew_ratio"] = _med(getattr(wl, "skews", []))
    out["positions.build_s"] = _med(secs("build_positions"))
    out["positions.jobs"] = jobs("build_positions")
    if getattr(wl, "total_positions", 0):
        out["positions.bytes_per_position"] = (wl.positions_bytes
                                               / wl.total_positions)
    out["positions.phrase_jobs"] = jobs("phrase_search")
    out["positions.phrase_p50_ms"] = _med(secs("phrase_search")) * 1e3
    out["query.index_open_s"] = _med(secs("index_open"))
    s = wl.samples
    out["query.cpu_ms"] = _med(s.get("query_cpu_s", [])) * 1e3
    out["wall.index_docs_per_s"] = _med(s.get("docs_per_s", []))
    out["wall.freshness_s"] = _med(s.get("freshness_s", []))
    out["wall.query_p50_ms"] = _med(s.get("query_s", [])) * 1e3
    out["wall.query_p90_ms"] = _p(s.get("query_s", []), 90) * 1e3
    batch = _per_batch_query(s.get("batch_s", []))
    out["wall.batch_queries_per_s"] = 1 / batch if batch else 0.0
    out["query.lookup_us"] = wl.lookup_us()
    interactive = [sp for sp in _timed(wl, "search")
                   if sp.request != "verify"]
    q_jobs = [counts.get(sp.sid, {}).get("jobs", 0) for sp in interactive]
    if q_jobs:
        out["query.jobs_per_query"] = sum(q_jobs) / len(q_jobs)
        out["query.cache_miss_ratio"] = (sum(j > 0 for j in q_jobs)
                                         / len(q_jobs))
    out["query.batch_jobs"] = jobs("batch_search")
    out["query.batch_stages"] = _med([
        counts[sp.sid]["stages_planned"] for sp in _timed(wl, "batch_search")
        if sp.sid in counts])
    out["query.distributed_p50_ms"] = _med(secs("search_distributed")) * 1e3
    out["query.distributed_jobs"] = jobs("search_distributed")
    out["dedup.against_s"] = _med(secs("dedup_against"))
    out["dedup.jobs"] = jobs("dedup_against")
    out["dedup.kept_ratio"] = _med(wl.samples.get("kept_ratio", []))
    out["ingest.process_batch_s"] = _med(secs("process_batch"))
    out["ingest.process_batch_jobs"] = jobs("process_batch")
    out["segments.open_s"] = _med(secs("open_segments"))
    out["segments.n_segments"] = float(getattr(wl, "n_segments", 0))
    out["delete.s"] = _med(secs("delete_docs"))
    out["delete.jobs"] = jobs("delete_docs")
    out["merge.s"] = _med(secs("merge_indexes"))
    out["merge.jobs"] = jobs("merge_indexes")
    selfs = wl.tr.self_seconds()
    out["run.client_self_s"] = selfs.get("round", 0.0)
    out["trace.overhead_ratio"] = window_s / max(1e-9, window_s - own_s)
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}


def event_metrics(wl, work: dict) -> dict:
    """Stages, tasks, task seconds and shuffle bytes per call, medians
    over the calls of each public function."""
    def per_call(name, field):
        return _med([work.get(sp.group, {}).get(field, 0)
                     for sp in _timed(wl, name)])

    out = {
        "build.stages": per_call("build_index", "stages"),
        "build.tasks": per_call("build_index", "tasks"),
        "build.task_s": per_call("build_index", "task_s"),
        "build.shuffle_write_bytes": per_call("build_index",
                                              "shuffle_write_bytes"),
        "positions.shuffle_write_bytes": per_call("build_positions",
                                                  "shuffle_write_bytes"),
        "query.batch_task_s": per_call("batch_search", "task_s"),
        "query.batch_shuffle_bytes": per_call("batch_search",
                                              "shuffle_write_bytes"),
        "query.distributed_stages": per_call("search_distributed",
                                             "stages"),
        "dedup.task_s": per_call("dedup_against", "task_s"),
        "ingest.process_batch_task_s": per_call("process_batch", "task_s"),
        "merge.shuffle_write_bytes": per_call("merge_indexes",
                                              "shuffle_write_bytes"),
    }
    return {k: (float(v), PER_LAYER[k]) for k, v in out.items()}
