"""Selective search: shard-level resource selection with EXACT top-k.

At web scale the index has 10^4-10^6 doc-shards and most of them hold
no competitive document for a given query. Classic selective search
(Kulkarni & Callan's topic shards; Aly et al.'s Taily) ranks shards by
per-shard term statistics and searches only the most promising ones,
trading recall for cost. This module keeps that cost shape — a tiny
statistics pass, then only a few shard directories actually searched —
but stays exact, because the statistic it ranks by is a sound score
upper bound rather than a relevance estimate:

    UB_s = slack * sum over query terms t of
               idf_t * max over the term's blocks in shard s of
                           stored block-max tf_norm

which is precisely the quantity the WAND kernel bounds blocks with
(query._shard_core `bub`), maximized over the shard: no document in
shard s can score above UB_s (same invariant block-max WAND's
losslessness rests on; `slack` = the index's bound_slack, >= 1).

Two phases:
  1. search the m0 shards with the largest UB; theta = the k-th best
     EXACT score found (or -inf when fewer than k hits);
  2. escalate ONLY shards with UB_s >= theta, passing theta into the
     kernel as its carried threshold (run(theta0=...)) so their blocks
     are pruned on arrival; usually this set is empty.

Exactness, including tie-breaks: a document in an unsearched shard
lives where UB_s < theta, so it scores strictly below theta and cannot
displace any of the k docs that produced theta — even a score == theta
tie (which would win on doc_id) forces UB_s >= theta and hence a
phase-2 visit. The escalation compare carries a 1e-9 relative slack:
the shard bound is summed JVM-side in whatever order Catalyst picks,
the kernel's bounds in pinned numpy order, and float addition drifts
by ulps across associations — the slack (7 orders of magnitude above
ulp scale) only ever escalates MORE, never less.

Scale shape (the 10^12-doc serving story): the bound pass is a
term-pruned postings scan that reads ONLY partition_id, term_id and
blocks.max_score — Spark's nested-schema pruning keeps the posting
payload bytes (doc_bytes/tf_bytes, ~99% of the artifact) unread — and
aggregates to one row per touched shard before a driver collect of
n_shards floats. The phase jobs filter partition_id to the selected
shard list, which prunes the dir-partitioned postings scan to exactly
those directories. BM25 only (QL/JM shard bounds would need per-shard
doc-length extrema the artifact doesn't store); quantized indexes work
unchanged (their block max_score is the quantized-impact bound and
bound_slack covers the quantization gap, exactly as in search()).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irkit_spark.operators.query import (TOPK_SCHEMA, Index,
                                         _shard_kernel, merge_topk,
                                         query_meta, serving_gates,
                                         shard_plan)

# relative slack on the UB >= theta escalation compare (see module doc)
_ESCALATE_EPS = 1e-9

# the persisted selection-statistics artifact (build_shard_stats):
# Taily/shard-map analog — one float per (term, shard)
SHARD_STATS_SCHEMA = "term_id int, partition_id int, max_norm float"


def build_shard_stats(spark, path: str,
                      table_format: str | None = None) -> None:
    """Persist the per-(term, shard) block-max maxima as a dedicated
    `shard_stats/` artifact next to the index — the Taily-style shard
    map. shard_bounds then ranks shards from this table instead of the
    postings artifact: same values (it IS the same aggregate,
    materialized), but the selection pass scans a table that is
    ~n_vocab x n_shards skinny rows rather than the postings files'
    row-group footers — the shape you want resident/cached on a
    serving tier fronting 10^6 shards. Sound under later tombstones
    (deletions remove docs, bounds stay upper bounds); a rebuild into
    the same path overwrites postings with a NEWER commit mtime, so
    shard_bounds ignores an older shard_stats rather than serving
    stale bounds (rebuild it after a rebuild/merge/compact)."""
    from irkit_spark.sources.catalog import read_artifact, write_artifact
    post = read_artifact(spark, path, "postings", fmt=table_format)
    stats = post.select(
        "term_id", "partition_id",
        F.array_max("blocks.max_score").alias("max_norm"))
    write_artifact(stats, path, "shard_stats", fmt=table_format)


def _shard_stats_df(index: Index):
    """The shard_stats artifact when present AND at least as fresh as
    the postings commit; None otherwise (fall back to the postings
    scan). Freshness by local _SUCCESS mtimes, same signal the
    broadcast caches key on — unverifiable (no signal) means unused."""
    from irkit_spark.sources.catalog import read_artifact
    _, ver_stats = index._artifact_key("shard_stats")
    _, ver_post = index._artifact_key("postings")
    if ver_stats is None or ver_post is None or ver_stats < ver_post:
        return None
    return read_artifact(index.spark, index.path, "shard_stats",
                         SHARD_STATS_SCHEMA, index._fmt)


# above this many (query term, shard) rows the bound aggregation runs
# distributed (groupBy + collect of n_shards rows) instead of the
# driver-side fold below
_BOUND_DRIVER_MAX = 4_000_000


def shard_bounds(index: Index, qmeta: list[dict]) -> list[tuple[int, float]]:
    """[(partition_id, UB)] descending by UB (ties: shard ascending),
    one row per shard holding postings for ANY query term. One narrow
    Spark job: pruned shard_stats scan (or, without the artifact, a
    pruned postings scan reading only blocks.max_score), then —
    below _BOUND_DRIVER_MAX (term, shard) rows — the idf-weighted
    per-shard sum folds on the DRIVER over the collected narrow rows:
    same values (terms summed in ascending term_id order; the
    escalation compare already carries the float-association slack),
    one job with no exchange instead of the old broadcast-join +
    groupBy + collect chain, which paid an extra AQE job + shuffle per
    query. At 10^5-10^6 shards x many query terms the distributed
    aggregate below remains the plan."""
    spark = index.spark
    tids = [m["term_id"] for m in qmeta]
    stats = _shard_stats_df(index)
    if stats is not None:
        per_ts = (stats.filter(F.col("term_id").isin(tids))
                  .select("partition_id", "term_id",
                          F.col("max_norm").alias("mx")))
    else:
        per_ts = (index.postings
                  .filter(F.col("term_id").isin(tids))
                  .select("partition_id", "term_id",
                          F.array_max("blocks.max_score").alias("mx")))
    slack = float(index.bound_slack)
    n_shards = int(index.stats.get("n_shards", 0) or 0)
    if n_shards and n_shards * len(qmeta) <= _BOUND_DRIVER_MAX:
        idf_by = {int(m["term_id"]): float(m["idf"]) for m in qmeta}
        ub: dict[int, float] = {}
        rows = sorted(per_ts.collect(),
                      key=lambda r: (r["partition_id"], r["term_id"]))
        for r in rows:
            s = int(r["partition_id"])
            ub[s] = ub.get(s, 0.0) + idf_by[int(r["term_id"])] \
                * float(r["mx"])
        out = [(s, u * slack) for s, u in ub.items()]
        out.sort(key=lambda su: (-su[1], su[0]))
        return out
    qdf = spark.createDataFrame(
        [(int(m["term_id"]), float(m["idf"])) for m in qmeta],
        "term_id int, idf double")
    rows = (per_ts
            .join(F.broadcast(qdf), "term_id")
            .groupBy("partition_id")
            .agg(F.sum(F.col("idf") * F.col("mx")).alias("ub"))
            .collect())
    out = [(int(r["partition_id"]), float(r["ub"]) * slack)
           for r in rows]
    out.sort(key=lambda su: (-su[1], su[0]))
    return out


def _run_shards(index: Index, qmeta: list[dict], k: int, mode: str,
                theta0: float, gates: tuple, scorer: str = "bm25",
                post: DataFrame | None = None,
                shards: list[int] | None = None) -> pd.DataFrame:
    """One top-k kernel pass with a carried threshold theta0 over a
    POSTINGS_SCHEMA frame (`post`, default the full postings),
    partition-pruned to `shards` when given; returns the collected
    <= k-per-shard candidate rows for the driver-side global merge.
    `gates` is serving_gates' triple."""
    dl_bc, del_bc, _ = gates
    post = index.postings if post is None else post
    qpost = post.filter(F.col("term_id").isin(
        [m["term_id"] for m in qmeta]))
    if shards is not None:
        qpost = qpost.filter(F.col("partition_id").isin(
            [int(s) for s in shards]))
    kern = _shard_kernel(qmeta, index.avgdl, index.codec, k,
                         index.docs_per_shard, mode, scorer,
                         index.coll_len, index.bound_slack,
                         index.quantized, dl_bc=dl_bc, del_bc=del_bc)
    return shard_plan(index, qpost,
                      lambda *sides: kern(*sides, theta0=theta0),
                      TOPK_SCHEMA, dl_bc).toPandas()


def selective_search(index: Index, query: str, k: int = 10,
                     mode: str = "wand", m0: int = 2,
                     boosts: dict[str, float] | None = None,
                     stats: dict | None = None) -> DataFrame:
    """Exact top-k BM25 via shard selection — bit-identical to
    search(index, query, k, mode, local=False) (same scores, order and
    doc_id tie-breaks; tested), touching only the shards whose score
    upper bound competes. mode in {wand, maxscore} (the kernels that
    accept a carried threshold). m0 = how many shards phase 1 searches
    (>= 1); a larger m0 buys a tighter theta for phase 2 at the price
    of more certainly-searched shards. Term boosts (^ syntax or the
    boosts dict) ride idf exactly as in search(). Tombstoned docs are
    masked in-kernel via the deletions broadcast; a tombstone set
    above DEL_BROADCAST_MAX needs the cogrouped anti-join path —
    use search().

    Pass a dict as `stats` to receive {"shards_total", "shards_phase1",
    "shards_phase2", "theta"} — the observable that selection actually
    skipped work."""
    if mode not in ("wand", "maxscore"):
        raise ValueError(f"unknown mode {mode!r}: selective search "
                         "runs the threshold-carrying kernels — "
                         "wand|maxscore")
    if m0 < 1:
        raise ValueError("m0 must be >= 1")
    _, qmeta = query_meta(index, query, "bm25", boosts)
    if not qmeta:
        return merge_topk(index.spark, [], k)
    gates = serving_gates(index, refuse_over="selective search")

    bounds = shard_bounds(index, qmeta)
    if not bounds:
        return merge_topk(index.spark, [], k)
    phase1 = [s for s, _ in bounds[:m0]]
    rows = _run_shards(index, qmeta, k, mode, -np.inf, gates,
                       shards=phase1)
    theta = -np.inf
    if len(rows) >= k:
        sc = rows["score"].to_numpy()
        theta = float(np.partition(sc, sc.size - k)[sc.size - k])

    rest = bounds[m0:]
    escalate = [s for s, ub in rest
                if ub >= theta - _ESCALATE_EPS * abs(theta)]
    parts = [rows]
    if escalate:
        parts.append(_run_shards(index, qmeta, k, mode, theta, gates,
                                 shards=escalate))
    if stats is not None:
        stats.update({"shards_total": len(bounds),
                      "shards_phase1": len(phase1),
                      "shards_phase2": len(escalate),
                      "theta": theta})
    return merge_topk(index.spark, parts, k)
