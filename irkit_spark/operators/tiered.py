"""Tiered serving: static impact pruning with an EXACT fallback.

Static index pruning (Ntoulas & Cho's correctness-guarantee pruning;
the impact-tier split in Strohman & Croft's tiered indexes) keeps, per
term, only the postings whose score contribution competes, and serves
most queries from that small tier. The classical forms trade
correctness for speed (pruned scores under-count, so rankings drift)
or bolt on a per-query guarantee check. This module keeps the cost
shape — a tier holding only the high-impact fraction of the index,
scanned first — but stays exact by using the tier for the one thing a
lossy subset CAN answer soundly: a LOWER bound on the true k-th best
score.

  tier  := per term, the blocks whose stored block-max tf_norm is
           >= kappa * (the term's global max tf_norm). Block-granular,
           so building it is a declarative Spark job over the blocks
           arrays (F.filter on nested structs) — postings are never
           decoded or re-encoded, and the tier keeps POSTINGS_SCHEMA
           so the unmodified shard kernel runs on it.

  serve := phase 1 runs the ordinary top-k kernel over the tier; each
           returned doc's tier score omits only NON-NEGATIVE
           contributions (pruned-away postings), so it under-counts:
           theta = the k-th best tier score is a sound lower bound on
           the true k-th best. Phase 2 re-runs the FULL index with
           theta carried into the kernel (run(theta0=...), "keep is
           >=") and with shards whose selective-search upper bound
           falls below theta skipped entirely — every true top-k doc
           scores >= true-kth >= theta, so it survives both cuts; the
           phase-1 scores themselves are DISCARDED (they under-count)
           and only phase-2's exact scores are ranked. Results are
           bit-identical to search(): same kernel, same scores, same
           doc_id tie-break.

Float safety: theta is a subset-sum of the same non-negative
contributions phase 2 sums, but in a different association, so the
full sum can land ulps BELOW the subset sum. theta is therefore
deflated by a 1e-9 relative slack (7 orders above ulp scale) before
either cut — the slack only ever admits MORE docs, never fewer.

Scale shape (the 100 TB story): the tier is the thing a serving
cluster keeps hot — at kappa=0.5 on Zipf text most blocks of every
head term fall away (a head term's tf_norm spread is wide), so the
tier is a small fraction of postings bytes while bounding theta
tightly; phase 2 then opens with a threshold that skips nearly every
block (the expensive scan does almost no decode) and skips whole
shard directories via the same partition-pruned selective cut.
Freshness follows shard_stats' rule: a tier older than the postings
commit is ignored (falls back to plain exact search — never a wrong
answer, only a slower one). BM25 only, like selective search (the
shard-bound cut and the tf_norm tier threshold are BM25 quantities);
quantized indexes work unchanged (block max_score is the quantized
impact bound there, and phase 2 inherits search()'s bound_slack
handling).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.operators.query import (Index, merge_topk, query_meta,
                                         serving_gates)
from irkit_spark.operators.selective import (_ESCALATE_EPS, _run_shards,
                                             shard_bounds)

TIER_NAME = "postings_tier"


def build_impact_tier(spark, path: str, kappa: float = 0.7,
                      table_format: str | None = None) -> dict:
    """Materialize the impact tier: per term, keep only the blocks
    with max_score >= kappa * (global per-term max tf_norm), written
    as a `postings_tier/` artifact (POSTINGS_SCHEMA, dir-partitioned
    by shard like postings). kappa in [0, 1]: 0 copies everything
    (tier == index), 1 keeps only each term's single best block(s).
    One declarative job: narrow (term_id, max_norm) groupBy for the
    per-term maxima (the blocks payload is never read for this), a
    vocab-gated broadcast join back, F.filter over the nested blocks
    arrays.

    Picking kappa: BM25's tf_norm saturates — with the frozen
    k1=0.9/b=0.4, a tf=1 posting in an average-length doc already
    norms to ~0.53 of the tf->inf ceiling — so the useful range is
    roughly [0.6, 1]: below ~0.55 nothing prunes on short-doc
    corpora (long docs norm lower, so web text prunes earlier). The
    0.7 default drops tf=1 blocks of head terms while keeping every
    block that could plausibly place a doc in a top-10. Row-level n_docs/max_norm/wire_bytes are recomputed from
    the retained blocks so the tier is internally consistent; cf keeps
    the FULL-index value (collection stats are properties of the
    corpus, not the tier). Returns {"rows", "blocks", "rows_full",
    "blocks_full"} for observability. Rebuild after any rebuild /
    merge / compact — a stale tier is ignored at query time."""
    if not (0.0 <= kappa <= 1.0):
        raise ValueError(f"kappa must be in [0, 1], got {kappa}")
    from irkit_spark.operators.build import POSTINGS_SCHEMA
    from irkit_spark.sources.catalog import read_artifact, write_artifact
    post = read_artifact(spark, path, "postings", POSTINGS_SCHEMA,
                         table_format)
    tmax = post.groupBy("term_id").agg(F.max("max_norm").alias("tmax"))
    if tmax.count() <= config.BROADCAST_VOCAB_MAX:
        tmax = F.broadcast(tmax)
    kept = (post.join(tmax, "term_id")
            .withColumn("blocks", F.filter(
                "blocks",
                lambda b: b["max_score"] >= F.lit(float(kappa))
                * F.col("tmax")))
            .filter(F.size("blocks") > 0))
    tier = kept.select(
        "term_id", "partition_id",
        F.aggregate("blocks", F.lit(0),
                    lambda acc, b: acc + b["n"]).alias("n_docs"),
        "cf",
        F.array_max("blocks.max_score").alias("max_norm"),
        F.aggregate(
            "blocks", F.lit(0).cast("long"),
            lambda acc, b: (acc + F.octet_length(b["doc_bytes"])
                            + F.octet_length(b["tf_bytes"]))
        ).alias("wire_bytes"),
        "blocks")
    write_artifact(tier, path, TIER_NAME, partition_by="partition_id",
                   fmt=table_format)
    full = post.select(F.count("*").alias("r"),
                       F.sum(F.size("blocks")).alias("b")).collect()[0]
    got = read_artifact(spark, path, TIER_NAME, POSTINGS_SCHEMA,
                        table_format)
    t = got.select(F.count("*").alias("r"),
                   F.sum(F.size("blocks")).alias("b")).collect()[0]
    return {"rows": int(t["r"]), "blocks": int(t["b"] or 0),
            "rows_full": int(full["r"]),
            "blocks_full": int(full["b"] or 0)}


def _tier_df(index: Index):
    """The tier when present AND at least as fresh as the postings
    commit; None otherwise (same freshness rule as shard_stats: local
    _SUCCESS mtimes, no signal means unused — a stale tier must never
    set theta, because its postings may describe documents the current
    index no longer holds)."""
    from irkit_spark.operators.build import POSTINGS_SCHEMA
    from irkit_spark.sources.catalog import read_artifact
    _, ver_tier = index._artifact_key(TIER_NAME)
    _, ver_post = index._artifact_key("postings")
    if ver_tier is None or ver_post is None or ver_tier < ver_post:
        return None
    return read_artifact(index.spark, index.path, TIER_NAME,
                         POSTINGS_SCHEMA, index._fmt)


def tiered_search(index: Index, query: str, k: int = 10,
                  mode: str = "wand", scorer: str = "bm25",
                  boosts: dict[str, float] | None = None,
                  stats: dict | None = None) -> DataFrame:
    """Exact top-k served tier-first — bit-identical to
    search(index, query, k, mode, scorer, local=False) (tested).
    Phase 1 runs the kernel over the impact tier to bootstrap theta
    (the k-th best tier score, a sound lower bound on the true k-th
    best); phase 2 re-runs the full index with theta carried in and
    sub-theta shards skipped outright, and only ITS exact scores are
    ranked. Without a fresh tier (never built, or older than the
    postings commit) this degrades to plain exact search — never a
    wrong answer. mode in {wand, maxscore} (the threshold-carrying
    kernels); scorer in {bm25, ql, jm} — theta stays sound for all
    three because a tier score omits only NON-NEGATIVE per-posting
    contributions (BM25's idf*tf_norm, QL's log1p(tf/(mu*p_t)), JM's
    log1p term; QL's doc-level adjustment is identical on both
    sides), even though the tier was SELECTED by BM25 impact — a
    BM25-shaped tier may bound a QL query more loosely, never
    unsoundly. The shard cut applies to bm25 only (the shard bounds
    are BM25 quantities); ql/jm carry theta into every shard instead
    (stats then reports shards_total = shards_searched = -1). Term
    boosts ride idf exactly as in search() (bm25 only, enforced by
    _boosted). Tombstones are masked in BOTH
    phases via the deletions broadcast (phase 1 must not let a deleted
    doc inflate theta past the best LIVE k-th score); a tombstone set
    above DEL_BROADCAST_MAX needs the cogrouped anti-join path — use
    search().

    Pass a dict as `stats` to receive {"tier_used", "theta",
    "shards_total", "shards_searched"} — the observable that the tier
    actually cut phase-2 work."""
    if mode not in ("wand", "maxscore"):
        raise ValueError(f"unknown mode {mode!r}: tiered search runs "
                         "the threshold-carrying kernels — "
                         "wand|maxscore")
    _, qmeta = query_meta(index, query, scorer, boosts)
    if not qmeta:
        return merge_topk(index.spark, [], k)
    gates = serving_gates(index, refuse_over="tiered search")

    tier = _tier_df(index)
    theta = -np.inf
    # phase 1 (tier kernel) and the shard-bound pass are independent
    # Spark jobs — submit the bound pass from a driver thread so its
    # scan overlaps phase 1 instead of serializing after it (guide
    # §2.6: actions are only sequential because driver code calls them
    # sequentially). The bound pass does not depend on theta; only the
    # CUT below does.
    bounds_f = None
    if scorer == "bm25":
        from concurrent.futures import ThreadPoolExecutor
        _ex = ThreadPoolExecutor(max_workers=1)
        bounds_f = _ex.submit(shard_bounds, index, qmeta)
        _ex.shutdown(wait=False)
    try:
        if tier is not None:
            rows1 = _run_shards(index, qmeta, k, mode, -np.inf, gates,
                                scorer, post=tier)
            if len(rows1) >= k:
                sc = rows1["score"].to_numpy()
                kth = float(np.partition(sc, sc.size - k)[sc.size - k])
                # deflate: theta must stay below the true k-th best
                # even though phase 2 sums MORE non-negative terms in
                # a different float association (see module doc)
                theta = kth - _ESCALATE_EPS * abs(kth)
    except BaseException:
        if bounds_f is not None:
            bounds_f.cancel()
        raise

    if scorer == "bm25":
        # shard-bound cut (BM25 quantities): skip shards that cannot
        # reach theta at all
        bounds = bounds_f.result()
        if not bounds:
            return merge_topk(index.spark, [], k)
        searched = [s for s, ub in bounds if ub >= theta]
        n_total, n_searched = len(bounds), len(searched)
    else:
        # ql/jm: no sound per-shard bound in the artifact — theta
        # still prunes blocks inside every shard
        searched = None
        n_total = n_searched = -1
    rows = _run_shards(index, qmeta, k, mode, theta, gates, scorer,
                       shards=searched)
    if stats is not None:
        stats.update({"tier_used": tier is not None,
                      "theta": theta,
                      "shards_total": n_total,
                      "shards_searched": n_searched})
    return merge_topk(index.spark, [rows], k)
