"""Multi-segment serving: query across unmerged batch indexes.

irkit's incrementality is "build batch indexes, then k-way merge"
([pub:tools/irk-merge] — SURVEY.md §2.7): nothing is searchable until
the merge lands. Lucene serves the same situation by SEARCHING the
segments directly and merging in the background; this module is that
NRT-serving analog for the Spark layout. `SegmentedIndex` federates
batch indexes that share the contract every merge input already obeys
(streaming/ingest.py, operators/update.py deltas): disjoint dense
doc-id spaces, one shared lexicon (term ids align), identical layout
(codec / block size / docs_per_shard / extractor / quantized).

What makes the federation exact — searching segments is
VALUE-IDENTICAL to searching merge_indexes() of them
(tests/test_segments.py):

  * postings: a plain union. A boundary shard holds one row per
    segment for the same term; the shard kernel sorts the combined
    block list by first_doc (disjoint ranges -> globally ascending),
    which is the only invariant the modes need.
  * stats: n_docs / coll_len sum across segments — exactly what the
    merged docs-table aggregate would produce; avgdl derives.
  * idf: lookup_query computes idf FROM df at query time, and the
    federated terms table sums df/cf per term — so scores use the
    same global stats the merged index would record.
  * bounds: per-block max_scores were encoded under each segment's
    build-time avgdl; serving avgdl differs, so bound_slack =
    max(segment slacks, avgdl_serving / min segment avgdl) — the
    merge's own drift argument — keeps WAND/max-score lossless.
  * tombstones: the union of every segment's deletions/ artifact.

Positions-backed ops (phrase_search, snippets) need a physically
merged positions artifact and raise here — run merge_indexes first
(the artifact's group-merge is a real rewrite, not a view).

Scale shape: constructing a handle does ONE stats read per segment
plus a vocab-shaped terms aggregation (lazy DataFrame; the driver
dict gate applies as usual). Queries pay exactly the single-index
plans — the pruned postings scan just spans k directories. Serve few,
large segments: every query term contributes up to one postings row
per segment per shard, so keep the segment count bounded (merge on a
schedule) exactly as Lucene's tiered merge policy does.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.operators.query import Index


class SegmentedIndex(Index):
    """Index-compatible handle over several batch index dirs. Every
    query path (search incl. exclude_terms/doc_filter, batch_search,
    prefix_search, local serving, lookups) works unchanged — the
    class only redefines where the tables come from."""

    def __init__(self, spark: SparkSession, paths: list[str],
                 dl_broadcast_max: int | None = None,
                 table_format: str | None = None):
        from irkit_spark.operators.build import (DOCS_TABLE_SCHEMA,
                                                 POSTINGS_SCHEMA,
                                                 TERMS_TABLE_SCHEMA)
        from irkit_spark.sources.catalog import read_artifact
        if not paths:
            raise ValueError("need at least one segment")
        if len(set(os.path.abspath(p) for p in paths)) != len(paths):
            raise ValueError("duplicate segment paths")
        self.spark = spark
        self.paths = list(paths)
        self.path = "::".join(paths)        # cache-key identity only
        self._fmt = table_format

        stats = [read_artifact(spark, p, "stats",
                               fmt=table_format).collect()[0]
                 for p in paths]
        d0 = stats[0].asDict()
        layout = lambda s: (s["codec"], int(s["block_size"]),
                            int(s["docs_per_shard"]),
                            bool(s.asDict().get("quantized", False)),
                            s.asDict().get("extractor", "frozen"))
        for s in stats[1:]:
            if layout(s) != layout(stats[0]):
                raise ValueError(
                    "segments built with different layouts "
                    f"({layout(stats[0])} vs {layout(s)}) — they "
                    "cannot serve together (same rule as merge)")
        self.codec = d0["codec"]
        self.block_size = int(d0["block_size"])
        self.docs_per_shard = int(d0["docs_per_shard"])
        self.quantized = bool(d0.get("quantized", False))

        def _union(name, schema):
            dfs = [read_artifact(spark, p, name, schema, table_format)
                   for p in paths]
            out = dfs[0]
            for b in dfs[1:]:
                out = out.unionByName(b)
            return out

        self.postings = _union("postings", POSTINGS_SCHEMA)
        self.docs = _union("docs", DOCS_TABLE_SCHEMA)
        # serving stats from ONE narrow docs aggregate — the same
        # numbers merge_indexes would record. (A batch index's own
        # stats can't be summed: under global_stats= it stores the
        # RUNNING global n_docs but the batch-local coll_len.)
        g = self.docs.agg(F.count("*").alias("n"),
                          F.sum("doc_len").alias("l")).collect()[0]
        self.n_docs = int(g["n"])
        self.coll_len = int(g["l"] or 0)
        self.avgdl = (self.coll_len / self.n_docs if self.n_docs
                      else 1.0)
        # WAND soundness under avgdl drift across segments: the same
        # slack argument operators/merge.py records for pass-through
        # rows (tf_norm grows at most by avgdl_serving/avgdl_segment;
        # a segment's stats avg_doc_len IS the avgdl its blocks were
        # encoded under, whether batch-local or a passed running value)
        seg_slacks = [float(s.asDict().get("bound_slack", 1.0))
                      for s in stats]
        min_avgdl = min(float(s["avg_doc_len"]) for s in stats)
        self.bound_slack = max(max(seg_slacks),
                               max(1.0, self.avgdl / min_avgdl
                                   if min_avgdl else 1.0))
        # each segment's n_shards covers shard ids 0..its own max doc
        # id, so the union's is the largest (what merge_indexes records)
        self.stats = dict(d0, n_docs=self.n_docs,
                          n_shards=max(int(s.asDict().get("n_shards") or 0)
                                       for s in stats),
                          coll_len=self.coll_len,
                          avg_doc_len=self.avgdl,
                          bound_slack=self.bound_slack,
                          n_segments=len(paths))
        # per-segment terms carry SEGMENT-LOCAL df/cf (the merge sums
        # them); idf is computed from df at lookup time, so summing
        # here makes every score use the federated global stats.
        # max_score is display-only (kernels bound from block maxes);
        # recompute it from the summed df for consistency.
        t = _union("terms", TERMS_TABLE_SCHEMA)
        tsum = (t.groupBy("term_id", "term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
                     F.max("max_score").alias("seg_max")))
        self.terms = (tsum.withColumn(
            "max_score",
            (F.log1p((F.lit(float(self.n_docs)) - F.col("df") + 0.5)
                     / (F.col("df") + 0.5))
             * F.col("seg_max")).cast("float"))
            .select("term_id", "term", "df", "cf", "max_score"))

        self._dl_cap = (dl_broadcast_max
                        if dl_broadcast_max is not None
                        else config.DL_BROADCAST_MAX)
        self._dl_bc = None
        self._del_bc = None
        self._post_local = None
        self._dec_cache = None

    # versions: the joint tuple of per-segment commit mtimes (None if
    # ANY segment lacks a signal -> caches bypass, never stale)
    def _artifact_key(self, name: str):
        vers = []
        for p in self.paths:
            try:
                vers.append(os.path.getmtime(
                    os.path.join(p, name, "_SUCCESS")))
            except OSError:
                vers.append(-1.0)   # absent artifact (e.g. deletions)
        ver = tuple(vers) if any(v >= 0 for v in vers) else None
        return ((self.spark.sparkContext.applicationId, self.path,
                 name), ver)

    def has_deletions(self) -> bool:
        from irkit_spark.operators.delete import has_deletions
        return any(has_deletions(self.spark, p, self._fmt)
                   for p in self.paths)

    def deletions_df(self):
        from irkit_spark.operators.delete import (has_deletions,
                                                  read_deletions)
        out = None
        for p in self.paths:
            if has_deletions(self.spark, p, self._fmt):
                b = read_deletions(self.spark, p, self._fmt)
                out = b if out is None else out.unionByName(b)
        return out


def open_segments(spark: SparkSession, out_dir: str,
                  table_format: str | None = None) -> SegmentedIndex:
    """Serve a streaming-ingest directory WITHOUT waiting for (or
    re-running) the merge: reads the batch list the ingest state
    tracks (streaming/ingest.py counters.json) and federates it. The
    NRT pattern: ingest with merge=False on every micro-batch, serve
    through this handle, merge on a schedule."""
    from irkit_spark.streaming.ingest import _load_counters
    c = _load_counters(out_dir)
    if not c["batches"]:
        raise ValueError(f"no ingested batches under {out_dir!r}")
    return SegmentedIndex(spark, list(c["batches"]),
                          table_format=table_format)
