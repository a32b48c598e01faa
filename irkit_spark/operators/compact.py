"""Index compaction: physically remove tombstoned docs.

The second half of the delete story (operators/delete.py): tombstones
are selection-only (global stats frozen at build, the Lucene
contract); compaction rewrites the index as if it had been built over
the surviving docs — postings decoded, deleted docs dropped,
re-encoded with the RECOMPUTED collection stats (n_docs, avgdl, df,
cf, per-block max_score, idf), vanished terms dropped from the terms
table, the positions artifact (when present) filtered the same way,
and no deletions/ artifact in the output. The result is equivalent to
a fresh build of the surviving corpus: postings/positions are
byte-identical per term (term IDS may differ — a fresh build numbers
only the surviving vocabulary; tests compare by term string), docs /
stats / terms values are equal (tests/test_compact.py).

Plan shape (same as merge_indexes): one cogroup of postings with the
surviving docs per shard, whose Arrow kernel decodes all of the
shard's rows together and re-encodes the survivors in ONE
build.encode_region call — membership doubles as the delete test (a
doc with postings has doc_len >= 1, so dl == 0 <=> not in the
surviving docs side) — plus one narrow terms re-aggregation. No
corpus shuffle beyond the postings rewrite itself; only shards with
data move.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from irkit_spark.functions.codecs import varbyte_encode
from irkit_spark.functions.scoring import bm25_tf_norm
from irkit_spark.operators.build import (POSTINGS_ARROW, POSTINGS_SCHEMA,
                                         encode_postings)
from irkit_spark.operators.merge import _decode_shard


def _compact_kernel(avgdl: float, codec: str, block_size: int,
                    docs_per_shard: int):
    """Per-shard postings rewrite: decode, drop docs absent from the
    surviving docs side, re-encode with the new avgdl. Every row is
    re-encoded (no pass-through): block max_score depends on avgdl,
    which compaction changes, so bounds must be recomputed to stay
    exact (bound_slack resets to 1.0)."""

    def run(key, post: pa.Table, docs: pa.Table) -> pa.Table:
        t, d, tf, dl, _ = _decode_shard(post, docs, key[0].as_py(), codec,
                                        docs_per_shard)
        keep = dl > 0          # dl==0 <=> deleted (postings => dl>=1)
        t, d, tf, dl = t[keep], d[keep], tf[keep], dl[keep]
        return pa.Table.from_batches(
            list(encode_postings(t, d, tf, bm25_tf_norm(tf, dl, avgdl),
                                 codec=codec, block_size=block_size,
                                 docs_per_shard=docs_per_shard)),
            schema=POSTINGS_ARROW)

    return run


def _compact_positions_kernel(docs_per_shard: int):
    """Per-shard positions rewrite: decode the per-doc streams, drop
    deleted docs, re-delta and re-encode — identical wire layout to a
    fresh build_positions over the surviving corpus (first doc gap 0,
    per-doc position gaps with an absolute first)."""
    from irkit_spark.operators.positions import decode_positions_row

    empty = pd.DataFrame({
        "term_id": pd.Series([], dtype="int32"),
        "partition_id": pd.Series([], dtype="int32"),
        "n_docs": pd.Series([], dtype="int32"),
        "cf": pd.Series([], dtype="int64"),
        "first_doc": pd.Series([], dtype="int64"),
        "doc_bytes": pd.Series([], dtype="object"),
        "cnt_bytes": pd.Series([], dtype="object"),
        "pos_bytes": pd.Series([], dtype="object")})

    def run(pos_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        if pos_pdf.empty:
            return empty
        shard = int(pos_pdf["partition_id"].iloc[0])
        base = shard * docs_per_shard
        present = np.zeros(docs_per_shard, dtype=bool)
        if not docs_pdf.empty:
            present[docs_pdf["doc_id"].to_numpy() - base] = True
        for _, r in pos_pdf.iterrows():
            docs, cnts, offs, pos_flat = decode_positions_row(r)
            keep = present[docs - base]
            if not keep.any():
                continue
            kd = docs[keep]
            kc = cnts[keep]
            total = int(kc.sum())
            # gather kept docs' position slices in one fancy index
            sstart = offs[:-1][keep]
            ramp = (np.arange(total, dtype=np.int64)
                    - np.repeat(np.concatenate(
                        ([0], np.cumsum(kc[:-1]))), kc))
            kp = pos_flat[np.repeat(sstart, kc) + ramp]
            starts = np.zeros(kd.size, dtype=np.int64)
            np.cumsum(kc[:-1], out=starts[1:])
            gaps = np.empty(total, dtype=np.int64)
            gaps[1:] = kp[1:] - kp[:-1]
            gaps[starts] = kp[starts]      # absolute at each doc start
            first = int(kd[0])
            dgaps = np.diff(kd, prepend=first).astype(np.uint64)
            rows.append({
                "term_id": int(r["term_id"]),
                "partition_id": shard,
                "n_docs": int(kd.size),
                "cf": total,
                "first_doc": first,
                "doc_bytes": varbyte_encode(dgaps),
                "cnt_bytes": varbyte_encode(kc.astype(np.uint64)),
                "pos_bytes": varbyte_encode(gaps.astype(np.uint64))})
        return pd.DataFrame(rows) if rows else empty

    return run


def compact_index(spark: SparkSession, in_dir: str, out_dir: str,
                  table_format: str | None = None) -> dict:
    """Write a compacted copy of the index at `in_dir` to `out_dir`
    (never in place — the tombstoned index stays queryable until the
    caller swaps). With no deletions this is a plain stats-exact
    rewrite. Quantized indexes are refused: their payload is the
    7-bit impact computed from build-time stats, and the tf needed to
    re-quantize under the new stats is gone — rebuild from source."""
    from irkit_spark.operators.delete import has_deletions
    from irkit_spark.sources.catalog import (artifact_exists,
                                             artifact_format,
                                             read_artifact, write_artifact)
    fmt = artifact_format(table_format)
    if os.path.abspath(in_dir) == os.path.abspath(out_dir):
        raise ValueError("compact_index writes a new index dir; "
                         "in_dir and out_dir must differ")
    t0 = time.monotonic()
    st = read_artifact(spark, in_dir, "stats", fmt=fmt).collect()[0]
    std = st.asDict()
    if bool(std.get("quantized", False)):
        raise ValueError(
            "cannot compact a quantized index: impacts were quantized "
            "against build-time collection stats and tf is not stored "
            "— rebuild from source with quantize=False or re-quantize "
            "from a fresh build")
    codec = st["codec"]
    block_size = int(st["block_size"])
    dps = int(st["docs_per_shard"])
    if fmt != "iceberg":
        os.makedirs(out_dir, exist_ok=True)

    docs = read_artifact(spark, in_dir, "docs", fmt=fmt)
    n_del = 0
    if has_deletions(spark, in_dir, fmt):
        from irkit_spark.operators.delete import read_deletions
        dels = read_deletions(spark, in_dir, fmt)
        n_del = dels.count()
        docs = docs.join(dels.select("doc_id"), "doc_id", "left_anti")
    write_artifact(docs.select("doc_id", "url", "doc_len",
                               "partition_id"),
                   out_dir, "docs", partition_by="partition_id", fmt=fmt)
    docs = read_artifact(spark, out_dir, "docs", fmt=fmt)
    g = docs.agg(F.count("*").alias("n"), F.sum("doc_len").alias("l"),
                 F.max("doc_id").alias("mx")).collect()[0]
    n_docs, coll_len = int(g["n"]), int(g["l"] or 0)
    avgdl = coll_len / n_docs if n_docs else 1.0
    n_shards = max(1, math.ceil((int(g["mx"] or 0) + 1) / dps))

    post = read_artifact(spark, in_dir, "postings", fmt=fmt)
    if "max_norm" not in post.columns:
        raise ValueError("pre-max_norm postings layout — rebuild the "
                         "index before compacting")
    kern = _compact_kernel(avgdl, codec, block_size, dps)
    docs_nar = docs.select("partition_id", "doc_id", "doc_len")
    compacted = (post.groupBy("partition_id")
                 .cogroup(docs_nar.groupBy("partition_id"))
                 .applyInArrow(kern, POSTINGS_SCHEMA))
    write_artifact(compacted.repartition("partition_id")
                   .sortWithinPartitions("term_id"),
                   out_dir, "postings", partition_by="partition_id",
                   fmt=fmt)
    postings = read_artifact(spark, out_dir, "postings", fmt=fmt)

    # terms: df/cf/max_score re-aggregated from the compacted
    # postings; terms whose postings vanished entirely drop out (a
    # fresh build of the survivors would never see them)
    terms_in = read_artifact(spark, in_dir, "terms", fmt=fmt)
    tsum = (postings.groupBy("term_id")
            .agg(F.sum("n_docs").alias("df"), F.sum("cf").alias("cf"),
                 F.max("max_norm").alias("max_norm")))
    terms_final = (tsum.join(terms_in.select("term_id", "term"),
                             "term_id")
                   .withColumn("idf", F.log1p(
                       (F.lit(float(n_docs)) - F.col("df") + 0.5)
                       / (F.col("df") + 0.5)))
                   .withColumn("max_score",
                               (F.col("idf")
                                * F.col("max_norm")).cast("float"))
                   .select("term_id", "term", "df", "cf", "max_score"))
    write_artifact(terms_final, out_dir, "terms", fmt=fmt)

    if artifact_exists(spark, in_dir, "positions", fmt=fmt):
        from irkit_spark.operators.positions import (POS_SCHEMA,
                                                     read_positions)
        pkern = _compact_positions_kernel(dps)
        pos = read_positions(spark, in_dir, fmt)
        cpos = (pos.groupBy("partition_id")
                .cogroup(docs_nar.groupBy("partition_id"))
                .applyInPandas(lambda lt, rt: pkern(lt, rt), POS_SCHEMA))
        write_artifact(cpos.repartition("partition_id")
                       .sortWithinPartitions("term_id"),
                       out_dir, "positions",
                       partition_by="partition_id", fmt=fmt)

    wall_ms = int((time.monotonic() - t0) * 1000)
    shard_m = (postings.groupBy("partition_id")
               .agg(F.sum("n_docs").alias("postings_cnt"),
                    F.sum("wire_bytes").alias("bytes"))
               .collect())
    total_postings = sum(int(r["postings_cnt"]) for r in shard_m)
    cnts = sorted(r["postings_cnt"] for r in shard_m) or [0]
    med = cnts[len(cnts) // 2] or 1
    from irkit_spark.sources.catalog import write_artifact_driver
    lineage_tbl = pa.table({
        "partition_id": pa.array([int(r["partition_id"])
                                  for r in shard_m], pa.int32()),
        "status": pa.array(["done"] * len(shard_m), pa.string()),
        "postings_cnt": pa.array([int(r["postings_cnt"])
                                  for r in shard_m], pa.int64()),
        "bytes": pa.array([int(r["bytes"]) for r in shard_m],
                          pa.int64()),
        "skew_ratio": pa.array([float(r["postings_cnt"] / med)
                                for r in shard_m], pa.float64()),
        "wall_ms": pa.array([wall_ms] * len(shard_m), pa.int64()),
        "attempt": pa.array([1] * len(shard_m), pa.int32()),
    })
    write_artifact_driver(spark, lineage_tbl, out_dir, "lineage",
                          fmt=fmt)
    from datetime import datetime, timezone
    stats_tbl = pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avg_doc_len": pa.array([float(avgdl)], pa.float64()),
        "coll_len": pa.array([int(coll_len)], pa.int64()),
        "total_postings": pa.array([int(total_postings)], pa.int64()),
        "codec": pa.array([codec], pa.string()),
        "block_size": pa.array([int(block_size)], pa.int32()),
        "docs_per_shard": pa.array([int(dps)], pa.int32()),
        "n_shards": pa.array([int(n_shards)], pa.int32()),
        "wall_ms": pa.array([wall_ms], pa.int64()),
        # every block re-encoded against the final avgdl: exact bounds
        "bound_slack": pa.array([1.0], pa.float64()),
        "quantized": pa.array([False], pa.bool_()),
        "extractor": pa.array([std.get("extractor", "frozen")],
                              pa.string()),
        "built_at": pa.array([datetime.now(timezone.utc)],
                             pa.timestamp("us", tz="UTC")),
    })
    write_artifact_driver(spark, stats_tbl, out_dir, "stats", fmt=fmt)
    return {"n_docs": n_docs, "n_deleted_dropped": int(n_del),
            "total_postings": int(total_postings),
            "wall_ms": wall_ms, "n_shards": n_shards}
