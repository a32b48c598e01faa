"""Multi-way index merge (SURVEY.md §2.7 U1, BASELINE.json:6
"multi-way partition merges").

Re-expresses irkit's k-way batch-index merger
([pub:include/irkit/index/merger.hpp, tools/irk-merge]) over the
doc-sharded Spark layout. Contract: batch indexes share the doc-id
space (disjoint docs, global dense ids), a shared lexicon, and global
scoring stats (build_index(shared_lexicon=, global_stats=)) — the Spark
analog of irkit's docID-remap-free merge, which global ID assignment
makes possible (SURVEY.md U1).

Merge plan (one narrow shuffle):
  postings := unionByName(batch postings)
  cogroup by partition_id with the merged docs table (for doc lengths),
  one Arrow kernel per shard —
    single source row  -> pass through untouched (no decode; the common
                          case when batches were doc-range partitioned)
    multiple rows      -> decoded together, sorted by (term, doc) and
                          re-encoded in ONE build.encode_region call with
                          exact per-block max tf_norm (doc lengths are
                          in-shard, avgdl is a broadcast scalar)
  terms := re-aggregate df/cf sums per term_id; max_score from merged
           block maxes (same formula as build stage 4)
Result is byte-identical to a single-shot build of the union
(tested in tests/test_merge_resume.py).
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from irkit_spark.functions.scoring import bm25_tf_norm
from irkit_spark.operators.build import (POSTINGS_ARROW, POSTINGS_SCHEMA,
                                         encode_postings)
from irkit_spark.operators.query import _decode_row_blocks


def _decode_shard(post: pa.Table, docs: pa.Table, shard: int, codec: str,
                  docs_per_shard: int):
    """One shard's postings rows + docs rows -> per-posting arrays
    (term_id, doc_id i64, payload u64, doc_len f64; a doc absent from
    `docs` has doc_len 0) and each row's first posting index. All rows'
    blocks decode in one _decode_row_blocks call."""
    d, payload = _decode_row_blocks(
        post.column("blocks").combine_chunks().flatten().to_pylist(), codec)
    d = d.astype(np.int64)
    n = post.column("n_docs").to_numpy()
    first = np.zeros(n.size, dtype=np.int64)
    np.cumsum(n[:-1], out=first[1:])
    base = shard * docs_per_shard
    dl_arr = np.zeros(docs_per_shard, dtype=np.float64)
    dl_arr[docs.column("doc_id").to_numpy() - base] = \
        docs.column("doc_len").to_numpy()
    return (np.repeat(post.column("term_id").to_numpy(), n), d, payload,
            dl_arr[d - base], first)


def _merge_kernel(avgdl: float, codec: str, block_size: int,
                  docs_per_shard: int, quantized: bool = False):
    def run(key, post: pa.Table, docs: pa.Table) -> pa.Table:
        _, inv, cnt = np.unique(post.column("term_id").to_numpy(),
                                return_inverse=True, return_counts=True)
        multi = cnt[inv] > 1
        parts = [post.filter(pa.array(~multi))
                 .select(POSTINGS_ARROW.names).cast(POSTINGS_ARROW)]
        if multi.any():
            post = post.filter(pa.array(multi))
            t, d, payload, dl, first = _decode_shard(
                post, docs, key[0].as_py(), codec, docs_per_shard)
            # payload IS the 7-bit impact when quantized: block max =
            # max(q)/127
            tf_norm = (payload / 127.0 if quantized
                       else bm25_tf_norm(payload, dl, avgdl))
            # cf from the input rows' aggregates, NOT the decoded payload
            # (which is the impact, not tf, when quantized)
            cf = np.zeros(d.size, dtype=np.int64)
            cf[first] = post.column("cf").to_numpy()
            parts.append(pa.Table.from_batches(list(encode_postings(
                t, d, payload, tf_norm, cf, codec=codec,
                block_size=block_size, docs_per_shard=docs_per_shard)),
                schema=POSTINGS_ARROW))
        # the shard file keeps this row order: term order, as in a
        # single-shot build's shard file
        return pa.concat_tables(parts).sort_by("term_id")

    return run


def merge_indexes(spark: SparkSession, in_dirs: list[str],
                  out_dir: str, table_format: str | None = None,
                  resume: bool = False) -> dict:
    """table_format (parquet default / 'iceberg', $IRKIT_TABLE_FORMAT)
    governs the merged artifacts exactly like build_index's knob; under
    iceberg, in_dirs/out_dir are catalog namespaces.

    resume=True: artifact-level checkpointing for the 10^12-doc case
    where a merge is itself a multi-hour job. Each completed artifact
    (docs, postings, terms) is recorded in `_merge_manifest.json`
    AFTER its write returns, so a crash mid-write is never marked done
    and the re-run rewrites exactly the unfinished artifacts (the
    in_dirs list is pinned in the manifest — different inputs start
    fresh). The final stats artifact doubles as the completion marker
    and the manifest is removed on success. Parquet only (an Iceberg
    catalog gets atomic table commits from the format itself)."""
    import json as _json

    from irkit_spark.sources.catalog import (artifact_format,
                                             read_artifact, write_artifact)
    fmt = artifact_format(table_format)
    if fmt == "iceberg":
        from irkit_spark.sources.catalog import iceberg_available
        if not iceberg_available(spark):
            raise RuntimeError(
                "table_format=iceberg but no Iceberg extension is "
                "configured on this session")
        if resume:
            raise ValueError("resume=True is parquet-only; Iceberg "
                             "merges get atomic commits from the "
                             "catalog")
    t0 = time.monotonic()
    if fmt != "iceberg":
        os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, name)

    manifest_path = p("_merge_manifest.json")
    done: set[str] = set()
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            man = _json.load(f)
        if man.get("in_dirs") == list(in_dirs):
            done = set(man.get("done", []))
    skipped = sorted(done)          # stages already complete at entry

    def _mark_stage(stage: str):
        if fmt == "iceberg":
            return
        done.add(stage)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"in_dirs": list(in_dirs),
                        "done": sorted(done)}, f)
        os.replace(tmp, manifest_path)

    stats = [read_artifact(spark, d, "stats", fmt=fmt).collect()[0]
             for d in in_dirs]
    codec = stats[0]["codec"]
    block_size = int(stats[0]["block_size"])
    docs_per_shard = int(stats[0]["docs_per_shard"])
    quantized = bool(stats[0].asDict().get("quantized", False))
    # pre-knob indexes (no extractor column) were all built frozen
    extractor = stats[0].asDict().get("extractor", "frozen")
    for s in stats[1:]:
        if (s["codec"], int(s["block_size"]), int(s["docs_per_shard"]),
                bool(s.asDict().get("quantized", False)),
                s.asDict().get("extractor", "frozen")) != \
                (codec, block_size, docs_per_shard, quantized, extractor):
            raise ValueError("batch indexes built with different layouts")

    if "docs" not in done:
        docs = None
        for d in in_dirs:
            b = read_artifact(spark, d, "docs", fmt=fmt)
            docs = b if docs is None else docs.unionByName(b)
        write_artifact(docs, out_dir, "docs", partition_by="partition_id",
                       fmt=fmt)
        _mark_stage("docs")
    docs = read_artifact(spark, out_dir, "docs", fmt=fmt)
    g = docs.agg(F.count("*").alias("n"), F.sum("doc_len").alias("l"),
                 F.max("doc_id").alias("mx")).collect()[0]
    n_docs, coll_len = int(g["n"]), int(g["l"] or 0)
    avgdl = coll_len / n_docs if n_docs else 1.0
    n_shards = max(1, math.ceil((int(g["mx"] or 0) + 1) / docs_per_shard))

    if "postings" not in done:
        post = None
        for d in in_dirs:
            b = read_artifact(spark, d, "postings", fmt=fmt)
            if "max_norm" not in b.columns:
                raise ValueError(
                    f"batch index at {d!r} uses the pre-max_norm postings "
                    f"layout — rebuild it before merging")
            post = b if post is None else post.unionByName(b)
        kern = _merge_kernel(avgdl, codec, block_size, docs_per_shard,
                             quantized)
        merged = (post.groupBy("partition_id")
                  .cogroup(docs.select("partition_id", "doc_id", "doc_len")
                           .groupBy("partition_id"))
                  .applyInArrow(kern, POSTINGS_SCHEMA))
        write_artifact(merged.repartition("partition_id")
                       .sortWithinPartitions("term_id"),
                       out_dir, "postings", partition_by="partition_id",
                       fmt=fmt)
        _mark_stage("postings")
    postings = read_artifact(spark, out_dir, "postings", fmt=fmt)

    # terms: df/cf sums across batches (disjoint docs), fresh max_score
    if "terms" not in done:
        terms = None
        for d in in_dirs:
            b = read_artifact(spark, d, "terms", fmt=fmt)
            terms = b if terms is None else terms.unionByName(b)
        tsum = (terms.groupBy("term_id", "term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")))
        per_term_max = (postings
                        .select("term_id", F.col("max_norm").alias("mx"))
                        .groupBy("term_id")
                        .agg(F.max("mx").alias("max_norm")))
        terms_final = (tsum.join(per_term_max, "term_id", "left")
                       .withColumn("idf", F.log1p(
                           (F.lit(float(n_docs)) - F.col("df") + 0.5)
                           / (F.col("df") + 0.5)))
                       .withColumn("max_score",
                                   (F.col("idf") * F.coalesce(
                                       "max_norm",
                                       F.lit(0.0))).cast("float"))
                       .select("term_id", "term", "df", "cf",
                               "max_score"))
        write_artifact(terms_final, out_dir, "terms", fmt=fmt)
        _mark_stage("terms")

    # positions (opt-in artifact): merged when EVERY input carries it;
    # a mixed set would leave the merged index silently phrase-blind
    # for some batches' docs — fail loudly instead
    from irkit_spark.sources.catalog import artifact_exists
    have_pos = [artifact_exists(spark, d, "positions", fmt=fmt)
                for d in in_dirs]
    if any(have_pos):
        if not all(have_pos):
            missing = [d for d, h in zip(in_dirs, have_pos) if not h]
            raise ValueError(
                "some batch indexes carry a positions/ artifact and "
                f"some do not ({missing!r}): run build_positions on "
                "the missing batches first, or merge without any")
        if "positions" not in done:
            from irkit_spark.operators.positions import merge_positions
            merge_positions(spark, in_dirs, out_dir,
                            table_format=table_format)
            _mark_stage("positions")

    # deletions (tombstones): batch doc-id spaces are disjoint, so the
    # merged tombstone set is the plain union of the inputs'
    from irkit_spark.operators.delete import has_deletions as _has_del
    have_del = [_has_del(spark, d, fmt) for d in in_dirs]
    if any(have_del) and "deletions" not in done:
        from irkit_spark.operators.delete import read_deletions
        dels = None
        for d, h in zip(in_dirs, have_del):
            if h:
                b = read_deletions(spark, d, fmt)
                dels = b if dels is None else dels.unionByName(b)
        write_artifact(dels.distinct(), out_dir, "deletions",
                       partition_by="partition_id", fmt=fmt)
        _mark_stage("deletions")

    wall_ms = int((time.monotonic() - t0) * 1000)
    # one scan: total postings derives from the per-shard aggregation
    shard_m = (postings.groupBy("partition_id")
               .agg(F.sum("n_docs").alias("postings_cnt"),
                    F.sum("wire_bytes").alias("bytes"))
               .collect())
    total_postings = sum(int(r["postings_cnt"]) for r in shard_m)
    cnts = sorted(r["postings_cnt"] for r in shard_m) or [0]
    med = cnts[len(cnts) // 2] or 1
    # lineage/stats rows are driver-local: pyarrow write, no Spark jobs
    # (same rationale as build stage 5)
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
    # WAND soundness under incremental avgdl drift: batch indexes store
    # per-block max tf_norm computed with THEIR avgdl; tf_norm grows at
    # most by avgdl_final/avgdl_batch when avgdl grows, so this slack
    # multiplier keeps merged bounds as true upper bounds (pass-through
    # rows keep batch-time bounds; re-encoded rows use final avgdl).
    batch_slacks = [float(s["bound_slack"])
                    if "bound_slack" in s.asDict() else 1.0 for s in stats]
    min_batch_avgdl = min(float(s["avg_doc_len"]) for s in stats)
    slack = max(max(batch_slacks),
                max(1.0, avgdl / min_batch_avgdl if min_batch_avgdl else 1.0))
    from datetime import datetime, timezone
    stats_tbl = pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avg_doc_len": pa.array([float(avgdl)], pa.float64()),
        "coll_len": pa.array([int(coll_len)], pa.int64()),
        "total_postings": pa.array([int(total_postings)], pa.int64()),
        "codec": pa.array([codec], pa.string()),
        "block_size": pa.array([int(block_size)], pa.int32()),
        "docs_per_shard": pa.array([int(docs_per_shard)], pa.int32()),
        "n_shards": pa.array([int(n_shards)], pa.int32()),
        "wall_ms": pa.array([wall_ms], pa.int64()),
        "bound_slack": pa.array([float(slack)], pa.float64()),
        "quantized": pa.array([bool(quantized)], pa.bool_()),
        "extractor": pa.array([extractor], pa.string()),
        "built_at": pa.array([datetime.now(timezone.utc)],
                             pa.timestamp("us", tz="UTC")),
    })
    write_artifact_driver(spark, stats_tbl, out_dir, "stats", fmt=fmt)
    if fmt != "iceberg" and os.path.exists(manifest_path):
        os.remove(manifest_path)    # stats written = merge complete
    return {"n_docs": n_docs, "total_postings": int(total_postings),
            "wall_ms": wall_ms, "n_shards": n_shards,
            "resumed_stages": skipped}
