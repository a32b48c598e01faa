"""Document update (upsert) for a built index.

Completes the index lifecycle (build -> merge -> delete -> compact ->
UPDATE) the way Lucene's updateDocument does: an update is a tombstone
of every existing doc with the same key plus an append of the new
version under a fresh doc id. irkit's public surface has no update
(SURVEY.md §2 — the reference index is immutable once merged); this is
the same beyond-reference extension as operators/delete.py, built
entirely from the engine's existing verified parts:

  1. the incoming batch becomes one DELTA batch index
     (operators/build.py with the index's lexicon grown by the batch's
     unseen terms and RUNNING global stats — exactly the streaming
     ingest contract, streaming/ingest.py);
  2. merge_indexes([index, delta]) folds it in (byte-faithful kernel,
     bound_slack covers avgdl drift, tombstones union through);
  3. the superseded docs (matched on `key_col`, default the docs
     table's url) are tombstoned in the MERGED output — the input
     index is never mutated, so it stays queryable and consistent
     until the caller swaps.

Semantics therefore follow the engine's delete contract: superseded
docs keep contributing to global stats (n_docs, avgdl, df, cf) until
an explicit compact_index — after update+compact the index is
value-identical to a fresh build over the latest version of every doc
(tests/test_update.py proves score identity per url).

Scale shape: the delta build touches only the batch; the merge is the
same one-narrow-shuffle plan as any batch merge (pass-through for
untouched (term, shard) rows — no decode — and only tail shards shared
between old and new doc-id ranges re-encode). Like Lucene segment
merging, folding EVERY small batch into the full index is a rewrite of
the posting files; for high-frequency updates accumulate micro-batches
with streaming/ingest.py and schedule merges, using update_index for
the periodic fold with replacement semantics.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def update_index(spark: SparkSession, in_dir: str, new_pages: DataFrame,
                 out_dir: str, *,
                 text_from_html: bool = False,
                 key_col: str = "url",
                 doc_id_col: str | None = None,
                 n_parts: int | None = None,
                 table_format: str | None = None) -> dict:
    """Upsert `new_pages` into the index at `in_dir`, writing the
    result to `out_dir` (never in place).

    Every existing doc whose docs-table `url` equals a batch row's
    `key_col` (cast to string — the same canonicalization build_index
    applies) is superseded: tombstoned in the output, its replacement
    indexed under a fresh doc id. Batch rows matching nothing are
    plain adds. Batch keys must be unique — "which version wins" must
    not depend on partition order.

    doc_id_col: column already carrying explicit NEW dense ids (must
    all exceed the index's current max doc id). Default: ids are
    assigned as max_id + 1 + rank(key) via the build's own
    parallelism-invariant mapping.

    Returns {"n_added", "n_superseded", "n_new_terms", ...merge
    metrics}. Quantized indexes are refused: their 7-bit impacts were
    quantized against build-time stats and cannot absorb the stats
    drift an update implies — rebuild from source."""
    from irkit_spark.operators.delete import delete_docs
    from irkit_spark.sources.catalog import (artifact_exists,
                                             artifact_format,
                                             read_artifact)
    fmt = artifact_format(table_format)
    if os.path.abspath(in_dir) == os.path.abspath(out_dir):
        raise ValueError("update_index writes a new index dir; "
                         "in_dir and out_dir must differ")
    t0 = time.monotonic()
    st = read_artifact(spark, in_dir, "stats", fmt=fmt).collect()[0]
    std = st.asDict()
    if bool(std.get("quantized", False)):
        raise ValueError(
            "cannot update a quantized index: impacts were quantized "
            "against build-time collection stats — rebuild from "
            "source with quantize=False, update, then re-quantize")
    extractor = std.get("extractor", "frozen")

    batch = new_pages.persist()
    n_new = batch.count()
    if n_new == 0:
        batch.unpersist()
        raise ValueError("empty update batch")
    key_str = F.col(key_col).cast("string")
    if batch.select(key_str).distinct().count() != n_new:
        batch.unpersist()
        raise ValueError(
            f"duplicate {key_col!r} keys in the update batch — which "
            "version wins must not depend on partition order; "
            "deduplicate first (e.g. pipeline/dedup keep-latest)")

    docs = read_artifact(spark, in_dir, "docs", fmt=fmt)
    dg = docs.agg(F.max("doc_id").alias("mx")).collect()[0]
    next_doc_id = int(dg["mx"] or -1) + 1
    keys = batch.select(key_str.alias("url")).distinct()
    if n_new <= 1_000_000:      # update batches are the small side
        keys = F.broadcast(keys)
    superseded = (docs.join(keys, "url", "left_semi")
                  .select("partition_id", "doc_id").persist())
    n_superseded = superseded.count()

    # explicit ids must sit above everything already assigned; default
    # ids are assigned by the delta build, offset past them
    if doc_id_col is not None:
        nid = F.col(doc_id_col).cast("long")
        bad = batch.agg(
            F.min(nid).alias("mn"),
            (F.count("*") - F.countDistinct(nid)).alias("dup"),
            F.sum(nid.isNull().cast("int")).alias("nul"),
        ).collect()[0]
        if int(bad["dup"]) or int(bad["nul"] or 0) \
                or int(bad["mn"]) < next_doc_id:
            batch.unpersist()
            raise ValueError(
                f"explicit {doc_id_col!r} ids must be distinct, "
                f"non-null, and >= {next_doc_id} (the index's next "
                "free id)")

    # the delta build grows the index's lexicon with the batch's unseen
    # terms and scores against the post-update totals: superseded docs
    # still count (the delete contract freezes stats until compact), so
    # those are the old totals plus the batch's docs table
    from irkit_spark.plans.dense_ids import grow_lexicon
    old_lex = (read_artifact(spark, in_dir, "terms", fmt=fmt)
               .select("term", "term_id"))
    tg = old_lex.agg(F.max("term_id").alias("mx")).collect()[0]
    new_terms = []

    def grow(batch_terms):
        ids, new = grow_lexicon(old_lex, batch_terms,
                                int(tg["mx"] or -1) + 1)
        new_terms.extend(new)
        return ids

    delta = out_dir.rstrip("/").rstrip(os.sep) + ".__delta__"
    if fmt != "iceberg":
        shutil.rmtree(delta, ignore_errors=True)
    from irkit_spark.operators.build import build_index
    build_index(spark, batch, delta,
                codec=std["codec"], block_size=int(std["block_size"]),
                docs_per_shard=int(std["docs_per_shard"]),
                text_from_html=text_from_html, doc_id_col=doc_id_col,
                key_col=key_col, doc_id_offset=next_doc_id,
                n_parts=n_parts, shared_lexicon=grow,
                prior_stats=(int(std["n_docs"]), int(std["coll_len"])),
                table_format=table_format, extractor=extractor)
    if artifact_exists(spark, in_dir, "positions", fmt=fmt):
        # the same text the delta build tokenized, keyed like its docs
        from irkit_spark.operators.positions import build_positions
        text = F.col("text")
        if text_from_html:
            from irkit_spark.functions.extract import extract_text_udf
            text = extract_text_udf(extractor)(F.col("html"))
        src = batch.select(key_str.alias("url"), text.alias("text"),
                           *([doc_id_col] if doc_id_col else []))
        build_positions(spark, src, delta, doc_id_col=doc_id_col,
                        n_parts=n_parts, table_format=table_format)

    from irkit_spark.operators.merge import merge_indexes
    m = merge_indexes(spark, [in_dir, delta], out_dir,
                      table_format=table_format)
    if n_superseded:
        delete_docs(spark, out_dir, doc_ids=superseded.select("doc_id"),
                    table_format=table_format)
    superseded.unpersist()
    batch.unpersist()
    if fmt != "iceberg":
        shutil.rmtree(delta, ignore_errors=True)
    m.update({"n_added": int(n_new), "n_superseded": int(n_superseded),
              "n_new_terms": len(new_terms),
              "wall_ms": int((time.monotonic() - t0) * 1000)})
    return m
