"""Incremental index ingestion via Structured Streaming.

irkit itself is batch-only (SURVEY.md §2.10); its incrementality is
"build batch indexes, then k-way merge" ([pub:tools/irk-merge]). This
module is the Spark-native form of exactly that: a `readStream` over an
arriving `pages` directory drives `foreachBatch`, each micro-batch
becomes one batch index, and `merge_indexes` folds the batches into the
serving index. Checkpointing gives exactly-once batch processing across
restarts; per-shard lineage inside each batch build gives intra-batch
resumability (§4.4).

A micro-batch is one delta build_index call (operators/build.py) and
nothing else: its single canonicalize pass (extract + tokenize, run
once per page) feeds the doc ids (continuing after every doc ingested
so far), the growth of the SHARED lexicon (from the pass's own
distinct-term rows) and the running collection stats (the prior
totals plus the batch's docs table). The counters are committed from
that docs table, so they count exactly the docs that were indexed.

State kept under `out_dir/_state` (all driver-written, tiny):
  lexicon/   (term, term_id) parquet — ids grow densely, never change
  counters.json  n_docs, coll_len, next_doc_id, batch dirs

Scoring note: batch b's block max-scores use the RUNNING avgdl at batch
time; the final merge records `bound_slack` so block-max WAND stays
lossless under avgdl drift (see operators/merge.py).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irkit_spark.operators.build import build_index
from irkit_spark.operators.merge import merge_indexes
from irkit_spark.plans.dense_ids import grow_lexicon
from irkit_spark.sources.pages import PAGES_SCHEMA

_COUNTERS = "counters.json"


def _state_dir(out_dir: str) -> str:
    d = os.path.join(out_dir, "_state")
    os.makedirs(d, exist_ok=True)
    return d


def _load_counters(out_dir: str) -> dict:
    pth = os.path.join(_state_dir(out_dir), _COUNTERS)
    if os.path.exists(pth):
        with open(pth) as f:
            return json.load(f)
    return {"n_docs": 0, "coll_len": 0, "next_doc_id": 0,
            "next_term_id": 0, "batches": [], "epochs": []}


def _save_counters(out_dir: str, c: dict):
    pth = os.path.join(_state_dir(out_dir), _COUNTERS)
    tmp = pth + ".tmp"
    with open(tmp, "w") as f:
        json.dump(c, f)
    os.replace(tmp, pth)


def _grow_lexicon(spark, out_dir: str, batch_terms, counters: dict
                  ) -> dict:
    """Grow the on-disk shared lexicon with the batch's unseen terms
    (plans/dense_ids.grow_lexicon); returns the batch's
    {term: term_id}.

    The next free id is the lexicon's row count on disk (ids are
    dense), not counters.json: the lexicon is written before the
    counters commit, so a batch that fails in between and is replayed
    finds its terms already there and must not hand out their ids a
    second time."""
    import pyarrow.parquet as pq
    lex_path = os.path.join(_state_dir(out_dir), "lexicon")
    lex, next_id = None, 0
    if os.path.exists(os.path.join(lex_path, "_SUCCESS")):
        lex = spark.read.parquet(lex_path)
        next_id = sum(pq.read_metadata(os.path.join(lex_path, f)).num_rows
                      for f in os.listdir(lex_path)
                      if f.endswith(".parquet") and f[0] not in "._")
    ids, new = grow_lexicon(lex, batch_terms, next_id)
    counters["next_term_id"] = next_id + len(new)
    if new:
        new_ids = spark.createDataFrame(pd.DataFrame({
            "term": pd.Series(new, dtype="object"),
            "term_id": np.arange(next_id, next_id + len(new),
                                 dtype=np.int32)}),
            "term string, term_id int")
        grown = new_ids if lex is None else lex.unionByName(new_ids)
        tmp = lex_path + "_tmp"
        grown.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(lex_path, ignore_errors=True)
        os.rename(tmp, lex_path)
    return ids


def process_batch(spark: SparkSession, batch_df, out_dir: str,
                  docs_per_shard: int, codec: str = "varbyte",
                  epoch_id: int | None = None,
                  extractor: str = "frozen",
                  positions: bool = False) -> dict:
    """One micro-batch of pages (url, html) -> one batch index with
    global ids/stats.

    Three steps: check the epoch, run one delta build_index, commit the
    counters. The build extracts and tokenizes every page once; from
    that one pass it numbers the docs after `next_doc_id`, grows the
    shared lexicon and derives the running (n_docs, avgdl). The
    committed n_docs / coll_len / next_doc_id then advance by the
    batch's docs table: a row with a NULL url is never indexed, so it
    is not counted either. A batch that indexes no doc adds no batch
    dir.

    Idempotent per epoch: foreachBatch replays a micro-batch when the
    driver crashes between state mutation and the checkpoint commit, so
    an epoch_id already recorded in counters.json is a no-op — without
    this the replay would re-ingest the same docs under new doc_ids and
    inflate n_docs/coll_len (exactly-once would silently degrade to
    at-least-once)."""
    c = _load_counters(out_dir)
    if epoch_id is not None and epoch_id in c.get("epochs", []):
        return c
    bdir = os.path.join(out_dir, "batches", f"b{len(c['batches']):05d}")
    m = build_index(spark, batch_df, bdir, codec=codec,
                    docs_per_shard=docs_per_shard, text_from_html=True,
                    doc_id_offset=c["next_doc_id"],
                    shared_lexicon=lambda terms: _grow_lexicon(
                        spark, out_dir, terms, c),
                    prior_stats=(c["n_docs"], c["coll_len"]),
                    extractor=extractor)
    if m["docs_built"]:
        if positions:
            # the same extracted text the build tokenized, joined on url
            # to the ids this batch's docs table assigned; runs before
            # the counters commit so a crash replays the whole batch
            from irkit_spark.functions.extract import extract_text_udf
            from irkit_spark.operators.positions import build_positions
            build_positions(spark, batch_df.withColumn(
                "text", extract_text_udf(extractor)(F.col("html"))), bdir)
        c.update({"n_docs": m["n_docs"],
                  "coll_len": c["coll_len"] + m["coll_len"],
                  "next_doc_id": c["next_doc_id"] + m["docs_built"]})
        c["batches"].append(bdir)
    else:
        shutil.rmtree(bdir, ignore_errors=True)
    if epoch_id is not None:
        c.setdefault("epochs", []).append(epoch_id)
    _save_counters(out_dir, c)
    return c


def ingest_available_now(spark: SparkSession, input_dir: str,
                         out_dir: str, docs_per_shard: int = 100000,
                         codec: str = "varbyte",
                         merge: bool = True,
                         extractor: str = "frozen",
                         positions: bool = False) -> dict:
    """Process every file currently in `input_dir` (exactly-once via the
    stream checkpoint), then merge all batch indexes into
    `out_dir/current`. Re-running after new files arrive ingests only
    the new ones and re-merges. `extractor` must stay the same across
    every run against one out_dir (merge enforces it via stats); so
    must `positions` (a mixed batch set fails the merge loudly —
    backfill with build_positions on the old batches to switch on)."""
    ckpt = os.path.join(_state_dir(out_dir), "checkpoint")
    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", "64")
              .parquet(input_dir))
    q = (stream.writeStream
         .foreachBatch(lambda df, epoch: process_batch(
             spark, df, out_dir, docs_per_shard, codec, epoch_id=epoch,
             extractor=extractor, positions=positions))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    c = _load_counters(out_dir)
    if merge and c["batches"]:
        merge_indexes(spark, c["batches"],
                      os.path.join(out_dir, "current"))
    return c


def streaming_term_counts(pages: DataFrame, window: str = "1 day",
                          watermark: str = "1 day",
                          text_col: str = "text") -> DataFrame:
    """Trending terms at ingest: tumbling-window term counts over a
    pages READSTREAM — (window_start, term, n_docs, n_occurrences),
    windowed on warc_ts with a watermark so closed windows' state
    drops (the crawl-monitoring op: which terms surged this window).
    With an availableNow run over a static input it produces exactly
    the batch twin `batch_term_counts` rows (tested).

    Scale shape: the per-batch explode emits (ts, term) pairs only
    (the frozen tokenizer expression, JVM-side — no Python in the
    stream) and the windowed aggregate is a standard partial+final
    hash aggregate keyed by (window, term); state is bounded by
    vocab x open windows."""
    from irkit_spark.config import TOKEN_RE
    toks = pages.select(
        F.col("warc_ts").cast("timestamp").alias("ts"),
        F.array_distinct(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)).alias("td"),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0).alias("ta"))
    per_doc = toks.select(
        "ts", F.explode("ta").alias("term"),
        F.lit(0).alias("_d")).unionByName(
        toks.select("ts", F.explode("td").alias("term"),
                    F.lit(1).alias("_d")))
    return (per_doc.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "term")
            .agg(F.sum("_d").cast("long").alias("n_docs"),
                 F.sum(1 - F.col("_d")).cast("long")
                 .alias("n_occurrences"))
            .select(F.col("w.start").alias("window_start"), "term",
                    "n_docs", "n_occurrences"))


def batch_term_counts(pages: DataFrame, window: str = "1 day",
                      text_col: str = "text") -> DataFrame:
    """The batch twin of streaming_term_counts (same expressions, no
    watermark) — and the comparison target in tests."""
    from irkit_spark.config import TOKEN_RE
    ta = F.regexp_extract_all(F.lower(F.col(text_col)),
                              F.lit(TOKEN_RE), 0)
    occ = pages.select(F.col("warc_ts").cast("timestamp").alias("ts"),
                       F.explode(ta).alias("term"))
    docs = pages.select(F.col("warc_ts").cast("timestamp").alias("ts"),
                        F.explode(F.array_distinct(ta)).alias("term"))
    o = (occ.groupBy(F.window("ts", window).alias("w"), "term")
         .agg(F.count("*").cast("long").alias("n_occurrences")))
    d = (docs.groupBy(F.window("ts", window).alias("w"), "term")
         .agg(F.count("*").cast("long").alias("n_docs")))
    return (o.join(d, ["w", "term"])
            .select(F.col("w.start").alias("window_start"), "term",
                    "n_docs", "n_occurrences"))
