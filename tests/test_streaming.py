"""Structured-Streaming incremental ingest: arriving page files ->
batch indexes -> merged serving index; exactly-once across re-runs;
results match a brute-force oracle over everything ingested."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from irkit_spark.operators.query import Index, search
from irkit_spark.operators.sqlpath import bm25_topk_text
from irkit_spark.sources.pages import pages_pandas
from irkit_spark.streaming.ingest import ingest_available_now


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp = str(base / "incoming")
    out = str(base / "index")
    os.makedirs(inp)
    pdf = pages_pandas(600)
    # first two arrivals
    for i, sl in enumerate([slice(0, 200), slice(200, 400)]):
        spark.createDataFrame(pdf.iloc[sl]).coalesce(1) \
            .write.mode("overwrite").parquet(f"{inp}/part{i}")
    return inp, out, pdf


def test_incremental_ingest_and_late_arrivals(spark, stream_dirs):
    inp, out, pdf = stream_dirs
    c = ingest_available_now(spark, f"{inp}/part*", out,
                             docs_per_shard=200)
    assert c["n_docs"] == 400
    idx = Index(spark, os.path.join(out, "current"))
    assert idx.n_docs == 400
    assert idx.bound_slack >= 1.0

    # oracle over exactly the ingested docs, same doc_id mapping
    q = "term00001 term00080"
    docs_txt = (idx.docs.select("doc_id", "url")
                .join(spark.createDataFrame(pdf[["url", "text"]]), "url")
                .select("doc_id", "text"))
    want = [(r["doc_id"], r["score"])
            for r in bm25_topk_text(docs_txt, q, 10).collect()]
    got = [(r["doc_id"], round(r["score"], 6))
           for r in search(idx, q, 10, "wand").collect()]
    assert got == want

    # late arrival: third file lands; re-run ingests ONLY the new file
    spark.createDataFrame(pdf.iloc[400:600]).coalesce(1) \
        .write.mode("overwrite").parquet(f"{inp}/part2")
    c2 = ingest_available_now(spark, f"{inp}/part*", out,
                              docs_per_shard=200)
    assert c2["n_docs"] == 600
    assert len(c2["batches"]) == len(c["batches"]) + 1

    idx2 = Index(spark, os.path.join(out, "current"))
    assert idx2.n_docs == 600
    docs_txt2 = (idx2.docs.select("doc_id", "url")
                 .join(spark.createDataFrame(pdf[["url", "text"]]), "url")
                 .select("doc_id", "text"))
    want2 = [(r["doc_id"], r["score"])
             for r in bm25_topk_text(docs_txt2, q, 10).collect()]
    got2 = [(r["doc_id"], round(r["score"], 6))
            for r in search(idx2, q, 10, "wand").collect()]
    assert got2 == want2
    # WAND stays lossless under avgdl drift (bound_slack)
    daat2 = [(r["doc_id"], round(r["score"], 6))
             for r in search(idx2, q, 10, "daat").collect()]
    assert got2 == daat2


def test_streaming_ingest_with_positions(spark, tmp_path):
    """positions=True: every micro-batch gains a positions artifact,
    the merge carries them, phrase queries over the merged index match
    a brute-force scan of everything ingested, and a late arrival
    re-merges with positions intact."""
    from irkit_spark.functions.tokenize import tokenize
    from irkit_spark.operators.positions import phrase_search
    from irkit_spark.operators.validate import verify_index
    inp = str(tmp_path / "incoming")
    out = str(tmp_path / "index")
    os.makedirs(inp)
    pdf = pages_pandas(300)
    for i, sl in enumerate([slice(0, 120), slice(120, 240)]):
        spark.createDataFrame(pdf.iloc[sl]).coalesce(1) \
            .write.mode("overwrite").parquet(f"{inp}/part{i}")
    ingest_available_now(spark, f"{inp}/part*", out,
                         docs_per_shard=100, positions=True)
    cur = os.path.join(out, "current")
    v = verify_index(spark, cur)
    assert v["ok"] and v["checks"]["positions_consistent"]["ok"], v

    idx = Index(spark, cur)
    by_url = {r["url"]: r["doc_id"] for r in idx.docs.collect()}
    toks = {by_url[r.url]: tokenize(r.text)
            for r in pdf.iloc[:240].itertuples()}
    ws = toks[0][1:3]
    got = {r["doc_id"]: r["phrase_tf"] for r in
           phrase_search(idx, " ".join(ws), 1000).collect()}
    want = {d: sum(1 for i in range(len(t) - 1) if t[i:i + 2] == ws)
            for d, t in toks.items()}
    assert got == {d: c for d, c in want.items() if c}

    # late arrival: the new batch also gets positions, re-merge works
    spark.createDataFrame(pdf.iloc[240:300]).coalesce(1) \
        .write.mode("overwrite").parquet(f"{inp}/part2")
    c2 = ingest_available_now(spark, f"{inp}/part*", out,
                              docs_per_shard=100, positions=True)
    assert c2["n_docs"] == 300
    idx2 = Index(spark, cur)
    assert verify_index(spark, cur)["ok"]
    assert phrase_search(idx2, " ".join(ws), 1000).count() >= len(got)


def test_streaming_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState cross-batch exact dedup: duplicates
    arriving in LATER micro-batches are dropped (state remembers every
    hash); within the whole run each distinct text surfaces exactly
    once; non-duplicates all survive."""
    from irkit_spark.sources.pages import PAGES_SCHEMA, pages_pandas
    from irkit_spark.streaming.stateful import streaming_dedup

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    pdf = pages_pandas(120)
    # batch 0: docs 0..79; batch 1: docs 40..119 (40..79 are exact
    # cross-batch duplicates by construction — same url/text rows)
    spark.createDataFrame(pdf.iloc[0:80]).coalesce(1) \
        .write.mode("overwrite").parquet(f"{inp}/b0")
    spark.createDataFrame(pdf.iloc[40:120]).coalesce(1) \
        .write.mode("overwrite").parquet(f"{inp}/b1")

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{inp}/b*"))
    out = streaming_dedup(stream)
    q = (out.writeStream.format("memory").queryName("dedup_sink")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select url, h from dedup_sink").collect()
    urls = [r["url"] for r in got]
    # distinct texts in the union == distinct texts emitted
    want_hashes = {h for h in
                   spark.createDataFrame(pdf).select(
                       F.md5(F.coalesce("text", F.lit(""))).alias("h"))
                   .distinct().toPandas()["h"]}
    assert {r["h"] for r in got} == want_hashes
    assert len(got) == len(want_hashes)       # each exactly once
    assert len(urls) == len(set(urls))


def test_grow_lexicon_ids_dense_sorted_and_stable(spark, tmp_path):
    """The shared lexicon gives a batch's unseen terms dense ids after
    every id already handed out, in sorted term order, and never moves
    an existing id; each call returns the batch's {term: term_id}."""
    from irkit_spark.streaming.ingest import _grow_lexicon
    out = str(tmp_path / "ing")
    terms1 = spark.createDataFrame(
        [(f"w{i:04d}",) for i in reversed(range(60))] * 2, "term string")
    c = {"next_term_id": 0}
    assert _grow_lexicon(spark, out, terms1, c) == \
        {f"w{i:04d}": i for i in range(60)}
    assert c["next_term_id"] == 60
    terms2 = spark.createDataFrame(
        [("zzz",), ("aaa",), ("w0001",)], "term string")
    assert _grow_lexicon(spark, out, terms2, c) == \
        {"w0001": 1, "aaa": 60, "zzz": 61}
    assert c["next_term_id"] == 62
    lex = spark.read.parquet(os.path.join(out, "_state", "lexicon"))
    assert sorted((r["term_id"], r["term"]) for r in lex.collect()) == \
        [(i, f"w{i:04d}") for i in range(60)] + [(60, "aaa"), (61, "zzz")]


def test_streaming_near_dup_candidates(spark, tmp_path):
    """Stateful streaming LSH: near-copies arriving in LATER
    micro-batches emit candidate edges pointing at the first-arrival
    owner; edge targets are always first-arrivals; the streaming edge
    graph connects exactly the components the batch LSH candidate
    graph connects on the same union."""
    from irkit_spark.pipeline.dedup import (minhash_lsh_pairs,
                                            minhash_signatures)
    from irkit_spark.streaming.stateful import (
        streaming_near_dup_candidates)

    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen curious penguins watch from the icy shore "
            "near the old lighthouse %s")
    rows0 = [(i, base % f"variant {i} alpha beta") for i in range(6)]
    # batch 1: near-copies of docs 0-2 (one tail token changed) +
    # genuinely new docs
    rows1 = [(10 + i, base % f"variant {i} alpha gamma")
             for i in range(3)]
    rows1 += [(20 + i, f"completely different text number {i} " * 6
               + "unrelated content entirely") for i in range(3)]
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    spark.createDataFrame(rows0, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{inp}/b0")
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{inp}/b1")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{inp}/b*"))
    out = streaming_near_dup_candidates(stream)
    q = (out.writeStream.format("memory").queryName("nd_sink")
         .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    edges = spark.sql("select doc_id, dup_of, band from nd_sink") \
        .collect()
    pairs = {(r.doc_id, r.dup_of) for r in edges}
    # every near-copy links to its original; originals own the buckets
    for i in range(3):
        assert (10 + i, i) in pairs, pairs
    assert all(d < 10 for _, d in pairs)          # targets first-seen
    # unrelated docs emit no edges
    assert all(s < 20 for s, _ in pairs), pairs
    # cross-check vs the batch tier on the union: every streaming edge
    # is a batch band collision, and the batch candidate graph's
    # components are connected by streaming edges
    union = spark.createDataFrame(rows0 + rows1,
                                  "doc_id long, text string")
    sig = minhash_signatures(union).collect()
    buckets: dict = {}
    for r in sig:
        buckets.setdefault((r.band, r.band_hash), []).append(r.doc_id)
    batch_pairs = set()
    for ids in buckets.values():
        for a in ids:
            for b in ids:
                if a < b:
                    batch_pairs.add((a, b))
    assert {tuple(sorted(p)) for p in pairs} <= batch_pairs
    parent = {d for d, _ in rows0 + rows1}
    parent = {d: d for d in parent}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    for a, b in batch_pairs:
        assert find(a) == find(b), (a, b)
    # and the verified batch pairs (jaccard) are among the components
    ver = minhash_lsh_pairs(union, verify_threshold=0.8).collect()
    assert ver and all(find(r.doc_a) == find(r.doc_b) for r in ver)


def test_streaming_term_counts_equal_batch(spark, tmp_path):
    """Windowed trending-term counts on a stream == the batch twin on
    the same static input (availableNow, windows closed by watermark)."""
    from irkit_spark.sources.pages import PAGES_SCHEMA, pages_pandas
    from irkit_spark.streaming.ingest import (batch_term_counts,
                                              streaming_term_counts)
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    pdf = pages_pandas(150)
    spark.createDataFrame(pdf.iloc[:70]).coalesce(1) \
        .write.mode("overwrite").parquet(f"{inp}/b0")
    spark.createDataFrame(pdf.iloc[70:]).coalesce(1) \
        .write.mode("overwrite").parquet(f"{inp}/b1")
    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(f"{inp}/b*"))

    def _extract(df):
        from irkit_spark.functions.extract import extract_text_udf
        return df.withColumn("text", extract_text_udf()(F.col("html")))

    q = (streaming_term_counts(_extract(stream), window="10 minutes",
                               watermark="0 seconds")
         .writeStream.format("memory").queryName("ttc_sink")
         .option("checkpointLocation", str(tmp_path / "ckpt_ttc"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.window_start, r.term): (r.n_docs, r.n_occurrences)
           for r in spark.sql("select * from ttc_sink").collect()}
    static = _extract(spark.createDataFrame(pdf))
    want = {(r.window_start, r.term): (r.n_docs, r.n_occurrences)
            for r in batch_term_counts(static, "10 minutes").collect()}
    # append mode emits only watermark-CLOSED windows (end <= max ts):
    # the stream must equal the batch twin restricted to closed windows
    import datetime as dt
    max_ts = pdf["warc_ts"].max().to_pydatetime()
    closed = {k: v for k, v in want.items()
              if k[0] + dt.timedelta(minutes=10) <= max_ts}
    assert got == closed and got


def _rows(spark, path: str, name: str) -> list:
    return sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(path, name)).collect())


def test_process_batch_equals_reference_delta_builds(spark, tmp_path):
    """Each micro-batch index process_batch writes is row-identical
    (docs, terms, postings) to an explicit reference delta build of the
    same pages: ids continuing densely after the previous batch, the
    final shared lexicon, and running (n_docs, avgdl) computed here
    from the frozen extract + tokenizer. The counters are the sums of
    the batch docs tables; a NULL-url page is never indexed, so it is
    never counted."""
    from irkit_spark.functions.extract import extract_text
    from irkit_spark.functions.tokenize import tokenize
    from irkit_spark.operators.build import build_index
    from irkit_spark.plans.dense_ids import dense_id_mapping
    from irkit_spark.sources.pages import PAGES_SCHEMA
    from irkit_spark.streaming.ingest import process_batch
    pdf = pages_pandas(240)
    pdf.loc[130, "url"] = None
    out = str(tmp_path / "ing")
    parts = [pdf.iloc[:120], pdf.iloc[120:]]
    for i, part in enumerate(parts):
        c = process_batch(spark, spark.createDataFrame(part, PAGES_SCHEMA),
                          out, docs_per_shard=50, epoch_id=i)
    lexicon = spark.read.parquet(os.path.join(out, "_state", "lexicon"))
    n_docs = coll_len = 0
    for i, (part, bdir) in enumerate(zip(parts, c["batches"])):
        part = part[part["url"].notna()]
        mapping, n = dense_id_mapping(
            spark.createDataFrame(part[["url"]]), "url", "doc_id")
        ids = {r["url"]: r["doc_id"] + n_docs for r in mapping.collect()}
        ref_pdf = part.assign(doc_id=part["url"].map(ids))
        n_docs += n
        coll_len += sum(len(tokenize(extract_text(h)))
                        for h in part["html"])
        ref = str(tmp_path / f"ref{i}")
        build_index(spark, spark.createDataFrame(ref_pdf), ref,
                    docs_per_shard=50, text_from_html=True,
                    doc_id_col="doc_id", shared_lexicon=lexicon,
                    global_stats=(n_docs, coll_len / n_docs))
        for name in ("docs", "terms", "postings"):
            assert _rows(spark, bdir, name) == _rows(spark, ref, name), \
                (i, name)
    docs = [r for b in c["batches"] for r in _rows(spark, b, "docs")]
    assert c["n_docs"] == len(docs) == n_docs == 239
    assert c["next_doc_id"] == 239
    assert c["coll_len"] == sum(r[2] for r in docs) == coll_len


# Spark jobs of one steady-state process_batch (measured: 26 on
# local[*] with this input). The build's one canonicalize pass feeds
# the doc ids, the lexicon growth and the running stats; a separate
# extract or tokenize pre-pass would add jobs and trip this budget.
PROCESS_BATCH_JOB_BUDGET = 26


def test_process_batch_job_budget(spark, tmp_path):
    from irkit_spark.sources.pages import PAGES_SCHEMA
    from irkit_spark.streaming.ingest import process_batch
    sc = spark.sparkContext
    pdf = pages_pandas(240)
    out = str(tmp_path / "ing")
    process_batch(spark, spark.createDataFrame(pdf.iloc[:120], PAGES_SCHEMA),
                  out, docs_per_shard=50)
    batch = spark.createDataFrame(pdf.iloc[120:], PAGES_SCHEMA)
    group = "process-batch-job-budget"
    sc.setJobGroup(group, "steady-state process_batch")
    try:
        c = process_batch(spark, batch, out, docs_per_shard=50)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert c["n_docs"] == 240 and len(c["batches"]) == 2
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= PROCESS_BATCH_JOB_BUDGET, n_jobs
