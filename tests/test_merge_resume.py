"""Builder/merge/resume (SURVEY.md §5.6 ≙ irkit test_builder/test_merger):
2-batch build + merge == single-shot build; kill/resume completes with an
identical index; lineage well-formed."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from irkit_spark.functions.codecs import CODECS
from irkit_spark.operators.build import build_index
from irkit_spark.operators.merge import merge_indexes
from irkit_spark.operators.query import Index, search
from irkit_spark.plans.dense_ids import assign_dense_ids


def _postings_canon(spark, path):
    df = spark.read.parquet(os.path.join(path, "postings"))
    rows = df.collect()
    out = {}
    for r in rows:
        key = (r["term_id"], r["partition_id"])
        assert key not in out
        out[key] = (r["n_docs"],
                    tuple((b["first_doc"], b["last_doc"], b["n"],
                           round(float(b["max_score"]), 6),
                           bytes(b["doc_bytes"]), bytes(b["tf_bytes"]))
                          for b in r["blocks"]))
    return out


def _postings_rows(spark, path):
    """Every postings row, exact: (term_id, shard) -> (n_docs, cf,
    max_norm, wire_bytes, blocks) with float32 scores as stored."""
    out = {}
    for r in spark.read.parquet(os.path.join(path, "postings")).collect():
        key = (r["term_id"], r["partition_id"])
        assert key not in out
        out[key] = (r["n_docs"], r["cf"], r["max_norm"], r["wire_bytes"],
                    tuple((b["first_doc"], b["last_doc"], b["n"],
                           b["max_score"], bytes(b["doc_bytes"]),
                           bytes(b["tf_bytes"])) for b in r["blocks"]))
    return out


def _split_build(spark, ids, base, **build_kw):
    """A single-shot build of `ids` and an odd/even two-batch build of
    the same docs merged back together (shards overlap across batches,
    so most (term, shard) rows are re-encoded by the merge). Returns
    (full_dir, merged_dir, batch_dirs)."""
    n_docs = ids.count()
    full_dir = os.path.join(base, "full")
    build_index(spark, ids, full_dir, docs_per_shard=300,
                doc_id_col="doc_id", **build_kw)
    full_idx = Index(spark, full_dir)
    lexicon = full_idx.terms.select("term", "term_id")
    stats = (n_docs, full_idx.avgdl)
    dirs = []
    for name, pred in [("even", F.col("doc_id") % 2 == 0),
                       ("odd", F.col("doc_id") % 2 == 1)]:
        d = os.path.join(base, name)
        build_index(spark, ids.filter(pred), d, docs_per_shard=300,
                    doc_id_col="doc_id", shared_lexicon=lexicon,
                    global_stats=stats, **build_kw)
        dirs.append(d)
    merged_dir = os.path.join(base, "merged")
    merge_indexes(spark, dirs, merged_dir)
    return full_dir, merged_dir, dirs


@pytest.fixture(scope="module")
def dense_pages(pages_small):
    return assign_dense_ids(pages_small, "url", "doc_id", 64).cache()


@pytest.fixture(scope="module")
def split_build(spark, dense_pages, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("merge"))
    full_dir, merged_dir, _ = _split_build(spark, dense_pages, base)
    return full_dir, merged_dir, dense_pages


@pytest.fixture(scope="module", params=["streamvbyte", "quantized"])
def split_build_variant(request, spark, dense_pages, tmp_path_factory):
    """The split build again, with a non-varbyte codec and with a
    quantized varbyte build (the varbyte case is `split_build`)."""
    base = str(tmp_path_factory.mktemp("merge_" + request.param))
    kw = ({"quantize": True} if request.param == "quantized"
          else {"codec": request.param})
    return request.param, _split_build(spark, dense_pages, base, **kw)


def test_merge_equals_single_shot(spark, split_build):
    full_dir, merged_dir, _ = split_build
    a = _postings_canon(spark, full_dir)
    b = _postings_canon(spark, merged_dir)
    assert a == b                     # byte-identical postings content


def _shard_files(path):
    """shard dir name -> the one postings parquet file in it."""
    out = {}
    for f in glob.glob(os.path.join(path, "postings", "*", "*.parquet")):
        shard = os.path.basename(os.path.dirname(f))
        assert shard not in out
        out[shard] = f
    return out


def test_merged_shard_files_match_single_shot(split_build):
    """Each merged shard file lists its rows in term order, as the
    single-shot build's does, so the two files have the same size."""
    full_dir, merged_dir, _ = split_build
    full, merged = _shard_files(full_dir), _shard_files(merged_dir)
    assert merged.keys() == full.keys() and full
    for shard, f in merged.items():
        tid = pq.read_table(f, columns=["term_id"]).column(
            "term_id").to_numpy()
        assert (np.diff(tid) > 0).all(), shard
        assert os.path.getsize(f) == os.path.getsize(full[shard]), shard


def test_merge_variant_postings_pinned(spark, split_build_variant):
    """Merged postings against the single-shot build, every field.
    streamvbyte: equal on every row. Quantized: the payload is the
    7-bit impact, so every row keeps the single-shot bytes, n_docs, cf
    and wire size; a row present in one batch only passes through
    untouched, while a re-encoded row stores block max_score =
    max(q)/127 (a sound bound: never above the exact tf_norm max)."""
    variant, (full_dir, merged_dir, dirs) = split_build_variant
    full = _postings_rows(spark, full_dir)
    merged = _postings_rows(spark, merged_dir)
    assert merged.keys() == full.keys() and full
    if variant != "quantized":
        assert merged == full
        return
    even, odd = (set(_postings_rows(spark, d)) for d in dirs)
    codec_dec = CODECS["varbyte"][1]
    n_reencoded = n_lowered = 0
    for key, (n, cf, mx, wire, blocks) in merged.items():
        fn, fcf, fmx, fwire, fblocks = full[key]
        if (key in even) != (key in odd):       # single-source row
            assert (n, cf, mx, wire, blocks) == full[key], key
            continue
        n_reencoded += 1
        assert (n, cf, wire) == (fn, fcf, fwire), key
        assert len(blocks) == len(fblocks)
        for b, fb in zip(blocks, fblocks):
            assert b[:3] == fb[:3] and b[4:] == fb[4:], key
            q = codec_dec(b[5], b[2])
            assert b[3] == float(np.float32(q.max() / 127.0)), key
            assert b[3] <= fb[3]
            n_lowered += b[3] != fb[3]
        assert mx == max(b[3] for b in blocks)
    assert n_reencoded and n_lowered


def test_merge_terms_and_stats(spark, split_build):
    full_dir, merged_dir, _ = split_build
    ta = {r["term"]: (r["df"], r["cf"], round(float(r["max_score"]), 5))
          for r in spark.read.parquet(full_dir + "/terms").collect()}
    tb = {r["term"]: (r["df"], r["cf"], round(float(r["max_score"]), 5))
          for r in spark.read.parquet(merged_dir + "/terms").collect()}
    assert ta == tb
    sa = spark.read.parquet(full_dir + "/stats").collect()[0]
    sb = spark.read.parquet(merged_dir + "/stats").collect()[0]
    assert sa["n_docs"] == sb["n_docs"]
    assert sa["avg_doc_len"] == pytest.approx(sb["avg_doc_len"])


def test_merged_queries_identical(spark, split_build):
    full_dir, merged_dir, _ = split_build
    ia, ib = Index(spark, full_dir), Index(spark, merged_dir)
    for q in ["term00000 term00005", "term00333 term00001 term01000"]:
        a = [(r["doc_id"], r["score"])
             for r in search(ia, q, 10, "wand").collect()]
        b = [(r["doc_id"], r["score"])
             for r in search(ib, q, 10, "wand").collect()]
        assert a == b


def test_resume_rebuilds_only_failed_shards(spark, pages_small,
                                            tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume") / "idx")
    m1 = build_index(spark, pages_small, out, docs_per_shard=300,
                     text_from_html=True)
    before = _postings_canon(spark, out)

    # simulate a mid-build failure: shard 2 incomplete
    lin = spark.read.parquet(out + "/lineage").collect()
    rows = [(r["partition_id"],
             "failed" if r["partition_id"] == 2 else r["status"],
             r["postings_cnt"], r["bytes"], r["skew_ratio"],
             r["wall_ms"], r["attempt"]) for r in lin]
    tmp = out + "/lineage_tmp"
    spark.createDataFrame(
        rows, "partition_id int, status string, postings_cnt long, "
        "bytes long, skew_ratio double, wall_ms long, attempt int") \
        .write.mode("overwrite").parquet(tmp)
    shutil.rmtree(out + "/lineage")
    os.rename(tmp, out + "/lineage")
    shutil.rmtree(out + "/postings/partition_id=2")

    m2 = build_index(spark, pages_small, out, docs_per_shard=300,
                     text_from_html=True, resume=True)
    assert m2["rebuilt_shards"] == [2]
    after = _postings_canon(spark, out)
    assert before == after            # identical index after resume
    lin2 = {r["partition_id"]: r for r in
            spark.read.parquet(out + "/lineage").collect()}
    assert lin2[2]["attempt"] == 2
    assert all(r["status"] == "done" for r in lin2.values())


def test_resume_rejects_old_tok_layout(spark, pages_small,
                                       tmp_path_factory):
    """A tok checkpoint from the pre-blob row layout must fail loudly
    on resume (the explicit blob schema would otherwise read all-null
    blobs), not corrupt or crash cryptically."""
    import shutil

    import pytest as _pytest
    out = str(tmp_path_factory.mktemp("oldtok") / "idx")
    build_index(spark, pages_small, out, docs_per_shard=300,
                text_from_html=True)
    shutil.rmtree(out + "/tok")
    spark.createDataFrame(
        [(0, 1, 1, 5)], "doc_id long, term_id int, tf int, dl int") \
        .write.mode("overwrite").parquet(out + "/tok")
    with _pytest.raises(RuntimeError, match="row layout"):
        build_index(spark, pages_small, out, docs_per_shard=300,
                    text_from_html=True, resume=True)


def test_merge_resume_skips_completed_stages(spark, split_build,
                                             tmp_path_factory):
    """merge_indexes(resume=True): a merge interrupted after the docs
    stage re-runs only postings/terms/stats, leaves the finished docs
    artifact untouched, and lands byte-identical to an uninterrupted
    merge. The manifest pins in_dirs and is removed on success."""
    import json

    full_dir, merged_dir, _ = split_build
    base = os.path.dirname(merged_dir)
    dirs = [os.path.join(base, "even"), os.path.join(base, "odd")]
    ref = _postings_canon(spark, merged_dir)

    out = str(tmp_path_factory.mktemp("mresume") / "m2")
    m = merge_indexes(spark, dirs, out, resume=True)
    assert m["resumed_stages"] == []
    manifest = os.path.join(out, "_merge_manifest.json")
    assert not os.path.exists(manifest)   # success removes it
    assert _postings_canon(spark, out) == ref

    # simulate a crash right after the docs write: later artifacts
    # gone, manifest records docs done
    for a in ("postings", "terms", "stats"):
        shutil.rmtree(os.path.join(out, a))
    with open(manifest, "w") as f:
        json.dump({"in_dirs": dirs, "done": ["docs"]}, f)
    docs_mtime = os.path.getmtime(os.path.join(out, "docs"))
    m2 = merge_indexes(spark, dirs, out, resume=True)
    assert m2["resumed_stages"] == ["docs"]
    assert os.path.getmtime(os.path.join(out, "docs")) == docs_mtime
    assert not os.path.exists(manifest)
    assert _postings_canon(spark, out) == ref
    tb = {r["term"]: (r["df"], r["cf"])
          for r in spark.read.parquet(out + "/terms").collect()}
    tref = {r["term"]: (r["df"], r["cf"])
            for r in spark.read.parquet(merged_dir + "/terms").collect()}
    assert tb == tref

    # a manifest written for DIFFERENT inputs must be ignored: every
    # stage re-runs (nothing falsely skipped)
    for a in ("postings", "terms", "stats"):
        shutil.rmtree(os.path.join(out, a))
    with open(manifest, "w") as f:
        json.dump({"in_dirs": ["/somewhere/else"],
                   "done": ["docs", "postings", "terms"]}, f)
    m3 = merge_indexes(spark, dirs, out, resume=True)
    assert m3["resumed_stages"] == []
    assert _postings_canon(spark, out) == ref
