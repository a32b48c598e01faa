"""Index compaction (operators/compact.py): the compacted index must
equal a FRESH BUILD over the surviving docs — postings and positions
byte-identical per term (term ids may renumber; compare by term
string), docs/terms/stats values equal, query results identical —
plus guard rails (quantized refusal, in-place refusal, no-deletions
rewrite)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from irkit_spark.operators.build import build_index
from irkit_spark.operators.compact import compact_index
from irkit_spark.operators.delete import delete_docs
from irkit_spark.operators.positions import (build_positions,
                                             phrase_search,
                                             read_positions)
from irkit_spark.operators.query import Index, search

VOCAB = ["red", "fox", "dog", "lazy", "jumps", "quick", "brown",
         "river", "stone", "cloud"]
DOCS = [(d, " ".join(VOCAB[(d * 7 + j * j + (j // 3)) % len(VOCAB)]
                     for j in range(5 + (d * 13) % 40)))
        for d in range(80)]
DEL_PRED = "doc_id % 5 = 2"


@pytest.fixture(scope="module")
def compacted_and_fresh(spark, tmp_path_factory):
    """(compacted_dir, fresh_dir): tombstone doc_id%5==2 on a full
    build + compact, vs a fresh build over only the survivors."""
    base = tmp_path_factory.mktemp("cmpidx")
    full, comp, fresh = (str(base / n) for n in
                         ("full", "comp", "fresh"))
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, df, full, docs_per_shard=25, doc_id_col="doc_id",
                key_col="doc_id", n_parts=4)
    build_positions(spark, df, full, doc_id_col="doc_id", n_parts=4)
    delete_docs(spark, full, predicate=DEL_PRED)
    m = compact_index(spark, full, comp)
    assert m["n_deleted_dropped"] == sum(1 for d, _ in DOCS
                                         if d % 5 == 2)
    surv = df.filter(f"NOT ({DEL_PRED})")
    build_index(spark, surv, fresh, docs_per_shard=25,
                doc_id_col="doc_id", key_col="doc_id", n_parts=4)
    build_positions(spark, surv, fresh, doc_id_col="doc_id", n_parts=4)
    return comp, fresh


def _term_by_id(spark, path):
    return {int(r["term_id"]): r["term"] for r in
            Index(spark, path).terms.collect()}


def _postings_by_term(spark, path):
    t = _term_by_id(spark, path)
    out = {}
    for r in Index(spark, path).postings.collect():
        blocks = tuple(
            (int(b["n"]), int(b["first_doc"]), int(b["last_doc"]),
             round(float(b["max_score"]), 12), bytes(b["doc_bytes"]),
             bytes(b["tf_bytes"])) for b in r["blocks"])
        out.setdefault(t[int(r["term_id"])], []).append(
            (int(r["partition_id"]), int(r["n_docs"]), int(r["cf"]),
             round(float(r["max_norm"]), 12), int(r["wire_bytes"]),
             blocks))
    return {k: sorted(v) for k, v in out.items()}


def test_postings_byte_identical_by_term(spark, compacted_and_fresh):
    comp, fresh = compacted_and_fresh
    assert _postings_by_term(spark, comp) == \
        _postings_by_term(spark, fresh)


def test_compacted_shard_files_in_term_order(spark, compacted_and_fresh):
    """Every compacted shard file lists its rows in strictly increasing
    term_id, as a single-shot build's does. The write's
    sortWithinPartitions does not order the partition_by files, so
    this pins the compaction kernel's emit order."""
    import glob
    import os

    import numpy as np
    import pyarrow.parquet as pq
    comp, _ = compacted_and_fresh
    files = glob.glob(os.path.join(comp, "postings", "*", "*.parquet"))
    assert files
    for f in files:
        tid = pq.read_table(f, columns=["term_id"]).column(
            "term_id").to_numpy()
        assert (np.diff(tid) > 0).all(), f


def test_docs_and_stats_equal(spark, compacted_and_fresh):
    comp, fresh = compacted_and_fresh
    a = sorted(map(tuple, Index(spark, comp).docs.collect()))
    b = sorted(map(tuple, Index(spark, fresh).docs.collect()))
    assert a == b and a
    ia, ib = Index(spark, comp), Index(spark, fresh)
    assert (ia.n_docs, ia.coll_len, ia.avgdl) == \
        (ib.n_docs, ib.coll_len, ib.avgdl)
    assert ia.stats["total_postings"] == ib.stats["total_postings"]
    assert ia.bound_slack == 1.0


def test_terms_equal_by_term(spark, compacted_and_fresh):
    comp, fresh = compacted_and_fresh
    key = lambda p: sorted(
        (r["term"], int(r["df"]), int(r["cf"]),
         round(float(r["max_score"]), 6))
        for r in Index(spark, p).terms.collect())
    assert key(comp) == key(fresh)
    # every surviving doc's vocab is covered, vanished terms dropped
    assert all(df > 0 for _, df, _, _ in key(comp))


def test_positions_byte_identical_by_term(spark, compacted_and_fresh):
    comp, fresh = compacted_and_fresh

    def canon(path):
        t = _term_by_id(spark, path)
        return sorted(
            (t[int(r["term_id"])], int(r["partition_id"]),
             int(r["n_docs"]), int(r["cf"]), int(r["first_doc"]),
             bytes(r["doc_bytes"]), bytes(r["cnt_bytes"]),
             bytes(r["pos_bytes"]))
            for r in read_positions(spark, path).collect())
    assert canon(comp) == canon(fresh)


def test_query_identity_vs_fresh(spark, compacted_and_fresh):
    comp, fresh = compacted_and_fresh
    ia, ib = Index(spark, comp), Index(spark, fresh)
    for q in ("red fox", "lazy dog jumps", "river stone cloud"):
        for mode in ("taat", "wand", "and"):
            a = [(r["doc_id"], round(r["score"], 9)) for r in
                 search(ia, q, k=15, mode=mode, local=False).collect()]
            b = [(r["doc_id"], round(r["score"], 9)) for r in
                 search(ib, q, k=15, mode=mode, local=False).collect()]
            assert a == b and a, (q, mode)
    for ph in ("red fox", "lazy dog"):
        a = [tuple(r) for r in phrase_search(ia, ph, 10).collect()]
        b = [tuple(r) for r in phrase_search(ib, ph, 10).collect()]
        assert a == b and a


def test_compacted_verifies_and_has_no_deletions(spark,
                                                 compacted_and_fresh):
    from irkit_spark.operators.validate import verify_index
    comp, _ = compacted_and_fresh
    assert not Index(spark, comp).has_deletions()
    r = verify_index(spark, comp)
    assert r["ok"], r


def test_compact_without_deletions_is_stats_exact_rewrite(spark,
                                                          tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.createDataFrame(DOCS[:30], "doc_id long, text string")
    build_index(spark, df, a, docs_per_shard=25, doc_id_col="doc_id",
                key_col="doc_id", n_parts=2)
    compact_index(spark, a, b)
    assert _postings_by_term(spark, a) == _postings_by_term(spark, b)
    ia, ib = Index(spark, a), Index(spark, b)
    assert (ia.n_docs, ia.avgdl) == (ib.n_docs, ib.avgdl)


def test_compact_guards(spark, tmp_path):
    a = str(tmp_path / "qidx")
    df = spark.createDataFrame(DOCS[:30], "doc_id long, text string")
    build_index(spark, df, a, docs_per_shard=25, doc_id_col="doc_id",
                key_col="doc_id", n_parts=2, quantize=True)
    with pytest.raises(ValueError, match="quantized"):
        compact_index(spark, a, str(tmp_path / "qout"))
    with pytest.raises(ValueError, match="differ"):
        compact_index(spark, a, a)


@pytest.mark.parametrize("codec", ["varbyte", "streamvbyte"])
def test_encode_sizing_knobs_keep_postings_bytes(spark, tmp_path,
                                                 monkeypatch, codec):
    """ENC_BUCKET_OVER / ENC_PART_BYTES only size the encode exchange.
    One pack-time bucket per shuffle partition plus a tiny packed-byte
    budget per encode partition (which drives n_parts_enc to the bucket
    cap) must write the same postings bytes as the defaults."""
    from irkit_spark import config
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    kw = dict(docs_per_shard=25, doc_id_col="doc_id", key_col="doc_id",
              n_parts=4, codec=codec)
    ref, forced = str(tmp_path / "ref"), str(tmp_path / "forced")
    build_index(spark, df, ref, **kw)
    monkeypatch.setattr(config, "ENC_BUCKET_OVER", 1)
    monkeypatch.setattr(config, "ENC_PART_BYTES", 64)
    build_index(spark, df, forced, **kw)
    got = _postings_by_term(spark, forced)
    assert got == _postings_by_term(spark, ref) and got
