"""Selective search (operators/selective.py): exact-equality vs the
distributed search() path, and the observable that it actually skips
shards. Corpus engineered so the competitive docs concentrate in shard
0 (high-tf 'jaguar'/'speed'), with a sprinkle of tf=1 matches and an
exact cross-shard tie pair."""

from __future__ import annotations

import shutil

import pytest

from irkit_spark.operators.query import Index, search
from irkit_spark.operators.selective import selective_search, shard_bounds


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _mk_docs(spark, n=600):
    docs = []
    for i in range(n):
        parts = []
        if i < 10:                      # shard 0: the competitive docs
            parts += ["jaguar"] * (20 - i) + ["speed"] * (18 - i)
        elif i % 97 == 0:               # scattered weak matches
            parts += ["jaguar"]
        elif i % 89 == 0:
            parts += ["speed"]
        # exact tie pair across shards: identical text, identical dl
        if i in (250, 450):
            parts = ["jaguar", "speed", "twin", "twin"]
        parts += [f"pad{i % 7}"] * (3 + i % 5)
        docs.append((i, f"u{i}", " ".join(parts)))
    return spark.createDataFrame(docs,
                                 "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def sel_index(spark, tmp_path_factory):
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("selidx") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, _mk_docs(spark), out, docs_per_shard=100,
                doc_id_col="doc_id", key_col="doc_id", n_parts=8)
    return Index(spark, out)


QUERIES = ["jaguar speed", "jaguar", "speed twin",
           "jaguar speed nosuchterm", "pad1 jaguar"]


@pytest.mark.parametrize("mode", ["wand", "maxscore"])
def test_selective_equals_search(spark, sel_index, mode):
    for q in QUERIES:
        for k in (3, 10, 700):          # k > total matches included
            a = _rows(selective_search(sel_index, q, k=k, mode=mode))
            b = _rows(search(sel_index, q, k=k, mode=mode, local=False))
            assert a == b, (q, k, mode)   # exact: ids, scores, order


def test_selective_skips_shards(spark, sel_index):
    stats: dict = {}
    out = selective_search(sel_index, "jaguar speed", k=5, m0=1,
                           stats=stats)
    assert _rows(out) == _rows(search(sel_index, "jaguar speed", k=5,
                                      mode="wand", local=False))
    assert stats["shards_total"] >= 5
    # the high-tf docs all live in shard 0; tf=1 shards bound far
    # below theta, so phase 2 must escalate none of them
    assert stats["shards_phase1"] == 1
    assert stats["shards_phase2"] == 0


def test_tie_pair_crosses_shards(spark, sel_index):
    # docs 250 and 450 are identical -> identical scores; the winner
    # must be doc 250 by the doc_id tie-break even when its shard is
    # only reached in phase 2
    stats: dict = {}
    a = _rows(selective_search(sel_index, "twin", k=1, m0=1,
                               stats=stats))
    b = _rows(search(sel_index, "twin", k=1, mode="wand", local=False))
    assert a == b and a[0][0] == 250


def test_bounds_are_sound(spark, sel_index):
    # every returned score must sit at or below its shard's UB
    qmeta = sel_index.lookup_query("jaguar speed")
    ub = dict(shard_bounds(sel_index, qmeta))
    for doc, score in _rows(search(sel_index, "jaguar speed", k=50,
                                   mode="wand", local=False)):
        assert score <= ub[doc // 100] + 1e-12


def test_selective_boosts_and_empty(spark, sel_index):
    a = _rows(selective_search(sel_index, "jaguar^2 speed", k=10))
    b = _rows(search(sel_index, "jaguar^2 speed", k=10, mode="wand",
                     local=False))
    assert a == b
    assert selective_search(sel_index, "zzz qqq", k=10).count() == 0


def test_selective_with_deletions(spark, sel_index, tmp_path_factory):
    from irkit_spark.operators.delete import delete_docs
    out = str(tmp_path_factory.mktemp("seldel") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(sel_index.path, out)
    delete_docs(spark, out, predicate="doc_id % 3 = 0")
    idx = Index(spark, out)
    for q in ("jaguar speed", "twin"):
        a = _rows(selective_search(idx, q, k=10))
        b = _rows(search(idx, q, k=10, mode="wand", local=False))
        assert a == b, q
    # doc 250 deleted? 250 % 3 != 0 -> survives; 450 % 3 == 0 -> gone
    assert _rows(selective_search(idx, "twin", k=2))[0][0] == 250


def test_selective_cogroup_path_identical(spark, sel_index):
    """selective_search on the cogroup side of the doc-length gate
    (dl_broadcast_max=0) returns exactly the broadcast side's rows."""
    slow = Index(spark, sel_index.path, dl_broadcast_max=0)
    assert slow.doc_len_broadcast() is None
    for mode in ("wand", "maxscore"):
        for q in QUERIES:
            a = _rows(selective_search(sel_index, q, k=10, mode=mode))
            b = _rows(selective_search(slow, q, k=10, mode=mode))
            assert a == b, (q, mode)


def test_selective_guards(spark, sel_index):
    with pytest.raises(ValueError, match="wand|maxscore"):
        selective_search(sel_index, "jaguar", mode="taat")
    with pytest.raises(ValueError, match="m0"):
        selective_search(sel_index, "jaguar", m0=0)


def test_shard_stats_artifact(spark, sel_index):
    # persisted Taily-style shard map: same bounds (same aggregate,
    # materialized), selective stays exact; stale stats are ignored
    import os
    import time

    from irkit_spark.operators.selective import (_shard_stats_df,
                                                 build_shard_stats)
    qmeta = sel_index.lookup_query("jaguar speed")
    before = shard_bounds(sel_index, qmeta)
    build_shard_stats(spark, sel_index.path)
    assert _shard_stats_df(sel_index) is not None
    after = shard_bounds(sel_index, qmeta)
    assert [s for s, _ in after] == [s for s, _ in before]
    for (_, a), (_, b) in zip(after, before):
        assert a == pytest.approx(b, rel=1e-9)
    a = _rows(selective_search(sel_index, "jaguar speed", k=10))
    b = _rows(search(sel_index, "jaguar speed", k=10, mode="wand",
                     local=False))
    assert a == b
    # a postings commit NEWER than the stats must disable them
    time.sleep(0.02)
    os.utime(os.path.join(sel_index.path, "postings", "_SUCCESS"))
    assert _shard_stats_df(sel_index) is None


def test_selective_quantized(spark, tmp_path_factory):
    # 7-bit impact-quantized index: block max_score is the quantized
    # bound and bound_slack covers the gap — selection must stay exact
    # vs the quantized search() path
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("selq") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, _mk_docs(spark, 300), out, docs_per_shard=100,
                doc_id_col="doc_id", key_col="doc_id", n_parts=8,
                quantize=True)
    idx = Index(spark, out)
    for q in ("jaguar speed", "twin", "pad1 jaguar"):
        a = _rows(selective_search(idx, q, k=10))
        b = _rows(search(idx, q, k=10, mode="wand", local=False))
        assert a == b, q
