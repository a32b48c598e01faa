"""Tiered serving (operators/tiered.py): the impact tier bootstraps
theta, phase 2 stays exact — equality vs the distributed search() path
across kappa values, plus the observables (tier strictly smaller,
shards skipped) and the freshness / fallback / deletion rules."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from irkit_spark.operators.query import Index, search
from irkit_spark.operators.tiered import (_tier_df, build_impact_tier,
                                          tiered_search)


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _mk_docs(spark, n=600):
    # same shape as test_selective: competitive docs concentrated in
    # shard 0 with a wide tf spread (so impact pruning bites), weak
    # scattered matches, an exact cross-shard tie pair
    docs = []
    for i in range(n):
        parts = []
        if i < 10:
            parts += ["jaguar"] * (20 - i) + ["speed"] * (18 - i)
        elif i % 97 == 0:
            parts += ["jaguar"]
        elif i % 89 == 0:
            parts += ["speed"]
        if i in (250, 450):
            parts = ["jaguar", "speed", "twin", "twin"]
        parts += [f"pad{i % 7}"] * (3 + i % 5)
        docs.append((i, f"u{i}", " ".join(parts)))
    return spark.createDataFrame(docs,
                                 "doc_id long, url string, text string")


@pytest.fixture(scope="module")
def tier_index(spark, tmp_path_factory):
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("tieridx") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, _mk_docs(spark), out, docs_per_shard=100,
                doc_id_col="doc_id", key_col="doc_id", n_parts=8,
                block_size=8)      # small blocks: pruning has grain
    m = build_impact_tier(spark, out, kappa=0.75)
    # the tier must be a strict subset (the corpus has a wide tf_norm
    # spread per term, so kappa=0.5 drops blocks)
    assert m["blocks"] < m["blocks_full"]
    assert m["rows"] <= m["rows_full"]
    return Index(spark, out)


QUERIES = ["jaguar speed", "jaguar", "speed twin",
           "jaguar speed nosuchterm", "pad1 jaguar"]


@pytest.mark.parametrize("mode", ["wand", "maxscore"])
def test_tiered_equals_search(spark, tier_index, mode):
    for q in QUERIES:
        for k in (3, 10, 700):          # k > total matches included
            a = _rows(tiered_search(tier_index, q, k=k, mode=mode))
            b = _rows(search(tier_index, q, k=k, mode=mode,
                             local=False))
            assert a == b, (q, k, mode)   # exact: ids, scores, order


def test_tiered_skips_shards(spark, tier_index):
    stats: dict = {}
    out = tiered_search(tier_index, "jaguar speed", k=5, stats=stats)
    assert _rows(out) == _rows(search(tier_index, "jaguar speed", k=5,
                                      mode="wand", local=False))
    assert stats["tier_used"]
    assert stats["theta"] > 0
    # the high-tf docs all live in shard 0; theta from the tier must
    # cut the weak shards out of phase 2 entirely
    assert stats["shards_searched"] < stats["shards_total"]


def test_tie_pair_crosses_shards(spark, tier_index):
    # docs 250 and 450 are identical -> identical scores; the doc_id
    # tie-break must survive the theta cut ("keep is >=" + deflation)
    a = _rows(tiered_search(tier_index, "twin", k=1))
    b = _rows(search(tier_index, "twin", k=1, mode="wand", local=False))
    assert a == b and a[0][0] == 250


def test_kappa_extremes(spark, tmp_path_factory):
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("tierex") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, _mk_docs(spark, 300), out, docs_per_shard=100,
                doc_id_col="doc_id", key_col="doc_id", n_parts=8,
                block_size=8)
    # kappa=0: tier == index (every block kept), still exact
    m0 = build_impact_tier(spark, out, kappa=0.0)
    assert m0["blocks"] == m0["blocks_full"]
    idx = Index(spark, out)
    assert _rows(tiered_search(idx, "jaguar speed", k=10)) == _rows(
        search(idx, "jaguar speed", k=10, mode="wand", local=False))
    # kappa=1: only each term's best block(s) survive — the most
    # aggressive tier must still yield exact answers via phase 2
    m1 = build_impact_tier(spark, out, kappa=1.0)
    assert m1["blocks"] < m0["blocks"]
    idx = Index(spark, out)
    for q in ("jaguar speed", "twin", "pad1 jaguar"):
        a = _rows(tiered_search(idx, q, k=10))
        b = _rows(search(idx, q, k=10, mode="wand", local=False))
        assert a == b, q
    with pytest.raises(ValueError, match="kappa"):
        build_impact_tier(spark, out, kappa=1.5)


def test_fallback_without_tier(spark, tmp_path_factory):
    # never built -> tier_used False, plain exact search
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("tiernone") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, _mk_docs(spark, 300), out, docs_per_shard=100,
                doc_id_col="doc_id", key_col="doc_id", n_parts=8)
    idx = Index(spark, out)
    stats: dict = {}
    a = _rows(tiered_search(idx, "jaguar speed", k=10, stats=stats))
    b = _rows(search(idx, "jaguar speed", k=10, mode="wand",
                     local=False))
    assert a == b
    assert stats["tier_used"] is False
    assert stats["shards_searched"] == stats["shards_total"]


def test_stale_tier_ignored(spark, tier_index):
    # a postings commit NEWER than the tier must disable it (a stale
    # tier setting theta could be WRONG, not just slow)
    assert _tier_df(tier_index) is not None
    time.sleep(0.02)
    os.utime(os.path.join(tier_index.path, "postings", "_SUCCESS"))
    try:
        assert _tier_df(tier_index) is None
        stats: dict = {}
        a = _rows(tiered_search(tier_index, "jaguar speed", k=10,
                                stats=stats))
        assert stats["tier_used"] is False
        assert a == _rows(search(tier_index, "jaguar speed", k=10,
                                 mode="wand", local=False))
    finally:
        # restore freshness for later tests in the module
        time.sleep(0.02)
        os.utime(os.path.join(tier_index.path, "postings_tier",
                              "_SUCCESS"))


def test_tiered_with_deletions(spark, tier_index, tmp_path_factory):
    # phase 1 must mask tombstones too — a deleted doc inflating theta
    # above the best live k-th score would drop live answers
    from irkit_spark.operators.delete import delete_docs
    out = str(tmp_path_factory.mktemp("tierdel") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(tier_index.path, out)
    delete_docs(spark, out, predicate="doc_id < 9")  # the top docs
    idx = Index(spark, out)
    for q in ("jaguar speed", "twin"):
        a = _rows(tiered_search(idx, q, k=10))
        b = _rows(search(idx, q, k=10, mode="wand", local=False))
        assert a == b, q
    assert all(d >= 9 for d, _ in
               _rows(tiered_search(idx, "jaguar speed", k=10)))


def test_tiered_cogroup_path_identical(spark, tier_index):
    """tiered_search on the cogroup side of the doc-length gate
    (dl_broadcast_max=0) returns exactly the broadcast side's rows, in
    both phases and for every scorer."""
    slow = Index(spark, tier_index.path, dl_broadcast_max=0)
    assert slow.doc_len_broadcast() is None
    for scorer in ("bm25", "ql"):
        for q in QUERIES:
            a = _rows(tiered_search(tier_index, q, k=10, scorer=scorer))
            b = _rows(tiered_search(slow, q, k=10, scorer=scorer))
            assert a == b, (q, scorer)


def test_tiered_boosts_empty_and_guards(spark, tier_index):
    a = _rows(tiered_search(tier_index, "jaguar^2 speed", k=10))
    b = _rows(search(tier_index, "jaguar^2 speed", k=10, mode="wand",
                     local=False))
    assert a == b
    assert tiered_search(tier_index, "zzz qqq", k=10).count() == 0
    with pytest.raises(ValueError, match="wand|maxscore"):
        tiered_search(tier_index, "jaguar", mode="taat")


@pytest.mark.parametrize("scorer", ["ql", "jm"])
def test_tiered_ql_jm(spark, tier_index, scorer):
    # the BM25-shaped tier still bounds QL/JM soundly (tier scores
    # omit only non-negative contributions); no shard cut for these
    for q in ("jaguar speed", "twin", "pad1 jaguar"):
        a = _rows(tiered_search(tier_index, q, k=10, scorer=scorer))
        b = _rows(search(tier_index, q, k=10, mode="wand",
                         scorer=scorer, local=False))
        assert a == b, (q, scorer)
    stats: dict = {}
    out = tiered_search(tier_index, "jaguar speed", k=5, scorer=scorer,
                        stats=stats)
    assert _rows(out) == _rows(search(tier_index, "jaguar speed", k=5,
                                      mode="wand", scorer=scorer,
                                      local=False))
    assert stats["tier_used"] and stats["shards_searched"] == -1
    with pytest.raises(ValueError, match="scorer"):
        tiered_search(tier_index, "jaguar", scorer="nope")


def test_tiered_quantized(spark, tmp_path_factory):
    # impact-quantized index: block max_score is the quantized bound;
    # tier + theta + phase 2 must stay exact vs the quantized search()
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("tierq") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, _mk_docs(spark, 300), out, docs_per_shard=100,
                doc_id_col="doc_id", key_col="doc_id", n_parts=8,
                quantize=True, block_size=8)
    build_impact_tier(spark, out, kappa=0.75)
    idx = Index(spark, out)
    for q in ("jaguar speed", "twin", "pad1 jaguar"):
        a = _rows(tiered_search(idx, q, k=10))
        b = _rows(search(idx, q, k=10, mode="wand", local=False))
        assert a == b, q
    with pytest.raises(ValueError, match="quantized"):
        tiered_search(idx, "jaguar", scorer="ql")
