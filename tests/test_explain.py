"""explain_query (operators/explain.py): the zero-decode query report
— term stats, routing, artifact freshness, optional shard bounds."""

from __future__ import annotations

import shutil

import pytest

from irkit_spark.operators.explain import explain_query
from irkit_spark.operators.query import Index


@pytest.fixture(scope="module")
def exp_index(spark, tmp_path_factory):
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("expidx") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    docs = [(i, f"u{i}", f"alpha beta{' gamma' * (i % 3)} pad{i % 5}")
            for i in range(300)]
    build_index(spark,
                spark.createDataFrame(
                    docs, "doc_id long, url string, text string"),
                out, docs_per_shard=100, doc_id_col="doc_id",
                key_col="doc_id", n_parts=8)
    return Index(spark, out)


def test_explain_terms_route_and_artifacts(spark, exp_index):
    r = explain_query(exp_index, "alpha gamma nosuchterm", k=10)
    assert [t["term"] for t in r["terms"]] == ["alpha", "gamma"]
    assert r["oov_terms"] == ["nosuchterm"]
    assert r["n_terms"] == 2
    # alpha in all 300 docs, gamma in the i%3 != 0 two-thirds
    dfs = {t["term"]: t["df"] for t in r["terms"]}
    assert dfs["alpha"] == 300 and dfs["gamma"] == 200
    assert r["est_postings"] == 500
    assert r["route"] == "local"           # tiny query, driver kernel
    assert r["index"]["n_docs"] == 300
    assert r["index"]["n_shards_max"] == 3
    assert r["deletions"] is False
    # nothing built yet -> every acceleration artifact absent
    assert r["artifacts"] == {"shard_stats": "absent",
                              "postings_tier": "absent",
                              "positions": "absent"}
    # term_id ascending (the kernel's pinned add order)
    tids = [t["term_id"] for t in r["terms"]]
    assert tids == sorted(tids)


def test_explain_boosts_empty_and_bounds(spark, exp_index):
    r = explain_query(exp_index, "alpha^2 gamma")
    boosts = {t["term"]: t["boost"] for t in r["terms"]}
    assert boosts == {"alpha": 2.0, "gamma": 1.0}
    r = explain_query(exp_index, "zzz qqq")
    assert r["route"] == "empty" and r["terms"] == []
    r = explain_query(exp_index, "alpha gamma", with_shard_bounds=True)
    bs = r["shard_bounds"]
    assert len(bs) == 3                    # every shard holds alpha
    assert bs == sorted(bs, key=lambda su: (-su[1], su[0]))
    # route must mirror the config gate, not a copy of it
    from irkit_spark import config
    assert (r["est_postings"] <= config.LOCAL_QUERY_MAX_POSTINGS) == (
        r["route"] == "local")


def test_explain_route_follows_search_gate(spark, exp_index):
    """route names the path search(local=None) takes, so it applies the
    whole driver-kernel gate: a handle forced over the doc-length
    broadcast cap runs distributed however few postings the query
    touches."""
    from irkit_spark import config
    from irkit_spark.operators.query import search
    forced = Index(spark, exp_index.path, dl_broadcast_max=0)
    r = explain_query(forced, "alpha gamma")
    assert r["est_postings"] <= config.LOCAL_QUERY_MAX_POSTINGS
    assert r["route"] == "distributed"
    with pytest.raises(ValueError, match="driver-kernel gate"):
        search(forced, "alpha gamma", 10, local=True)
    assert explain_query(exp_index, "alpha gamma")["route"] == "local"


def test_explain_sees_fresh_then_stale_artifacts(spark, exp_index):
    import os
    import time

    from irkit_spark.operators.selective import build_shard_stats
    from irkit_spark.operators.tiered import build_impact_tier
    build_shard_stats(spark, exp_index.path)
    build_impact_tier(spark, exp_index.path, kappa=0.7)
    r = explain_query(exp_index, "alpha")
    assert r["artifacts"]["shard_stats"] == "fresh"
    assert r["artifacts"]["postings_tier"] == "fresh"
    time.sleep(0.02)
    os.utime(os.path.join(exp_index.path, "postings", "_SUCCESS"))
    r = explain_query(exp_index, "alpha")
    assert r["artifacts"]["shard_stats"] == "stale"
    assert r["artifacts"]["postings_tier"] == "stale"


def test_explain_score_reproduces_search(spark, exp_index):
    from irkit_spark.operators.explain import explain_score
    from irkit_spark.operators.query import search
    q = "alpha gamma"
    top = search(exp_index, q, 5, "wand").collect()
    for r in top[:3]:
        rows = explain_score(exp_index, q, r.doc_id).collect()
        assert sum(x.contribution for x in rows) == pytest.approx(
            r.score, abs=1e-9)
        assert [x.term for x in rows] == sorted(x.term for x in rows)
        # idf * tf_norm == contribution, per row
        for x in rows:
            assert x.contribution == pytest.approx(x.idf * x.tf_norm,
                                                   abs=1e-12)
    # a doc with only one of the terms explains with one row
    one = explain_score(exp_index, q, 0).collect()   # i%3==0: no gamma
    assert [x.term for x in one] == ["alpha"] and one[0].tf == 1


def test_explain_score_edges(spark, exp_index):
    from irkit_spark.operators.explain import explain_score
    assert explain_score(exp_index, "nosuchterm", 0).count() == 0
    assert explain_score(exp_index, "alpha", 10**9).count() == 0
