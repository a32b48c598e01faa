"""TAAT vs DAAT vs block-max WAND rank-identity + brute-force oracle
(SURVEY.md §5.4/5.5 ≙ irkit test_taat/test_daat; BASELINE.json:14)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from irkit_spark.config import BM25_B, BM25_K1
from irkit_spark.functions.scoring import bm25
from irkit_spark.functions.tokenize import tokenize
from irkit_spark.operators.query import search
from irkit_spark.sources.queries import query_set

QUERIES = [q for q in query_set(18)]


@pytest.fixture(scope="module")
def token_table(spark, pages_small):
    """Brute-force pandas oracle input: (doc_id, term, tf, dl) + urls."""
    from irkit_spark.operators.build import tokenize_spark
    from irkit_spark.plans.dense_ids import assign_dense_ids
    ids = assign_dense_ids(pages_small, "url", "doc_id", 64)
    tok = tokenize_spark(ids, "doc_id", "text").toPandas()
    n_docs = ids.count()
    return tok, n_docs


def brute_force_topk(tok: pd.DataFrame, n_docs: int, query: str, k: int):
    """Pure-pandas BM25 oracle (SURVEY.md §5.5)."""
    terms = sorted(set(tokenize(query)))
    sub = tok[tok["term"].isin(terms)]
    if sub.empty:
        return []
    dfs = sub.groupby("term")["doc_id"].nunique()
    dl_all = tok.groupby("doc_id")["dl"].first()
    avgdl = float(dl_all.reindex(range(n_docs), fill_value=0).mean())
    scores: dict[int, float] = {}
    for term in terms:                     # ascending term order
        rows = sub[sub["term"] == term]
        if rows.empty:
            continue
        s = bm25(rows["tf"].to_numpy(), float(dfs[term]),
                 rows["dl"].to_numpy(), float(n_docs), avgdl)
        for d, v in zip(rows["doc_id"].to_numpy(), s):
            scores[int(d)] = scores.get(int(d), 0.0) + float(v)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return ranked


def assert_rank_identical(a, b, k):
    """Rank identity up to float ties: identical after canonical
    re-sort by (rounded score, doc_id); membership may differ only
    inside the k-boundary tie group (scores equal at 6dp)."""
    ca = sorted(((d, round(s, 6)) for d, s in a),
                key=lambda x: (-x[1], x[0]))
    cb = sorted(((d, round(s, 6)) for d, s in b),
                key=lambda x: (-x[1], x[0]))
    assert len(ca) == len(cb)
    if ca == cb:
        return
    # allow divergence only within the boundary tie score
    cut = min(ca[-1][1], cb[-1][1])
    ha = [x for x in ca if x[1] > cut]
    hb = [x for x in cb if x[1] > cut]
    assert ha == hb, (ha[:5], hb[:5])
    ta = {x for x in ca if x[1] == cut}
    tb = {x for x in cb if x[1] == cut}
    assert {s for _, s in ta | tb} == {cut}


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: f"q{q['query_id']}")
def test_rank_identity(q, spark, index_small, token_table):
    idx, _ = index_small
    tok, n_docs = token_table
    k = q["k"]
    res = {}
    for mode in ("taat", "daat", "wand", "maxscore"):
        rows = search(idx, q["query"], k=k, mode=mode).collect()
        res[mode] = [(r["doc_id"], r["score"]) for r in rows]
    # DAAT, WAND and max-score are pinned to the same add order ->
    # bit-identical (both pruners are lossless)
    assert res["daat"] == res["wand"]
    assert res["daat"] == res["maxscore"]
    # TAAT: same ranking up to float ties; per-doc scores to 1e-9
    assert_rank_identical(res["taat"], res["daat"], k)
    daat_scores = dict(res["daat"])
    for d, s in res["taat"]:
        if d in daat_scores:
            assert s == pytest.approx(daat_scores[d], abs=1e-9)
    # brute-force pandas oracle
    want = brute_force_topk(tok, n_docs, q["query"], k)
    assert_rank_identical(res["daat"], want, k)
    want_scores = dict(want)
    for d, s in res["daat"]:
        if d in want_scores:
            assert s == pytest.approx(want_scores[d], abs=1e-9)


def test_oov_query_empty(index_small):
    idx, _ = index_small
    assert search(idx, "zzoovq qqvooz", 10, "wand").count() == 0
    assert search(idx, "", 10, "daat").count() == 0


def test_wand_prunes_but_lossless(index_small):
    """k=10 on a head-heavy query: WAND must equal DAAT exactly (the
    pruning-losslessness core test, SURVEY.md Q5)."""
    idx, _ = index_small
    q = "term00000 term00001 term00002 term00003"
    a = search(idx, q, 10, "wand").collect()
    b = search(idx, q, 10, "daat").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
        [(r["doc_id"], r["score"]) for r in b]


def test_ql_scorer_matches_text_oracle(spark, index_small, pages_small):
    """Index-backed Dirichlet QL (daat + taat) == text-path QL oracle
    (Q2; same decomposition, values to 6dp)."""
    from irkit_spark.operators.sqlpath import ql_topk_text
    idx, _ = index_small
    docs_txt = (idx.docs.select("doc_id", "url")
                .join(pages_small.select("url", "text"), "url")
                .select("doc_id", "text"))
    q = "term00003 term00150"
    want = [(r["doc_id"], r["score"])
            for r in ql_topk_text(docs_txt, q, 10).collect()]
    for mode in ("daat", "taat"):
        got = [(r["doc_id"], round(r["score"], 6))
               for r in search(idx, q, 10, mode, scorer="ql").collect()]
        assert got == want, mode


@pytest.mark.parametrize("scorer", ["ql", "jm"])
@pytest.mark.parametrize("mode", ["wand", "maxscore"])
def test_ql_jm_pruning_lossless(index_small, scorer, mode):
    """QL/JM under dynamic pruning == exhaustive DAAT bit-identically
    (VERDICT r5 item 6): term-level bounds from tf <= dl and tf <= cf,
    QL's doc-level adjustment folded into the threshold. Head-heavy and
    rare-term queries, distributed and local serving paths."""
    idx, _ = index_small
    for q in ("term00000 term00001 term00002 term00003",
              "term00003 term00150",
              "term00150"):
        want = [(r["doc_id"], r["score"])
                for r in search(idx, q, 10, "daat", scorer=scorer,
                                local=False).collect()]
        got = [(r["doc_id"], r["score"])
               for r in search(idx, q, 10, mode, scorer=scorer,
                               local=False).collect()]
        assert got == want, (scorer, mode, q)
        loc = [(r["doc_id"], r["score"])
               for r in search(idx, q, 10, mode, scorer=scorer,
                               local=True).collect()]
        assert loc == want, (scorer, mode, q, "local")


def test_jm_scorer_matches_text_oracle(spark, index_small, pages_small):
    """Index-backed Jelinek-Mercer QL (daat kernel, taat fused, taat
    over-gate join path, local serving, and-mode) == text-path JM
    oracle (same per-matched-posting decomposition, values to 6dp)."""
    from irkit_spark.operators.query import Index
    from irkit_spark.operators.sqlpath import jm_topk_text
    idx, _ = index_small
    docs_txt = (idx.docs.select("doc_id", "url")
                .join(pages_small.select("url", "text"), "url")
                .select("doc_id", "text"))
    q = "term00003 term00150"
    want = [(r["doc_id"], r["score"])
            for r in jm_topk_text(docs_txt, q, 10).collect()]
    assert want
    for mode in ("daat", "taat"):
        got = [(r["doc_id"], round(r["score"], 6))
               for r in search(idx, q, 10, mode, scorer="jm",
                               local=False).collect()]
        assert got == want, mode
    loc = [(r["doc_id"], round(r["score"], 6))
           for r in search(idx, q, 10, "daat", scorer="jm",
                           local=True).collect()]
    assert loc == want
    # over the dl-broadcast gate: taat joins the docs table, daat/and
    # take the cogrouped kernel — all must agree with the oracle
    idx_slow = Index(spark, idx.path, dl_broadcast_max=0)
    for mode in ("taat", "daat"):
        slow = [(r["doc_id"], round(r["score"], 6))
                for r in search(idx_slow, q, 10, mode,
                                scorer="jm").collect()]
        assert slow == want, mode


def test_jm_conjunctive_scores(spark, index_small):
    """and-mode JM: the intersection's docs score exactly as the
    disjunctive JM run scores them."""
    idx, _ = index_small
    q = "term00000 term00003"
    daat = {r["doc_id"]: round(r["score"], 9)
            for r in search(idx, q, 2000, "daat", scorer="jm",
                            local=False).collect()}
    conj = [(r["doc_id"], round(r["score"], 9))
            for r in search(idx, q, 50, "and", scorer="jm",
                            local=False).collect()]
    assert conj
    for d, s in conj:
        assert daat[d] == s


def test_jm_guards(index_small):
    idx, _ = index_small
    import pytest as _pt
    with _pt.raises(ValueError, match="term boosts"):
        search(idx, "term00001^2", 10, "daat", scorer="jm")


def test_conjunctive_intersection(spark, index_small, pages_small):
    """mode='and' (J1: posting-list intersection inside mapInPandas)
    == the conjunctive BM25 text oracle."""
    from irkit_spark.operators.sqlpath import bm25_conjunctive_topk_text
    idx, _ = index_small
    docs_txt = (idx.docs.select("doc_id", "url")
                .join(pages_small.select("url", "text"), "url")
                .select("doc_id", "text"))
    for q in ["term00000 term00001", "term00002 term00010 term00050",
              "term00001 zzoovq"]:          # OOV dropped, not fatal
        want = [(r["doc_id"], r["score"])
                for r in bm25_conjunctive_topk_text(docs_txt, q, 10)
                .collect()]
        got = [(r["doc_id"], round(r["score"], 6))
               for r in search(idx, q, 10, "and").collect()]
        assert got == want, q
    # all-OOV conjunctive -> empty
    assert search(idx, "zzoovq qqvooz", 10, "and").count() == 0


def test_dl_broadcast_and_cogroup_paths_identical(spark, index_small):
    """The gated doc-length-broadcast fast path (no docs shuffle per
    query) must return exactly the cogrouped path's results on every
    mode, and the gate must actually select the expected plan."""
    from irkit_spark.operators.query import Index
    idx_fast, _ = index_small
    assert idx_fast.doc_len_broadcast() is not None    # under the cap
    idx_slow = Index(spark, idx_fast.path, dl_broadcast_max=0)
    assert idx_slow.doc_len_broadcast() is None        # forced cogroup
    for q, k, mode in [("term00000 term00003 term00123", 10, "wand"),
                       ("term00001 term00010", 100, "daat"),
                       ("term00000 term00002", 10, "and"),
                       # taat: fused decode+score (broadcast) vs the
                       # docs-table join fallback must agree exactly
                       ("term00000 term00003 term00123", 10, "taat")]:
        fast = [(r["doc_id"], round(r["score"], 9))
                for r in search(idx_fast, q, k, mode).collect()]
        slow = [(r["doc_id"], round(r["score"], 9))
                for r in search(idx_slow, q, k, mode).collect()]
        assert fast == slow and fast


def test_batch_search_cogroup_path_identical(spark, index_small):
    """batch_search on the cogroup side of the doc-length gate
    (dl_broadcast_max=0) returns exactly the broadcast side's rows."""
    from irkit_spark.operators.query import Index, batch_search
    idx_fast, _ = index_small
    idx_slow = Index(spark, idx_fast.path, dl_broadcast_max=0)
    assert idx_slow.doc_len_broadcast() is None
    qs = {"a": "term00000 term00003 term00123",
          "b": "term00001 term00010",
          "c": "term00002 term00005 term00050"}
    for mode in ("wand", "daat", "and"):
        fast = [tuple(r) for r in
                batch_search(idx_fast, qs, k=10, mode=mode).collect()]
        slow = [tuple(r) for r in
                batch_search(idx_slow, qs, k=10, mode=mode).collect()]
        assert fast == slow and fast, mode


BATCH_QS = {"a": "term00000 term00003 term00123",
            "b": "term00001 term00010",
            "oov": "zzzznotaterm",
            "c": "term00002 term00005 term00050"}


@pytest.mark.parametrize("mode", ["wand", "daat", "maxscore", "and"])
def test_batch_search_routes_identical(index_small, monkeypatch, mode):
    """batch_search's driver-kernel route (the default while the set's
    summed df fits LOCAL_QUERY_MAX_POSTINGS) returns exactly the rows,
    in the same order, of the distributed route forced by a gate of
    0."""
    from irkit_spark import config
    from irkit_spark.operators.query import batch_search
    idx, _ = index_small
    driver = [tuple(r) for r in
              batch_search(idx, BATCH_QS, k=10, mode=mode).collect()]
    monkeypatch.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", 0)
    dist = [tuple(r) for r in
            batch_search(idx, BATCH_QS, k=10, mode=mode).collect()]
    assert driver == dist and driver


def test_batch_search_driver_route_warm_runs_no_jobs(index_small,
                                                     monkeypatch,
                                                     count_jobs):
    """A warm batch_search(...).collect() on the driver route schedules
    no Spark job; the forced distributed route keeps its 2 (the
    postings scan + shard kernels, and the driver merge's collect)."""
    from irkit_spark import config
    from irkit_spark.operators.query import batch_search
    idx, _ = index_small

    def run():
        return batch_search(idx, BATCH_QS, k=10).collect()
    run()                                   # warm the driver caches
    rows, n = count_jobs(run)
    assert n == 0 and len(rows) == 30
    monkeypatch.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", 0)
    run()
    dist, n = count_jobs(run)
    assert n == 2 and dist == rows


def test_batch_search_gate_counts_every_query(index_small, monkeypatch,
                                              count_jobs):
    """The driver route sweeps the queries one after another, so its
    gate adds each query's summed df over the set: two copies of one
    query cost twice one query's postings although their union is one
    query's. At a gate of exactly that union the set runs distributed;
    at twice it, on the driver."""
    from irkit_spark import config
    from irkit_spark.operators.query import batch_search, query_meta
    idx, _ = index_small
    text = "term00000 term00003 term00123"
    one = sum(m["df"] for m in query_meta(idx, text)[1])
    qs = {"a": text, "b": text}

    def run():
        return batch_search(idx, qs, k=10).collect()
    run()                                   # warm the driver caches
    monkeypatch.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", one)
    dist, n_dist = count_jobs(run)
    monkeypatch.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", 2 * one)
    driver, n_driver = count_jobs(run)
    assert (n_dist, n_driver) == (2, 0)
    assert driver == dist and len(driver) == 20


def test_post_cache_eviction(spark, index_small, monkeypatch):
    """Above Index._POST_CACHE_MAX postings the driver cache drops
    every term but the current query's: after two local queries on
    disjoint terms only the second query's terms remain, __n counts
    exactly their postings, and both results equal the distributed
    path's."""
    from irkit_spark.operators.query import Index
    idx, _ = index_small
    monkeypatch.setattr(Index, "_post_cache", {})
    monkeypatch.setattr(Index, "_POST_CACHE_MAX", 1)
    monkeypatch.setattr(idx, "_post_local", None)
    q1, q2 = "term00003 term00150", "term00007 term00222"
    for q in (q1, q2):
        loc = [(r["doc_id"], r["score"]) for r in
               search(idx, q, 10, "wand", local=True).collect()]
        dist = [(r["doc_id"], r["score"]) for r in
                search(idx, q, 10, "wand", local=False).collect()]
        assert loc == dist and loc, q
    key, ver = idx._artifact_key("postings")
    cache = Index._post_cache[key][1] if ver is not None \
        else idx._post_local
    meta2 = idx.lookup_query(q2)
    assert set(cache) - {"__n"} == {m["term_id"] for m in meta2}
    assert cache["__n"] == sum(m["df"] for m in meta2)


@pytest.fixture(scope="module")
def prune_index(spark, tmp_path_factory):
    """(index path, query, blocks of the query terms): 600 docs in one
    shard, where a rare term's narrow doc range lets WAND skip most of
    a stopword's blocks."""
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index
    from pyspark.sql import functions as F
    rows = []
    for i in range(600):
        extra = " rareword" if 5 <= i < 10 else ""
        rows.append((f"https://x.example/{i:05d}",
                     "common " * 3 + f"filler{i % 37}" + extra))
    df = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path_factory.mktemp("prune") / "idx")
    build_index(spark, df, out, docs_per_shard=1000)
    idx = Index(spark, out)
    q = "common rareword"
    tids = [m["term_id"] for m in idx.lookup_query(q)]
    post = idx.postings.filter(F.col("term_id").isin(tids)).toPandas()
    total_blocks = int(post["blocks"].map(len).sum())
    assert total_blocks >= 5
    return out, q, total_blocks


def test_wand_skips_blocks(spark, prune_index):
    """Pruning evidence: a rare term's narrow doc range prunes the
    stopword's far blocks — the WAND kernel must decode strictly fewer
    blocks than exist (driver-side direct kernel call with a counting
    decoder), and still return the exact DAAT result."""
    import irkit_spark.operators.query as qmod
    from irkit_spark.functions.codecs import CODECS
    from irkit_spark.operators.query import Index
    from pyspark.sql import functions as F
    out, q, total_blocks = prune_index
    idx = Index(spark, out)
    qmeta = idx.lookup_query(q)
    tids = [m["term_id"] for m in qmeta]
    post = idx.postings.filter(F.col("term_id").isin(tids)).toPandas()
    docs = idx.docs.select("partition_id", "doc_id", "doc_len").toPandas()

    calls = {"n": 0}
    real = CODECS[idx.codec]

    def counting_dec(buf, n):
        calls["n"] += 1
        return real[1](buf, n)

    CODECS[idx.codec] = (real[0], counting_dec)
    try:
        kern = qmod._shard_kernel(qmeta, idx.avgdl, idx.codec, 3,
                                  idx.docs_per_shard, "wand")
        out_w = kern(post, docs)
        wand_block_decodes = calls["n"] / 2   # 2 codec calls per block
        calls["n"] = 0
        kern_d = qmod._shard_kernel(qmeta, idx.avgdl, idx.codec, 3,
                                    idx.docs_per_shard, "daat")
        out_d = kern_d(post, docs)
    finally:
        CODECS[idx.codec] = real
    assert wand_block_decodes < total_blocks     # blocks were skipped
    assert list(map(tuple, out_w.itertuples(index=False))) == \
        list(map(tuple, out_d.itertuples(index=False)))  # still lossless

    # max-score: the stopword's term-level bound falls below the seeded
    # theta, so it becomes non-essential — candidates come from the rare
    # term only and the stopword is decoded selectively (fewer blocks
    # than exist), with the exact DAAT result
    calls["n"] = 0
    CODECS[idx.codec] = (real[0], counting_dec)
    try:
        kern_m = qmod._shard_kernel(qmeta, idx.avgdl, idx.codec, 3,
                                    idx.docs_per_shard, "maxscore")
        out_m = kern_m(post, docs)
        maxscore_block_decodes = calls["n"] / 2
    finally:
        CODECS[idx.codec] = real
    assert maxscore_block_decodes < total_blocks
    assert list(map(tuple, out_m.itertuples(index=False))) == \
        list(map(tuple, out_d.itertuples(index=False)))


def test_wand_skips_blocks_driver_route(spark, prune_index):
    """test_wand_skips_blocks on the driver route: a local=True WAND
    search on a fresh handle decodes, through the handle's
    decoded-block cache, fewer blocks than the query terms have, and
    returns daat's rows."""
    from irkit_spark.operators.query import Index
    out, q, total_blocks = prune_index
    idx = Index(spark, out)
    wand = [tuple(r) for r in search(idx, q, 3, "wand", local=True).collect()]
    decoded = sum(len(c) for c in idx._dec_cache.values())
    assert 0 < decoded < total_blocks
    assert wand == [tuple(r) for r in search(idx, q, 3, "daat").collect()]


def test_driver_route_frame_budget(index_small, monkeypatch, count_jobs):
    """A warm driver-route batch_search builds the same small, fixed
    number of pandas frames for 20 queries as for one (the kernel runs
    on numpy arrays; frames appear only at the Spark boundary), however
    many queries and shards the set touches."""
    import irkit_spark.operators.query as qmod
    from irkit_spark.operators.query import batch_search
    idx, _ = index_small
    frames = [0]

    class CountingPd:
        def __getattr__(self, name):
            return getattr(pd, name)

        def DataFrame(self, *a, **kw):
            frames[0] += 1
            return pd.DataFrame(*a, **kw)

    monkeypatch.setattr(qmod, "pd", CountingPd())
    qs = {str(q["query_id"]): q["query"] for q in query_set(20)}

    def built(queries):
        batch_search(idx, queries, k=10).collect()   # warm the caches
        before = frames[0]
        rows, n_jobs = count_jobs(
            lambda: batch_search(idx, queries, k=10).collect())
        assert n_jobs == 0 and rows             # the driver route
        return frames[0] - before

    one, many = built({"0": qs["0"]}), built(qs)
    assert one == many <= 2


def test_text_taat_oracle_path(spark, index_small, pages_small):
    """The SQL-shaped text path (operators/sqlpath.bm25_topk_text) agrees
    with the index-backed WAND on shared doc keys."""
    from irkit_spark.operators.sqlpath import bm25_topk_text
    idx, _ = index_small
    docs_txt = (idx.docs.select("doc_id", "url")
                .join(pages_small.select("url", "text"), "url")
                .select("doc_id", "text"))
    q = "term00004 term00200"
    a = [(r["doc_id"], round(r["score"], 6))
         for r in bm25_topk_text(docs_txt, q, 10).collect()]
    b = [(r["doc_id"], round(r["score"], 6))
         for r in search(idx, q, 10, "wand").collect()]
    assert a == b


@pytest.mark.parametrize("mode", ["wand", "maxscore", "daat", "and"])
def test_local_path_identity(spark, index_small, mode):
    """The driver-side serving kernel (search local=True) is
    bit-identical to the distributed per-shard path: same numpy
    kernel, same (-score, doc_id) merge order (VERDICT r3 item 4)."""
    idx, _ = index_small
    for q, k, excl in [("term00000 term00003 term00123", 10, None),
                       ("term00001 term00010", 25, None),
                       ("term00002 term00005 term00050", 100, None),
                       # NOT: the excluded term's blocks ride the same
                       # driver cache / postings scan and mask in-kernel
                       ("term00000 term00003 term00123", 25,
                        "term00001")]:
        dist = search(idx, q, k=k, mode=mode, local=False,
                      exclude_terms=excl).collect()
        loc = search(idx, q, k=k, mode=mode, local=True,
                     exclude_terms=excl).collect()
        assert [(r["doc_id"], r["score"]) for r in dist] == \
            [(r["doc_id"], r["score"]) for r in loc], (mode, q, excl)
    if mode == "daat":      # QL scorer through the local kernel too
        q = "term00001 term00010"
        dist = search(idx, q, 10, "daat", scorer="ql",
                      local=False).collect()
        loc = search(idx, q, 10, "daat", scorer="ql",
                     local=True).collect()
        assert [(r["doc_id"], r["score"]) for r in dist] == \
            [(r["doc_id"], r["score"]) for r in loc]


def test_local_path_gate_errors(spark, index_small, monkeypatch):
    idx, _ = index_small
    from irkit_spark import config
    monkeypatch.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", 0)
    with pytest.raises(ValueError, match="driver-kernel gate"):
        search(idx, "term00000", 10, "wand", local=True)
    # auto mode silently falls back to the distributed path
    assert search(idx, "term00000", 10, "wand").count() > 0
    with pytest.raises(ValueError, match="taat"):
        search(idx, "term00000", 10, "taat", local=True)


def test_local_path_warm_runs_no_jobs(index_small, count_jobs):
    """Once the term blocks are cached, a local query schedules ZERO
    Spark jobs, its collect included (per-query-ms serving — the
    irk-query analog)."""
    idx, _ = index_small
    q = "term00000 term00007 term00222"

    def run():
        return search(idx, q, 10, "wand", local=True).collect()
    run()                                   # warm the driver caches
    rows, n = count_jobs(run)
    assert n == 0 and len(rows) == 10


def test_search_distributed_job_budget(index_small, monkeypatch,
                                       count_jobs):
    """Warm forced-distributed search takes 2 Spark jobs, 5 with a
    doc_filter (its cogroup with the filtered docs shards), and a
    one-query forced-distributed batch_search takes the same counts
    and returns the same rows in the same order."""
    from irkit_spark import config
    from irkit_spark.operators.query import batch_search
    idx, _ = index_small
    q = "term00000 term00003 term00123"
    for pred, want in ((None, 2), ("doc_id % 3 = 0", 5)):
        def one():
            return [(r["doc_id"], r["score"]) for r in
                    search(idx, q, 10, "wand", local=False,
                           doc_filter=pred).collect()]

        def batch():
            with monkeypatch.context() as mp:
                mp.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", 0)
                return [(r["doc_id"], r["score"]) for r in
                        batch_search(idx, {"q": q}, 10, "wand",
                                     doc_filter=pred).collect()]
        one(), batch()                      # warm the driver caches
        rows, n_one = count_jobs(one)
        brows, n_batch = count_jobs(batch)
        assert (n_one, n_batch) == (want, want), pred
        assert rows == brows and len(rows) == 10, pred


def test_batch_search_matches_per_query(spark, index_small):
    """batch_search (one distributed pass for a query set) returns
    exactly what per-query search returns, k rows per query, same
    (-score, doc_id) order."""
    from irkit_spark.operators.query import batch_search
    idx, _ = index_small
    qs = {"a": "term00000 term00003 term00123",
          "b": "term00001 term00010",
          "oov": "zzzznotaterm",
          "c": "term00002 term00005 term00050"}
    got = batch_search(idx, qs, k=10, mode="wand").collect()
    by_qid: dict = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"]))
    assert "oov" not in by_qid
    for qid in ("a", "b", "c"):
        want = [(r["doc_id"], r["score"]) for r in
                search(idx, qs[qid], 10, "wand", local=False).collect()]
        assert by_qid[qid] == want, qid
    with pytest.raises(ValueError, match="daat"):
        batch_search(idx, qs, mode="taat")


def test_filtered_search(spark, index_small, token_table):
    """Filtered retrieval (doc_filter): top-k over the predicate-passing
    subset only, scores unchanged vs the unfiltered run (global stats),
    all three kernel modes bit-identical, and equal to a pandas
    brute-force oracle restricted the same way."""
    idx, _ = index_small
    tok, n_docs = token_table
    q, k, pred = "term00000 term00003 term00123", 10, "doc_id % 3 = 0"
    res = {}
    for mode in ("daat", "wand", "maxscore"):
        rows = search(idx, q, k=k, mode=mode, doc_filter=pred).collect()
        res[mode] = [(r["doc_id"], r["score"]) for r in rows]
    assert res["daat"] == res["wand"] == res["maxscore"]
    assert res["daat"], "filter should leave matches"
    assert all(d % 3 == 0 for d, _ in res["daat"])
    # scores are the GLOBAL-stats scores: every filtered hit present in
    # a deep unfiltered run carries the identical score
    unf = {r["doc_id"]: r["score"]
           for r in search(idx, q, k=1000, mode="daat").collect()}
    for d, s in res["daat"]:
        assert s == unf[d]
    # brute-force oracle over the same subset
    want = [(d, s) for d, s in
            brute_force_topk(tok, n_docs, q, 10_000) if d % 3 == 0][:k]
    assert_rank_identical(res["daat"], want, k)
    # and-mode respects the filter too
    for r in search(idx, "term00000 term00001", 10, "and",
                    doc_filter=pred).collect():
        assert r["doc_id"] % 3 == 0
    # taat/local raise
    with pytest.raises(ValueError, match="doc_filter"):
        search(idx, q, k, "taat", doc_filter=pred)
    with pytest.raises(ValueError, match="local"):
        search(idx, q, k, "wand", local=True, doc_filter=pred)


def test_batch_search_doc_filter(spark, index_small):
    """batch_search(doc_filter=) == per-query filtered search for every
    query in the set."""
    from irkit_spark.operators.query import batch_search
    idx, _ = index_small
    pred = "doc_id % 3 = 0"
    qs = {"qa": "term00000 term00003", "qb": "term00001 term00010"}
    got = {}
    for r in batch_search(idx, qs, 5, "wand",
                          doc_filter=pred).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"],
                                                  r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                search(idx, q, 5, "wand", doc_filter=pred).collect()]
        assert got.get(qid, []) == want, qid
        assert all(d % 3 == 0 for d, _ in want)


def test_analyzer_chain(spark, index_small):
    """functions/analyze: scalar/Column/SQL twins agree over the whole
    index vocabulary, analyze_docs+analyze_query fold plural/stopword
    forms, and the chain composes with an unmodified build."""
    import duckdb
    from pyspark.sql import functions as F

    from irkit_spark.functions.analyze import (analyze_docs,
                                               analyze_query, s_stem,
                                               s_stem_col, s_stem_sql)
    # three-form agreement over a hostile word list + index vocab
    idx, _ = index_small
    vocab = [r["term"] for r in idx.terms.select("term").collect()]
    words = vocab + ["flies", "ponies", "caresses", "trees", "goes",
                     "tables", "bus", "class", "eies", "aies", "ies",
                     "es", "s", "a", "yes", "queries", "80s", "w12s"]
    py = [s_stem(w) for w in words]
    frame = spark.createDataFrame([(w,) for w in words], "t string")
    col = [r["o"] for r in
           frame.select(s_stem_col(F.col("t")).alias("o")).collect()]
    con = duckdb.connect()
    sql = [con.execute(f"SELECT {s_stem_sql('t')} FROM (SELECT ? AS t)",
                       [w]).fetchone()[0] for w in words]
    assert py == col == sql
    # fold check: plural query hits the singular-corpus index
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index
    import tempfile, shutil, os
    d = spark.createDataFrame(
        [(0, "the table is big"), (1, "many windows appear"),
         (2, "unrelated words only")], "doc_id long, text string")
    out = os.path.join(tempfile.mkdtemp(), "aidx")
    build_index(spark, analyze_docs(d), out, docs_per_shard=10,
                doc_id_col="doc_id", key_col="doc_id")
    aidx = Index(spark, out)
    q = analyze_query("tables the")
    assert q == "table"
    hits = [r["doc_id"] for r in search(aidx, q, 10).collect()]
    assert hits == [0]
    shutil.rmtree(out, ignore_errors=True)


def test_batch_search_window_fallback_identical(spark, index_small,
                                                monkeypatch):
    """Above _BATCH_DRIVER_MAX the per-query merge stays a distributed
    window (r7 gate); forcing the gate to 0 must give byte-identical
    rows and order to the driver-merge path. Both sides run the
    distributed route (LOCAL_QUERY_MAX_POSTINGS=0), the only one that
    has a merge gate."""
    from irkit_spark import config
    from irkit_spark.operators import query as q
    idx, _ = index_small
    qs = {"a": "term00000 term00003 term00123",
          "b": "term00001 term00010"}
    monkeypatch.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", 0)
    fast = [(r["query_id"], r["doc_id"], r["score"]) for r in
            q.batch_search(idx, qs, k=10, mode="wand").collect()]
    monkeypatch.setattr(q, "_BATCH_DRIVER_MAX", 0)
    slow = [(r["query_id"], r["doc_id"], r["score"]) for r in
            q.batch_search(idx, qs, k=10, mode="wand").collect()]
    assert fast == slow and len(fast) == 20


def test_shard_bounds_distributed_fallback_identical(spark, index_small,
                                                     monkeypatch):
    """Above _BOUND_DRIVER_MAX shard_bounds keeps the distributed
    aggregate (r7 gate); both paths must rank the same shards with
    bounds equal to float-association tolerance."""
    from irkit_spark.operators import selective as sel
    idx, _ = index_small
    qmeta = idx.lookup_query("term00000 term00003 term00123")
    fast = sel.shard_bounds(idx, qmeta)
    monkeypatch.setattr(sel, "_BOUND_DRIVER_MAX", 0)
    slow = sel.shard_bounds(idx, qmeta)
    assert [s for s, _ in fast] == [s for s, _ in slow]
    for (_, a), (_, b) in zip(fast, slow):
        assert a == pytest.approx(b, rel=1e-12)
