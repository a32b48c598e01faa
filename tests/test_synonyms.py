"""Synonym-group retrieval (operators/synonyms.py): brute-force parity
(union df + summed tf), degenerate-group == plain search, OOV/guard
behavior, deletions."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from irkit_spark.config import BM25_B, BM25_K1, TOKEN_RE
from irkit_spark.operators.build import build_index
from irkit_spark.operators.query import Index, search
from irkit_spark.operators.synonyms import search_synonyms

_TOK = re.compile(TOKEN_RE)


@pytest.fixture(scope="module")
def syn_index(spark, tmp_path_factory):
    rows = []
    words = ["join", "merge", "hash", "scan", "filter", "sort",
             "probe", "spill"]
    for i in range(120):
        toks = [words[(i + j) % len(words)]
                for j in range((i % 5) + 2)] + [f"u{i}"]
        rows.append((i, " ".join(toks * ((i % 3) + 1))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("synidx") / "idx")
    build_index(spark, docs, out, docs_per_shard=40,
                doc_id_col="doc_id", key_col="doc_id", n_parts=8)
    return rows, Index(spark, out)


def _brute(rows, groups, k):
    toks = {d: _TOK.findall(t.lower()) for d, t in rows}
    n_docs = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    scores: dict = {}
    for g in groups:
        gset = set(g)
        tfg = {d: sum(1 for t in ts if t in gset)
               for d, ts in toks.items()}
        df = sum(1 for v in tfg.values() if v > 0)
        if df == 0:
            continue
        w = math.log1p((n_docs - df + 0.5) / (df + 0.5))
        for d, v in tfg.items():
            if v:
                dl = len(toks[d])
                scores[d] = scores.get(d, 0.0) + w * v / (
                    v + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(d, round(s, 6)) for d, s in ranked[:k]]


def test_matches_bruteforce(syn_index):
    rows, idx = syn_index
    groups = [["join", "merge"], ["hash"], ["scan", "filter"]]
    got = [(r.doc_id, round(r.score, 6)) for r in
           search_synonyms(idx, groups, k=10).collect()]
    assert got == _brute(rows, groups, 10)


def test_singleton_groups_equal_plain_search(syn_index):
    rows, idx = syn_index
    got = [(r.doc_id, round(r.score, 6)) for r in
           search_synonyms(idx, [["join"], ["hash"]], k=10).collect()]
    want = [(r.doc_id, round(r.score, 6)) for r in
            search(idx, "join hash", 10, "wand").collect()]
    assert got == want


def test_union_df_not_sum_of_member_dfs(syn_index):
    rows, idx = syn_index
    # every doc contains join or merge or both: union df < df_a + df_b
    got = _brute(rows, [["join", "merge"]], 5)
    res = [(r.doc_id, round(r.score, 6)) for r in
           search_synonyms(idx, [["join", "merge"]], k=5).collect()]
    assert res == got


def test_oov_and_guards(syn_index, spark):
    _, idx = syn_index
    assert search_synonyms(idx, [["zzznope"]], k=5).count() == 0
    assert search_synonyms(idx, [], k=5).count() == 0
    # partially-OOV group: OOV member just drops out
    a = [(r.doc_id, round(r.score, 6)) for r in
         search_synonyms(idx, [["join", "zzznope"]], k=5).collect()]
    b = [(r.doc_id, round(r.score, 6)) for r in
         search_synonyms(idx, [["join"]], k=5).collect()]
    assert a == b
    with pytest.raises(ValueError):
        search_synonyms(idx, [["join"], ["join", "hash"]], k=5)
    with pytest.raises(ValueError):
        search_synonyms(idx, [["join"]], k=0)


def test_cogroup_path_identical(syn_index, spark):
    """search_synonyms with doc lengths from the docs-table join
    (dl_broadcast_max=0) returns exactly the broadcast side's rows."""
    _, idx = syn_index
    slow = Index(spark, idx.path, dl_broadcast_max=0)
    assert slow.doc_len_broadcast() is None
    for groups in ([["join", "merge"], ["hash"], ["scan", "filter"]],
                   [["sort", "probe", "spill"]]):
        a = [tuple(r) for r in
             search_synonyms(idx, groups, k=10).collect()]
        b = [tuple(r) for r in
             search_synonyms(slow, groups, k=10).collect()]
        assert a == b and a, groups


def test_deletions_respected(syn_index, spark, tmp_path):
    import shutil as sh
    rows, idx = syn_index
    top = search_synonyms(idx, [["join", "merge"]], k=3).collect()
    victim = top[0].doc_id
    dst = str(tmp_path / "idx_del")
    sh.copytree(idx.path, dst)
    from irkit_spark.operators.delete import delete_docs
    delete_docs(spark, dst, doc_ids=[int(victim)])
    got = [r.doc_id for r in
           search_synonyms(Index(spark, dst), [["join", "merge"]],
                           k=3).collect()]
    assert victim not in got


def test_cli_synonyms(syn_index, capsys):
    _, idx = syn_index
    from irkit_spark.cli import main
    capsys.readouterr()
    main(["query", "--index", idx.path, "--query", "join|merge,hash",
          "--synonyms", "--k", "5"])
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5
    want = [(r.doc_id, round(r.score, 6)) for r in
            search_synonyms(idx, [["join", "merge"], ["hash"]],
                            k=5).collect()]
    got = [(int(l.split()[2]), float(l.split()[4])) for l in out]
    assert got == want
