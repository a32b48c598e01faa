"""Positional postings + exact-phrase retrieval: brute-force rank/score
identity, adjacency edge cases (repeated tokens, multi-occurrence,
phrase at doc edges), single-token phrase == AND search, artifact
roundtrip + parallelism invariance, verify_index reconciliation."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from irkit_spark.functions.scoring import bm25_tf_norm, idf as idf_fn
from irkit_spark.functions.tokenize import tokenize
from irkit_spark.operators.build import build_index
from irkit_spark.operators.positions import (build_positions,
                                             decode_positions_row,
                                             phrase_search,
                                             read_positions)
from irkit_spark.operators.query import Index, search


DOCS = [
    # adjacency edge cases: phrase at start, at end, repeated token,
    # multiple occurrences, near-miss (tokens present, never adjacent)
    (0, "red fox jumps over the lazy dog"),
    (1, "the quick red fox red fox again"),          # "red fox" twice
    (2, "fox red"),                                   # reversed: no match
    (3, "red red red fox"),                           # "red red" twice
    (4, "lazy dog"),                                  # phrase at start+end
    (5, "a b a b a"),                                 # overlapping repeats
    (6, "the dog is lazy"),                           # near-miss
    (7, "red fox"),                                   # whole doc = phrase
]


def chain_ptf(t: list[str], ws: list[str], slop: int) -> int:
    """Ordered-chain proximity count (endings): token i's occurrence
    survives iff a surviving token-(i-1) occurrence sits within
    [p-1-slop, p-1]. slop=0 == exact-phrase occurrence count."""
    s = [i for i, x in enumerate(t) if x == ws[0]]
    for w in ws[1:]:
        s = [p for p, x in enumerate(t) if x == w
             and any(p - 1 - slop <= q <= p - 1 for q in s)]
        if not s:
            return 0
    return len(s)


def brute_phrase(docs: dict[int, list[str]], term_ids: dict[str, int],
                 phrase: str, k: int, slop: int = 0):
    """Reference implementation: scan token lists, count adjacency,
    score BM25 over unique terms in ascending term_id order."""
    ws = tokenize(phrase)
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    uniq = sorted(set(ws), key=lambda w: term_ids[w])
    df = {w: sum(1 for t in docs.values() if w in t) for w in uniq}
    out = []
    for did, t in docs.items():
        ptf = chain_ptf(t, ws, slop)
        if not ptf:
            continue
        s = 0.0
        for w in uniq:
            s += (float(idf_fn(np.array([df[w]]), n)[0])
                  * float(bm25_tf_norm(np.array([t.count(w)], float),
                                       np.array([len(t)], float),
                                       avgdl)[0]))
        out.append((did, ptf, round(s, 9)))
    out.sort(key=lambda x: (-x[2], x[0]))
    return out[:k]


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    """Tiny handcrafted corpus across 3 shards, index + positions built
    through the documents-table path (doc_id_col)."""
    out = str(tmp_path_factory.mktemp("posidx") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, df, out, docs_per_shard=3, doc_id_col="doc_id",
                key_col="doc_id", n_parts=4)
    m = build_positions(spark, df, out, doc_id_col="doc_id", n_parts=4)
    idx = Index(spark, out)
    docs = {d: tokenize(t) for d, t in DOCS}
    tids = {r["term"]: int(r["term_id"]) for r in idx.terms.collect()}
    assert m["positions"] == sum(len(t) for t in docs.values())
    return idx, docs, tids


@pytest.mark.parametrize("phrase", [
    "red fox",        # multi-occurrence, multi-doc
    "lazy dog",       # at start and at end of docs
    "red red",        # repeated token, overlapping in doc 3
    "a b a",          # alternating repeats, overlapping candidates
    "red fox jumps",  # 3-gram
    "the dog",        # near-miss excluded (doc 6 has both, not adjacent)
    "fox",            # single token: adjacency degenerates to tf
])
def test_phrase_matches_bruteforce(pos_index, phrase):
    idx, docs, tids = pos_index
    got = [(r["doc_id"], r["phrase_tf"], round(r["score"], 9))
           for r in phrase_search(idx, phrase, 10).collect()]
    assert got == brute_phrase(docs, tids, phrase, 10)


@pytest.mark.parametrize("phrase,slop", [
    ("red jumps", 1),      # one word between: matches doc 0 only
    ("red dog", 4),        # wide window across doc 0
    ("the lazy", 1),       # "the dog is lazy" now matches too
    ("a a", 1),            # repeated token within window
    ("red fox", 1),        # slop superset of the exact matches
    ("red over lazy", 2),  # 3-token chain with gaps
])
def test_phrase_slop_matches_bruteforce(pos_index, phrase, slop):
    idx, docs, tids = pos_index
    got = [(r["doc_id"], r["phrase_tf"], round(r["score"], 9))
           for r in phrase_search(idx, phrase, 10, slop=slop).collect()]
    assert got == brute_phrase(docs, tids, phrase, 10, slop=slop)


def test_phrase_slop_zero_equals_exact(pos_index):
    idx, docs, tids = pos_index
    for phrase in ("red fox", "a b a", "lazy dog"):
        a = phrase_search(idx, phrase, 10, slop=0).collect()
        b = phrase_search(idx, phrase, 10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_phrase_slop_monotone_and_superset(pos_index):
    """Growing slop can only add matching docs (ordered-window
    containment), and a huge slop == ordered containment."""
    idx, docs, tids = pos_index
    seen: set[int] = set()
    for slop in (0, 1, 3, 50):
        ids = {r["doc_id"] for r in
               phrase_search(idx, "red lazy", 10, slop=slop).collect()}
        assert seen <= ids
        seen = ids
    ordered = {d for d, t in docs.items()
               if "red" in t and "lazy" in t
               and t.index("red") < max(i for i, x in enumerate(t)
                                        if x == "lazy")}
    assert seen == ordered


def test_phrase_tf_counts(pos_index):
    idx, docs, tids = pos_index
    r = {x["doc_id"]: x["phrase_tf"]
         for x in phrase_search(idx, "red fox", 10).collect()}
    assert r[1] == 2 and r[0] == 1 and r[7] == 1 and 2 not in r
    r = {x["doc_id"]: x["phrase_tf"]
         for x in phrase_search(idx, "red red", 10).collect()}
    assert r == {3: 2}
    r = {x["doc_id"]: x["phrase_tf"]
         for x in phrase_search(idx, "a b a", 10).collect()}
    assert r == {5: 2}


def test_single_token_phrase_equals_and_search(pos_index):
    idx, docs, tids = pos_index
    ph = [(r["doc_id"], round(r["score"], 9))
          for r in phrase_search(idx, "red", 10).collect()]
    an = [(r["doc_id"], round(r["score"], 9))
          for r in search(idx, "red", 10, mode="and",
                          local=False).collect()]
    assert ph == an


def test_oov_and_empty_phrase(pos_index):
    idx, _, _ = pos_index
    assert phrase_search(idx, "zzz missing", 5).count() == 0
    assert phrase_search(idx, "red zzzneverseen", 5).count() == 0
    assert phrase_search(idx, "", 5).count() == 0
    assert phrase_search(idx, "?!§", 5).count() == 0


def test_positions_roundtrip_and_tokenize_parity(pos_index, spark):
    """Decode every positions row: per-doc positions strictly
    increasing, counts consistent, and positions EQUAL the frozen
    tokenizer's offsets recomputed from the raw text."""
    idx, docs, tids = pos_index
    by_tid = {v: k for k, v in tids.items()}
    for r in read_positions(spark, idx.path).collect():
        d, c, offs, pos = decode_positions_row(r.asDict())
        assert (np.diff(d) > 0).all()
        assert c.sum() == offs[-1] == pos.size
        term = by_tid[int(r["term_id"])]
        for j, did in enumerate(d):
            p = pos[offs[j]:offs[j + 1]]
            assert (np.diff(p) > 0).all()
            want = [i for i, t in enumerate(docs[int(did)]) if t == term]
            assert p.tolist() == want


def test_positions_parallelism_invariant(pos_index, spark, tmp_path):
    """Same artifact content at a different shuffle width — the
    (term, shard) rows are partitioning-independent."""
    idx, docs, tids = pos_index
    out2 = str(tmp_path / "idx2")
    shutil.copytree(idx.path, out2)
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_positions(spark, df, out2, doc_id_col="doc_id", n_parts=1)
    cols = ["term_id", "partition_id", "n_docs", "cf", "first_doc",
            "doc_bytes", "cnt_bytes", "pos_bytes"]
    a = sorted(map(tuple, read_positions(spark, idx.path)
                   .select(cols).collect()))
    b = sorted(map(tuple, read_positions(spark, out2)
                   .select(cols).collect()))
    assert a == b


def test_phrase_on_pages_corpus(pos_index_pages):
    """url-join build path + a phrase sampled from a real doc; result
    must contain that doc and every returned doc must really contain
    the phrase (checked against the raw token lists)."""
    idx, src = pos_index_pages
    rows = src.collect()
    toks0 = tokenize(rows[0]["text"])
    phrase = " ".join(toks0[2:4])
    did0 = idx.doc(rows[0]["url"])["doc_id"]
    got = phrase_search(idx, phrase, 1000).collect()
    got_ids = {r["doc_id"] for r in got}
    assert did0 in got_ids
    ws = phrase.split()
    by_url = {idx.doc(r["url"])["doc_id"]: tokenize(r["text"])
              for r in rows}
    matching = {d for d, t in by_url.items()
                if any(t[i:i + 2] == ws for i in range(len(t) - 1))}
    assert got_ids == matching


@pytest.fixture(scope="module")
def split_positions(spark, pages_small, tmp_path_factory):
    """Odd/even doc-id batches (every shard straddles both batches —
    the decode+interleave merge path is the COMMON case here), each
    with positions, merged; plus the single-shot reference."""
    import os

    from irkit_spark.operators.merge import merge_indexes
    from irkit_spark.plans.dense_ids import assign_dense_ids
    base = str(tmp_path_factory.mktemp("posmerge"))
    ids = assign_dense_ids(pages_small.limit(400), "url", "doc_id",
                           64).cache()
    n_docs = ids.count()

    full_dir = os.path.join(base, "full")
    build_index(spark, ids, full_dir, docs_per_shard=150,
                doc_id_col="doc_id")
    build_positions(spark, ids, full_dir, doc_id_col="doc_id")
    full_idx = Index(spark, full_dir)
    lexicon = full_idx.terms.select("term", "term_id")
    stats = (n_docs, full_idx.avgdl)

    dirs = []
    for name, pred in [("even", F.col("doc_id") % 2 == 0),
                       ("odd", F.col("doc_id") % 2 == 1)]:
        d = os.path.join(base, name)
        build_index(spark, ids.filter(pred), d, docs_per_shard=150,
                    doc_id_col="doc_id", shared_lexicon=lexicon,
                    global_stats=stats)
        build_positions(spark, ids.filter(pred), d, doc_id_col="doc_id")
        dirs.append(d)

    merged_dir = os.path.join(base, "merged")
    merge_indexes(spark, dirs, merged_dir)
    return full_dir, merged_dir, dirs, ids


def _positions_canon(spark, path):
    cols = ["term_id", "partition_id", "n_docs", "cf", "first_doc",
            "doc_bytes", "cnt_bytes", "pos_bytes"]
    return sorted((int(r[0]), int(r[1]), int(r[2]), int(r[3]),
                   int(r[4]), bytes(r[5]), bytes(r[6]), bytes(r[7]))
                  for r in read_positions(spark, path)
                  .select(cols).collect())


def test_merged_positions_byte_identical(spark, split_positions):
    full_dir, merged_dir, _, _ = split_positions
    assert _positions_canon(spark, full_dir) == \
        _positions_canon(spark, merged_dir)


def test_merged_phrase_queries_identical(spark, split_positions):
    full_dir, merged_dir, _, ids = split_positions
    ia, ib = Index(spark, full_dir), Index(spark, merged_dir)
    row = ids.limit(1).collect()[0]
    toks = tokenize(row["text"])
    for ph, slop in ((" ".join(toks[1:3]), 0), (" ".join(toks[1:4]), 1)):
        a = [tuple(r) for r in phrase_search(ia, ph, 20, slop).collect()]
        b = [tuple(r) for r in phrase_search(ib, ph, 20, slop).collect()]
        assert a == b and a


def test_merged_index_verifies(spark, split_positions):
    from irkit_spark.operators.validate import verify_index
    _, merged_dir, _, _ = split_positions
    r = verify_index(spark, merged_dir)
    assert r["ok"] and r["checks"]["positions_consistent"]["ok"], r


def test_merge_refuses_mixed_positions(spark, split_positions, tmp_path):
    import os

    from irkit_spark.operators.merge import merge_indexes
    _, _, dirs, _ = split_positions
    bare = str(tmp_path / "bare")
    shutil.copytree(dirs[0], bare)
    shutil.rmtree(os.path.join(bare, "positions"))
    with pytest.raises(ValueError, match="positions"):
        merge_indexes(spark, [bare, dirs[1]], str(tmp_path / "m"))


def test_verify_catches_positions_corruption(pos_index, spark, tmp_path):
    from irkit_spark.operators.validate import verify_index
    idx, _, _ = pos_index
    r = verify_index(spark, idx.path)
    assert r["ok"] and r["checks"]["positions_consistent"]["ok"]
    out = str(tmp_path / "bad")
    shutil.copytree(idx.path, out)
    import os
    pos = spark.read.parquet(os.path.join(out, "positions")).cache()
    pos.count()
    pos.withColumn("cf", F.when(F.col("term_id") == 0,
                                F.col("cf") + 1).otherwise(F.col("cf"))) \
        .write.mode("overwrite").parquet(os.path.join(out, "positions"))
    r2 = verify_index(spark, out)
    assert not r2["ok"]
    assert not r2["checks"]["positions_consistent"]["ok"]


def brute_near(docs, term_ids, a, b, window, k, n=None):
    """Reference unordered NEAR: |pa - pb| <= window, near_tf = b
    occurrences with an a neighbor, BM25 over both terms."""
    n = n or len(docs)
    avgdl = sum(len(t) for t in docs.values()) / len(docs)
    uniq = sorted({a, b}, key=lambda w: term_ids[w])
    df = {w: sum(1 for t in docs.values() if w in t) for w in uniq}
    out = []
    for did, t in docs.items():
        pa = [i for i, x in enumerate(t) if x == a]
        pb = [i for i, x in enumerate(t) if x == b]
        ntf = sum(1 for p in pb if any(abs(p - q) <= window for q in pa))
        if not ntf:
            continue
        s = 0.0
        for w in uniq:
            s += (float(idf_fn(np.array([df[w]]), len(docs))[0])
                  * float(bm25_tf_norm(np.array([t.count(w)], float),
                                       np.array([len(t)], float),
                                       avgdl)[0]))
        out.append((did, ntf, round(s, 9)))
    out.sort(key=lambda x: (-x[2], x[0]))
    return out[:k]


@pytest.mark.parametrize("q,window", [
    ("red dog", 5),     # unordered, either order
    ("fox red", 1),     # reversed order must still match doc 2
    ("red fox", 1),
    ("the lazy", 2),
    ("a b", 1),         # repeats
])
def test_near_matches_bruteforce(pos_index, q, window):
    from irkit_spark.operators.positions import near_search
    idx, docs, tids = pos_index
    got = [(r["doc_id"], r["near_tf"], round(r["score"], 9))
           for r in near_search(idx, q, window=window, k=10).collect()]
    w1, w2 = tokenize(q)
    want = brute_near(docs, tids, w1, w2, window, 10)
    assert got == want, (q, window)


def test_positions_cogroup_path_identical(spark, pos_index):
    """phrase_search (slop 0 and > 0) and near_search on the cogroup
    side of the doc-length gate (dl_broadcast_max=0) return exactly
    the broadcast side's rows."""
    from irkit_spark.operators.positions import near_search
    idx, _, _ = pos_index
    slow = Index(spark, idx.path, dl_broadcast_max=0)
    assert slow.doc_len_broadcast() is None
    for ph, slop in [("red fox", 0), ("lazy dog", 0), ("red jumps", 1),
                     ("red over lazy", 2)]:
        a = [tuple(r) for r in
             phrase_search(idx, ph, 10, slop=slop).collect()]
        b = [tuple(r) for r in
             phrase_search(slow, ph, 10, slop=slop).collect()]
        assert a == b and a, (ph, slop)
    for q, window in [("red dog", 6), ("fox lazy", 4)]:
        a = [tuple(r) for r in
             near_search(idx, q, window=window).collect()]
        b = [tuple(r) for r in
             near_search(slow, q, window=window).collect()]
        assert a == b and a, (q, window)


def test_near_guards(pos_index):
    from irkit_spark.operators.positions import near_search
    idx, _, _ = pos_index
    with pytest.raises(ValueError, match="two distinct"):
        near_search(idx, "red", window=2)
    with pytest.raises(ValueError, match="two distinct"):
        near_search(idx, "red red", window=2)
    with pytest.raises(ValueError, match="window"):
        near_search(idx, "red fox", window=0)
    # OOV term -> empty
    assert near_search(idx, "red zzzoov", window=3).count() == 0
