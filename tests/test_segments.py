"""Multi-segment serving (operators/segments.SegmentedIndex): querying
unmerged batch indexes must be VALUE-IDENTICAL to querying
merge_indexes() of them — same stats, same scores, same top-k — on
every mode and path, with tombstones and NOT honored; plus guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from irkit_spark.operators.build import build_index
from irkit_spark.operators.delete import delete_docs
from irkit_spark.operators.merge import merge_indexes
from irkit_spark.operators.query import Index, batch_search, search
from irkit_spark.operators.segments import SegmentedIndex

VOCAB = ["red", "fox", "dog", "lazy", "jumps", "quick", "brown",
         "river", "stone", "cloud"]
DOCS = [(d, " ".join(VOCAB[(d * 7 + j * j + (j // 3)) % len(VOCAB)]
                     for j in range(5 + (d * 13) % 40)))
        for d in range(90)]
QUERIES = ("red fox", "lazy dog jumps", "river stone cloud",
           "quick brown")


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    """3 batch indexes (shared lexicon, running global stats — the
    streaming-ingest contract, with doc ranges crossing shard
    boundaries at docs_per_shard=25) + their merge."""
    base = tmp_path_factory.mktemp("segidx")
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    # full-corpus lexicon (what a shared growing lexicon converges to)
    full = str(base / "full")
    build_index(spark, df, full, docs_per_shard=25, doc_id_col="doc_id",
                key_col="doc_id", n_parts=2)
    fidx = Index(spark, full)
    lexicon = fidx.terms.select("term", "term_id")
    dirs = []
    cuts = [(0, 40), (40, 65), (65, 90)]
    for i, (lo, hi) in enumerate(cuts):
        d = str(base / f"b{i}")
        part = df.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        # running stats at this batch's ingest time
        sofar = df.filter(f"doc_id < {hi}")
        n = sofar.count()
        avg = (sofar.select(F.size(F.split("text", " ")).alias("l"))
               .agg(F.avg("l")).collect()[0][0])
        build_index(spark, part, d, docs_per_shard=25,
                    doc_id_col="doc_id", key_col="doc_id", n_parts=2,
                    shared_lexicon=lexicon, global_stats=(n, float(avg)))
        dirs.append(d)
    merged = str(base / "merged")
    merge_indexes(spark, dirs, merged)
    return dirs, merged


def _hits(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_segment_stats_equal_merged(spark, seg):
    dirs, merged = seg
    s = SegmentedIndex(spark, dirs)
    m = Index(spark, merged)
    assert (s.n_docs, s.coll_len, s.avgdl) == \
        (m.n_docs, m.coll_len, m.avgdl)
    assert s.bound_slack >= m.bound_slack
    key = lambda i: sorted((r["term"], int(r["df"]), int(r["cf"]))
                           for r in i.terms.collect())
    assert key(s) == key(m)


def test_segment_search_identical_to_merged(spark, seg):
    dirs, merged = seg
    s = SegmentedIndex(spark, dirs)
    m = Index(spark, merged)
    for q in QUERIES:
        for mode in ("taat", "daat", "wand", "maxscore", "and"):
            a = _hits(search(s, q, k=20, mode=mode, local=False))
            b = _hits(search(m, q, k=20, mode=mode, local=False))
            assert a == b and a, (q, mode)


def test_segment_local_serving_identical(spark, seg):
    dirs, merged = seg
    s = SegmentedIndex(spark, dirs)
    for q in QUERIES[:2]:
        a = _hits(search(s, q, k=10))               # auto local
        b = _hits(search(Index(spark, merged), q, k=10, local=False))
        assert a == b and a, q


def test_segment_batch_and_not_and_filter(spark, seg):
    dirs, merged = seg
    s = SegmentedIndex(spark, dirs)
    m = Index(spark, merged)
    a = {(r["query_id"], r["doc_id"], round(r["score"], 9))
         for r in batch_search(s, list(QUERIES), k=5).collect()}
    b = {(r["query_id"], r["doc_id"], round(r["score"], 9))
         for r in batch_search(m, list(QUERIES), k=5).collect()}
    assert a == b and a
    for kw in ({"exclude_terms": "stone"},
               {"doc_filter": "doc_id % 3 = 1"}):
        x = _hits(search(s, "red fox", k=15, local=False, **kw))
        y = _hits(search(m, "red fox", k=15, local=False, **kw))
        assert x == y and x, kw


@pytest.mark.parametrize("mode", ["wand", "daat", "maxscore", "and"])
def test_segment_batch_routes_identical(spark, seg, monkeypatch, mode):
    """On a SegmentedIndex batch_search's driver route and its forced
    distributed route (LOCAL_QUERY_MAX_POSTINGS=0) return the same
    rows in the same order."""
    from irkit_spark import config
    dirs, _ = seg
    s = SegmentedIndex(spark, dirs)
    driver = [tuple(r) for r in
              batch_search(s, list(QUERIES), k=10, mode=mode).collect()]
    monkeypatch.setattr(config, "LOCAL_QUERY_MAX_POSTINGS", 0)
    dist = [tuple(r) for r in
            batch_search(s, list(QUERIES), k=10, mode=mode).collect()]
    assert driver == dist and driver


def test_segment_tombstones_honored(spark, seg, tmp_path):
    import shutil
    dirs, merged = seg
    copies = []
    for i, d in enumerate(dirs):
        c = str(tmp_path / f"c{i}")
        shutil.copytree(d, c)
        copies.append(c)
    delete_docs(spark, copies[0], doc_ids=[1, 7])
    delete_docs(spark, copies[2], doc_ids=[70])
    s = SegmentedIndex(spark, copies)
    assert s.has_deletions()
    mc = str(tmp_path / "m")
    merge_indexes(spark, copies, mc)
    m = Index(spark, mc)
    for q in QUERIES:
        a = _hits(search(s, q, k=30, local=False))
        assert a == _hits(search(m, q, k=30, local=False)) and a, q
        assert not {d for d, _ in a} & {1, 7, 70}


def test_segment_guards(spark, seg):
    dirs, _ = seg
    with pytest.raises(ValueError, match="at least one"):
        SegmentedIndex(spark, [])
    with pytest.raises(ValueError, match="duplicate"):
        SegmentedIndex(spark, [dirs[0], dirs[0]])
    s = SegmentedIndex(spark, dirs)
    from irkit_spark.operators.positions import phrase_search
    with pytest.raises(ValueError, match="merge_indexes"):
        phrase_search(s, "red fox", 10)


def test_segment_layout_mismatch(spark, seg, tmp_path):
    dirs, _ = seg
    df = spark.createDataFrame(DOCS[:10], "doc_id long, text string")
    other = str(tmp_path / "oth")
    build_index(spark, df, other, docs_per_shard=50,
                doc_id_col="doc_id", key_col="doc_id", n_parts=2)
    with pytest.raises(ValueError, match="different layouts"):
        SegmentedIndex(spark, [dirs[0], other])


def test_open_segments_from_ingest(spark, tmp_path):
    """The NRT pattern: ingest micro-batches (merge=False), serve via
    open_segments, results == the merged serving index."""
    import os

    from irkit_spark.operators.segments import open_segments
    from irkit_spark.sources.pages import pages_df
    from irkit_spark.streaming.ingest import ingest_available_now
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    pages = pages_df(spark, 300)
    (pages.repartition(3).write.mode("overwrite").parquet(inp))
    ingest_available_now(spark, inp, out, docs_per_shard=100,
                         merge=False)
    s = open_segments(spark, out)
    assert not os.path.exists(os.path.join(out, "current", "stats"))
    ingest_available_now(spark, inp, out, docs_per_shard=100,
                         merge=True)
    m = Index(spark, os.path.join(out, "current"))
    assert (s.n_docs, s.coll_len) == (m.n_docs, m.coll_len)
    q = "term00000 term00007"
    a = _hits(search(s, q, k=10, local=False))
    b = _hits(search(m, q, k=10, local=False))
    assert a == b and a
