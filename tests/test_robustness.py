"""Robustness fixes: Arrow 2GB binary-offset split, streaming epoch
idempotence, resume-path lexicon re-read, Iceberg config gating."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest

from irkit_spark.operators import build
from irkit_spark.operators.build import _blob_encoder, _pack_blob_frames


def _blob_batch(term_id, doc_id, tf, dl, docs_per_shard):
    """Token rows -> one packed-blob RecordBatch (TOK_BLOB_SCHEMA), all
    in one bucket, as the build's tokenize pass writes them."""
    buckets, shards, blobs = _pack_blob_frames(
        np.asarray(doc_id, dtype=np.int64), np.asarray(term_id, np.int32),
        np.asarray(tf, np.int32), np.asarray(dl, np.int32), 1,
        docs_per_shard)
    return pa.RecordBatch.from_arrays(
        [pa.array(buckets, pa.int32()), pa.array(shards, pa.int32()),
         pa.array(blobs, pa.binary())], names=["bucket", "shard", "blob"])


def _rows(batches):
    out = []
    for rb in batches:
        for r in rb.to_pylist():
            out.append((r["term_id"], r["partition_id"], r["n_docs"],
                        tuple((b["first_doc"], b["last_doc"], b["n"],
                               b["doc_bytes"], b["tf_bytes"])
                              for b in r["blocks"])))
    return sorted(out)


def test_arrow_encoder_splits_oversized_regions(monkeypatch):
    """A region whose wire stream exceeds the binary-offset limit is
    split at group boundaries: same postings out, never an int32 offset
    overflow (exercised with a tiny patched limit, for the whole-stream
    varbyte path and the per-block codec path)."""
    rng = np.random.default_rng(7)
    n_terms, docs = 40, 300
    t = np.repeat(np.arange(n_terms, dtype=np.int32), docs)
    d = np.tile(np.arange(docs, dtype=np.int64) * 3, n_terms)
    tf = rng.integers(1, 200, size=t.size).astype(np.int64)
    dl = np.full(t.size, 120, dtype=np.int64)
    batch = _blob_batch(t, d, tf, dl, 1000)
    default = build.MAX_BIN_OFFSET

    def run(codec, limit):
        monkeypatch.setattr(build, "MAX_BIN_OFFSET", limit)
        k = _blob_encoder(100.0, codec, 16, 1000)
        return list(k(iter([batch])))

    for codec in ("varbyte", "streamvbyte"):
        full = run(codec, default)
        assert len(full) == 1
        limited = run(codec, 4096)      # forces many recursive splits
        assert len(limited) > 1
        assert _rows(limited) == _rows(full)
        # one group alone over the limit cannot be split -> explicit error
        with pytest.raises(ValueError, match="2GB"):
            run(codec, 16)


def test_empty_and_single_doc_builds(spark, tmp_path):
    """Degenerate corpora: an empty pages table and a single-doc table
    both build, load and answer queries without error."""
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index, search
    from irkit_spark.sources.pages import PAGES_SCHEMA

    empty = spark.createDataFrame([], PAGES_SCHEMA)
    out0 = str(tmp_path / "empty")
    m0 = build_index(spark, empty, out0, docs_per_shard=100,
                     text_from_html=True)
    assert m0["n_docs"] == 0 and m0["total_postings"] == 0
    idx0 = Index(spark, out0)
    assert search(idx0, "anything", 5, "wand").count() == 0

    import datetime
    one = spark.createDataFrame(
        [("https://x.example/1", datetime.datetime(2020, 1, 1),
          b"<html><body>hello tiny world</body></html>", None, "en")],
        PAGES_SCHEMA)
    out1 = str(tmp_path / "one")
    m1 = build_index(spark, one, out1, docs_per_shard=100,
                     text_from_html=True)
    assert m1["n_docs"] == 1 and m1["total_postings"] == 3
    got = search(Index(spark, out1), "hello", 5, "wand").collect()
    assert [r["doc_id"] for r in got] == [0]


def test_streaming_epoch_replay_is_noop(spark, tmp_path):
    """foreachBatch replay of an already-recorded epoch must not
    double-ingest (exactly-once across crash/replay)."""
    import json

    from irkit_spark.sources.pages import pages_pandas
    from irkit_spark.streaming.ingest import process_batch
    out = str(tmp_path / "sidx")
    df = spark.createDataFrame(pages_pandas(60))
    c1 = process_batch(spark, df, out, docs_per_shard=50, epoch_id=0)
    assert c1["n_docs"] == 60 and c1["epochs"] == [0]
    c2 = process_batch(spark, df, out, docs_per_shard=50, epoch_id=0)
    assert c2["n_docs"] == 60 and len(c2["batches"]) == 1
    # persisted state unchanged too
    with open(os.path.join(out, "_state", "counters.json")) as f:
        assert json.load(f)["n_docs"] == 60


def test_streaming_replay_after_lexicon_write_keeps_term_ids_unique(
        spark, tmp_path, monkeypatch):
    """A micro-batch that fails after growing the shared lexicon but
    before its counters commit, then replays, must not hand its new
    term ids out a second time to the next batch: term_id stays unique
    and next_term_id equals the lexicon's row count."""
    import json

    import irkit_spark.sources.catalog as catalog
    from irkit_spark.sources.pages import PAGES_SCHEMA, pages_pandas
    from irkit_spark.streaming.ingest import process_batch
    out = str(tmp_path / "sidx")
    pdf = pages_pandas(180)
    dfs = [spark.createDataFrame(pdf.iloc[i:i + 60], PAGES_SCHEMA)
           for i in (0, 60, 120)]
    process_batch(spark, dfs[0], out, docs_per_shard=50, epoch_id=0)
    real = catalog.write_artifact

    def fail_once(df, base, name, *a, **kw):
        if name == "tok":     # after the lexicon write, inside the build
            monkeypatch.setattr(catalog, "write_artifact", real)
            raise RuntimeError("injected build failure")
        return real(df, base, name, *a, **kw)

    monkeypatch.setattr(catalog, "write_artifact", fail_once)
    with pytest.raises(RuntimeError, match="injected"):
        process_batch(spark, dfs[1], out, docs_per_shard=50, epoch_id=1)
    lex_path = os.path.join(out, "_state", "lexicon")
    n_after_fail = spark.read.parquet(lex_path).count()
    c1 = process_batch(spark, dfs[1], out, docs_per_shard=50, epoch_id=1)
    assert c1["next_term_id"] == n_after_fail
    c2 = process_batch(spark, dfs[2], out, docs_per_shard=50, epoch_id=2)
    lex = spark.read.parquet(lex_path)
    n = lex.count()
    assert n > n_after_fail            # the last batch brought new terms
    assert lex.select("term_id").distinct().count() == n
    assert sorted(r[0] for r in lex.select("term_id").collect()) \
        == list(range(n))
    assert c2["next_term_id"] == n and c2["epochs"] == [0, 1, 2]
    with open(os.path.join(out, "_state", "counters.json")) as f:
        assert json.load(f)["next_term_id"] == n


def test_resume_with_all_shards_done_rewrites_terms(spark, pages_small,
                                                    tmp_path):
    """resume=True over a finished build reuses tok/docs/terms; the
    terms table is re-derived and rewritten to the same path it was
    read from — must not hit the overwrite-while-reading hazard."""
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index, search
    out = str(tmp_path / "idx")
    build_index(spark, pages_small, out, docs_per_shard=300,
                text_from_html=True)
    before = sorted(
        (r["term_id"], r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(out, "terms")).collect())
    m = build_index(spark, pages_small, out, docs_per_shard=300,
                    text_from_html=True, resume=True)
    assert m["rebuilt_shards"] == []
    after = sorted(
        (r["term_id"], r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(out, "terms")).collect())
    assert before == after
    assert search(Index(spark, out), "term00001", 5, "wand").count() == 5




def test_blob_pack_unpack_roundtrip_property():
    """The blob shuffle's pack/unpack is lossless and group-correct on
    random token batches: every (bucket, shard) cell unpacks to exactly
    the rows that hash there, in doc order within the cell's sort, and
    the union over cells is the input multiset."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from irkit_spark.operators.build import (_bucket_of,
                                             _pack_blob_frames,
                                             _unpack_blob)

    @settings(max_examples=50, deadline=None)
    @given(st.integers(1, 400), st.integers(1, 64),
           st.integers(0, 2**31 - 1))
    def run(n, n_buckets, seed):
        rng = np.random.default_rng(seed)
        d = rng.integers(0, 10_000, n).astype(np.int64)
        t = rng.integers(0, 5_000, n).astype(np.int32)
        tf = rng.integers(1, 300, n).astype(np.int32)
        dl = rng.integers(1, 5_000, n).astype(np.int32)
        dps = int(rng.integers(1, 2_000))
        bks, shs, blobs = _pack_blob_frames(d, t, tf, dl, n_buckets, dps)
        got = []
        for bk, sh, blob in zip(bks, shs, blobs):
            dd, tt, tft, dlt = _unpack_blob(blob)
            # cell invariants: every row's shard/bucket matches the key
            assert (dd // dps == sh).all()
            ss = (dd // dps).astype(np.int32)
            assert (_bucket_of(tt, ss, n_buckets) == bk).all()
            got.append(np.stack([dd,
                                 tt.astype(np.int64),
                                 tft.astype(np.int64),
                                 dlt.astype(np.int64)], axis=1))
        allrows = np.concatenate(got)
        want = np.stack([d, t.astype(np.int64), tf.astype(np.int64),
                         dl.astype(np.int64)], axis=1)
        key = lambda a: a[np.lexsort((a[:, 3], a[:, 2], a[:, 1], a[:, 0]))]
        assert (key(allrows) == key(want)).all()

    run()


def test_bucket_of_deterministic_and_balanced():
    """_bucket_of is pure (same inputs -> same buckets across calls /
    processes) and spreads (term, shard) keys near-uniformly."""
    from irkit_spark.operators.build import _bucket_of
    t = np.repeat(np.arange(2000, dtype=np.int32), 4)
    s = np.tile(np.arange(4, dtype=np.int32), 2000)
    a = _bucket_of(t, s, 64)
    b = _bucket_of(t.copy(), s.copy(), 64)
    assert (a == b).all()
    counts = np.bincount(a, minlength=64)
    assert counts.max() <= 2.0 * counts.mean()


def test_null_keyed_rows_never_pollute_lexicon(spark, tmp_path):
    """A row whose doc_id fails the long cast (or whose url is NULL)
    must be dropped BEFORE canonicalize — not mistaken for a
    distinct-terms sentinel, which would inject its whole space-joined
    text into the lexicon as one junk multi-word term (ADVICE r3)."""
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index

    rows = [("0", "alpha beta"), ("1", "beta gamma"),
            ("not-a-number", "junk words that must not become a term"),
            (None, "more junk text")]
    pages = spark.createDataFrame(rows, "doc_id string, text string")
    out = str(tmp_path / "nullkey_idx")
    m = build_index(spark, pages, out, docs_per_shard=10,
                    doc_id_col="doc_id", key_col="doc_id", n_parts=2)
    idx = Index(spark, out)
    terms = {r["term"] for r in idx.terms.collect()}
    assert terms == {"alpha", "beta", "gamma"}
    assert m["n_docs"] == 2
    # term_id order (sorted rank) is clean too: no junk shifted ranks
    by_id = sorted((r["term_id"], r["term"]) for r in idx.terms.collect())
    assert [t for _, t in by_id] == ["alpha", "beta", "gamma"]

    # url-keyed path: NULL url rows dropped before canonicalize
    rows2 = [("u0", "alpha beta"), (None, "junk junk junk"),
             ("u1", "beta gamma")]
    pages2 = spark.createDataFrame(rows2, "url string, text string")
    out2 = str(tmp_path / "nullkey_idx2")
    m2 = build_index(spark, pages2, out2, docs_per_shard=10, n_parts=2)
    idx2 = Index(spark, out2)
    assert {r["term"] for r in idx2.terms.collect()} == \
        {"alpha", "beta", "gamma"}
    assert m2["n_docs"] == 2
