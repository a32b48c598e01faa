"""Index build invariants (SURVEY.md §5.6, FIXTURES.md F5 goldens)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from irkit_spark.functions.codecs import CODECS, delta_decode


def test_artifact_schemas(index_small):
    idx, _ = index_small
    assert set(idx.docs.columns) == {"doc_id", "url", "doc_len",
                                     "partition_id"}
    assert set(idx.terms.columns) == {"term_id", "term", "df", "cf",
                                      "max_score"}
    assert set(idx.postings.columns) == {"term_id", "partition_id",
                                         "n_docs", "cf", "max_norm",
                                         "wire_bytes", "blocks"}


def test_docids_dense_and_deterministic(index_small):
    idx, _ = index_small
    ids = sorted(r["doc_id"] for r in idx.docs.select("doc_id").collect())
    assert ids == list(range(len(ids)))       # dense 0..N-1
    assert len(ids) == 1000


def test_cf_equals_doclen_sum(index_small):
    idx, _ = index_small
    cf = idx.terms.agg(F.sum("cf")).collect()[0][0]
    dlen = idx.docs.agg(F.sum("doc_len")).collect()[0][0]
    assert cf == dlen                          # FIXTURES.md F5 golden


def test_df_matches_postings(index_small):
    idx, _ = index_small
    from_post = (idx.postings.groupBy("term_id")
                 .agg(F.sum("n_docs").alias("df_p")))
    joined = idx.terms.join(from_post, "term_id")
    bad = joined.filter(F.col("df") != F.col("df_p")).count()
    assert bad == 0


def test_decoded_docids_strictly_increasing(index_small):
    idx, _ = index_small
    dec = CODECS[idx.codec][1]
    rows = idx.postings.limit(200).collect()
    assert rows
    for r in rows:
        prev = -1
        for blk in r["blocks"]:
            gaps = dec(bytes(blk["doc_bytes"]), blk["n"])
            d = delta_decode(gaps, blk["first_doc"]).astype(np.int64)
            assert (np.diff(d) > 0).all()
            assert d[0] > prev
            assert blk["first_doc"] == d[0] and blk["last_doc"] == d[-1]
            prev = int(d[-1])
            # block stays inside its shard
            shard = r["partition_id"]
            assert d[0] >= shard * idx.docs_per_shard
            assert d[-1] < (shard + 1) * idx.docs_per_shard


def test_lineage_and_stats(spark, index_small):
    idx, metrics = index_small
    import os
    lin = spark.read.parquet(os.path.join(idx.path, "lineage"))
    rows = lin.collect()
    assert {r["status"] for r in rows} == {"done"}
    assert all(r["attempt"] >= 1 for r in rows)
    assert all(r["postings_cnt"] > 0 for r in rows)
    assert all(r["bytes"] > 0 for r in rows)
    assert metrics["skew_ratio"] < 2.0        # doc-sharding bounds skew
    assert metrics["total_postings"] == \
        idx.postings.agg(F.sum("n_docs")).collect()[0][0]


def test_extraction_matches_golden_column(spark, pages_small):
    """Engine extraction == the golden `text` column, byte-identical."""
    from irkit_spark.functions.extract import extract_text_udf
    got = (pages_small
           .withColumn("text2", extract_text_udf()(F.col("html")))
           .filter(F.col("text2") != F.col("text"))
           .count())
    assert got == 0


def test_index_content_parallelism_invariant(spark, pages_small,
                                             tmp_path_factory):
    """FIXTURES.md F5 golden: rebuilding under different input
    partitioning / shuffle widths yields byte-identical postings and
    identical doc-id assignment (the BASELINE.json:6 "identical docIDs
    across N and 4N executors" invariant, as far as one JVM can vary)."""
    from irkit_spark.operators.build import build_index
    base = tmp_path_factory.mktemp("det")

    def canon(path):
        df = spark.read.parquet(str(path) + "/postings")
        out = {}
        for r in df.collect():
            out[(r["term_id"], r["partition_id"])] = tuple(
                (b["first_doc"], b["last_doc"], b["n"],
                 bytes(b["doc_bytes"]), bytes(b["tf_bytes"]))
                for b in r["blocks"])
        return out

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        build_index(spark, pages_small.repartition(3), str(base / "a"),
                    docs_per_shard=300, text_from_html=True, n_parts=5)
        spark.conf.set("spark.sql.shuffle.partitions", "23")
        build_index(spark, pages_small.repartition(17), str(base / "b"),
                    docs_per_shard=300, text_from_html=True, n_parts=23)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert canon(base / "a") == canon(base / "b")
    da = {r["url"]: r["doc_id"] for r in
          spark.read.parquet(str(base / "a") + "/docs").collect()}
    db = {r["url"]: r["doc_id"] for r in
          spark.read.parquet(str(base / "b") + "/docs").collect()}
    assert da == db


def _assert_rows_match_reference(idx):
    """Every postings row equals functions.codecs.encode_blocks (the
    reference block encoder) rebuilt from the row's decoded docs and
    tfs, the docs-table doc_len and the index avgdl: blocks, n_docs,
    cf, max_norm and wire_bytes."""
    from irkit_spark.functions.codecs import encode_blocks
    from irkit_spark.functions.scoring import bm25_tf_norm
    from irkit_spark.operators.query import _decode_row_blocks
    docs = idx.docs.select("doc_id", "doc_len").toPandas()
    dl = np.zeros(int(docs["doc_id"].max()) + 1, dtype=np.float64)
    dl[docs["doc_id"].to_numpy()] = docs["doc_len"].to_numpy()
    f32 = lambda x: float(np.float32(x))
    rows = idx.postings.collect()
    assert rows
    for r in rows:
        d, tf = _decode_row_blocks(r["blocks"], idx.codec)
        ref = encode_blocks(d, tf, bm25_tf_norm(tf, dl[d.astype(np.int64)],
                                                idx.avgdl),
                            idx.block_size, idx.codec)
        got = [(b["first_doc"], b["last_doc"], b["n"], b["max_score"],
                bytes(b["doc_bytes"]), bytes(b["tf_bytes"]))
               for b in r["blocks"]]
        want = [(b["first_doc"], b["last_doc"], b["n"],
                 f32(b["max_score"]), b["doc_bytes"], b["tf_bytes"])
                for b in ref]
        key = (r["term_id"], r["partition_id"])
        assert got == want, key
        assert (r["n_docs"], r["cf"], r["max_norm"], r["wire_bytes"]) == (
            d.size, int(tf.sum()), f32(max(b["max_score"] for b in ref)),
            sum(len(b["doc_bytes"]) + len(b["tf_bytes"]) for b in ref)), key


def test_streamvbyte_build_parity(spark, pages_small, index_small,
                                  tmp_path):
    """Full build with the streamvbyte codec: decoded postings and
    search results must equal the varbyte index's exactly, and every
    row equals the reference block encoder's output."""
    from irkit_spark.functions.codecs import CODECS, delta_decode
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index, search
    out = str(tmp_path / "svb")
    m = build_index(spark, pages_small, out, docs_per_shard=300,
                    text_from_html=True, codec="streamvbyte")
    vb_idx, vb_m = index_small
    assert m["total_postings"] == vb_m["total_postings"]
    svb = Index(spark, out)
    q = "term00000 term00003 term00123"
    want = [(r["doc_id"], round(r["score"], 9))
            for r in search(vb_idx, q, 10, "wand").collect()]
    got = [(r["doc_id"], round(r["score"], 9))
           for r in search(svb, q, 10, "wand").collect()]
    assert got == want

    def decoded(idx):
        dec = CODECS[idx.codec][1]
        out = {}
        for r in idx.postings.collect():
            ds = []
            for b in r["blocks"]:
                gaps = dec(bytes(b["doc_bytes"]), int(b["n"]))
                ds.extend(delta_decode(gaps, int(b["first_doc"])).tolist())
            out[(r["term_id"], r["partition_id"])] = (r["cf"], ds)
        return out

    assert decoded(svb) == decoded(vb_idx)
    _assert_rows_match_reference(svb)


def test_binpack_build_parity(spark, pages_small, index_small,
                              tmp_path):
    """Full build with the binpack (bit-packing) codec: search results
    and decoded postings equal the varbyte index's exactly, every row
    equals the reference block encoder's output, and the fixed-width
    gap packing beats LEB128's 1-byte floor on the wire."""
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index, search
    out = str(tmp_path / "bp")
    m = build_index(spark, pages_small, out, docs_per_shard=300,
                    text_from_html=True, codec="binpack")
    vb_idx, vb_m = index_small
    assert m["total_postings"] == vb_m["total_postings"]
    bp = Index(spark, out)
    for q, mode in [("term00000 term00003 term00123", "wand"),
                    ("term00001 term00010", "daat"),
                    ("term00000 term00002", "and")]:
        want = [(r["doc_id"], round(r["score"], 9))
                for r in search(vb_idx, q, 10, mode,
                                local=False).collect()]
        got = [(r["doc_id"], round(r["score"], 9))
               for r in search(bp, q, 10, mode, local=False).collect()]
        assert got == want and got, (q, mode)
    vb_bytes = sum(
        len(bytes(b["doc_bytes"])) + len(bytes(b["tf_bytes"]))
        for r in vb_idx.postings.collect() for b in r["blocks"])
    bp_bytes = sum(
        len(bytes(b["doc_bytes"])) + len(bytes(b["tf_bytes"]))
        for r in bp.postings.collect() for b in r["blocks"])
    assert bp_bytes < vb_bytes
    _assert_rows_match_reference(bp)


def test_vocab_gate_paths_byte_identical(spark, pages_small,
                                         tmp_path_factory):
    """Term-ID assignment gate: the huge-vocab path (no driver collect,
    no broadcast dict — sorted-rank ids + shuffle-join pass B) must
    produce a byte-identical index to the broadcast-dict path, because
    both assign term_id = rank in sorted term order."""
    from irkit_spark.operators.build import build_index
    base = tmp_path_factory.mktemp("gate")

    def canon(path):
        df = spark.read.parquet(str(path) + "/postings")
        return {(r["term_id"], r["partition_id"]):
                (r["n_docs"], r["cf"], tuple(
                    (b["first_doc"], bytes(b["doc_bytes"]),
                     bytes(b["tf_bytes"])) for b in r["blocks"]))
                for r in df.collect()}

    build_index(spark, pages_small, str(base / "dict"),
                docs_per_shard=300, text_from_html=True)
    build_index(spark, pages_small, str(base / "join"),
                docs_per_shard=300, text_from_html=True,
                broadcast_vocab_max=0)     # force the huge-vocab path
    assert canon(base / "dict") == canon(base / "join")
    ta = sorted((r["term_id"], r["term"], r["df"], r["cf"]) for r in
                spark.read.parquet(str(base / "dict") + "/terms").collect())
    tb = sorted((r["term_id"], r["term"], r["df"], r["cf"]) for r in
                spark.read.parquet(str(base / "join") + "/terms").collect())
    assert ta == tb


def test_id_broadcast_gate_paths_identical(spark, pages_small,
                                           index_small, tmp_path,
                                           monkeypatch):
    """Gate audit, config.ID_BROADCAST_MAX: with the gate at 0 the
    (url, doc_id) mapping is shuffle-joined instead of broadcast, and
    the build writes the same docs, terms and postings rows as the
    default build (index_small, same corpus and layout)."""
    from irkit_spark import config
    from irkit_spark.operators.build import build_index
    idx, _ = index_small
    out = str(tmp_path / "shuffle_ids")
    monkeypatch.setattr(config, "ID_BROADCAST_MAX", 0)
    build_index(spark, pages_small, out, docs_per_shard=300,
                text_from_html=True)

    def table(path, name):
        return sorted(tuple(r) for r in
                      spark.read.parquet(f"{path}/{name}").collect())
    for name in ("docs", "terms", "postings"):
        assert table(out, name) == table(idx.path, name), name


def test_doc_id_assignment_parallelism_invariant(spark, pages_small):
    """Same dense ids regardless of input partitioning (T2)."""
    from irkit_spark.plans.dense_ids import assign_dense_ids
    a = assign_dense_ids(pages_small.repartition(2), "url", "doc_id",
                         16).select("url", "doc_id")
    b = assign_dense_ids(pages_small.repartition(17), "url", "doc_id",
                         16).select("url", "doc_id")
    assert a.join(b, "url").filter(
        a["doc_id"] != b["doc_id"]).count() == 0


def test_adaptive_buckets_default_preserves_ids(spark, pages_small):
    """n_buckets=None (count-adaptive default) must assign EXACTLY the
    ids the historical fixed-64 default assigned for any input below
    2.048e9 keys, and the bucket-count formula must grow one bucket per
    ~32M keys above the floor (bounded per-bucket sorts at 1e12 docs —
    VERDICT r5 item 5)."""
    from irkit_spark.plans.dense_ids import (adaptive_buckets,
                                             assign_dense_ids)
    # formula pins: floor, threshold edges, large-scale growth
    assert adaptive_buckets(0) == 64
    assert adaptive_buckets(1000) == 64
    assert adaptive_buckets(64 * 32_000_000) == 64
    assert adaptive_buckets(64 * 32_000_000 + 1) == 65
    assert adaptive_buckets(10**12) == 31250
    # id-assignment equivalence: adaptive default == explicit 64
    a = assign_dense_ids(pages_small, "url", "doc_id").select(
        "url", "doc_id")
    b = assign_dense_ids(pages_small, "url", "doc_id", 64).select(
        "url", "doc_id")
    assert a.join(b, "url").filter(
        a["doc_id"] != b["doc_id"]).count() == 0


def test_topical_ids_contiguous_and_invariant(spark):
    """topical_dense_ids (Kulkarni-Callan topic shards as an ID
    assignment): every cluster's ids form one contiguous interval,
    ids are dense 0..N-1, and the assignment is identical at any
    parallelism; an index built on them concentrates a topical term
    in few shards so selective search skips the rest."""
    from irkit_spark.plans.dense_ids import topical_dense_ids
    rows = [(f"u{i}", ["news", "sport", "tech"][i % 3],
             f"body {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "url string, lang string, "
                                     "text string")
    a = topical_dense_ids(df.repartition(3), "lang", "url",
                          n_buckets=8)
    b = topical_dense_ids(df.repartition(13), "lang", "url",
                          n_buckets=8)
    pa = {r["url"]: r["doc_id"] for r in a.collect()}
    pb = {r["url"]: r["doc_id"] for r in b.collect()}
    assert pa == pb
    assert sorted(pa.values()) == list(range(300))    # dense 0..N-1
    by_cluster: dict = {}
    for r in a.collect():
        by_cluster.setdefault(r["lang"], []).append(r["doc_id"])
    for lang, ids in by_cluster.items():
        assert max(ids) - min(ids) + 1 == len(ids) == 100, lang


def test_topical_build_concentrates_terms(spark):
    """The payoff: built on topical ids, a topic-exclusive term's
    postings live in ceil(cluster/docs_per_shard) shards instead of
    nearly all of them, and selective search stays exact while
    searching only those."""
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index, search
    from irkit_spark.operators.selective import selective_search
    from irkit_spark.plans.dense_ids import topical_dense_ids
    import shutil
    import tempfile
    rows = [(f"u{i:04d}", "sport" if i % 3 else "news",
             ("goal match " if i % 3 else "election vote ") * 3
             + f"pad{i % 5}") for i in range(600)]
    df = spark.createDataFrame(rows, "url string, topic string, "
                                     "text string")
    ids = topical_dense_ids(df, "topic", "url", n_buckets=8)
    out = tempfile.mkdtemp() + "/idx"
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, ids.select("doc_id", "url", "text"), out,
                docs_per_shard=100, doc_id_col="doc_id",
                key_col="doc_id", n_parts=8)
    idx = Index(spark, out)
    # "election" is news-only: 200 contiguous docs -> exactly 2 of
    # the 6 shards hold its postings
    shards = (idx.postings
              .join(idx.terms.filter(F.col("term") == "election")
                    .select("term_id"), "term_id")
              .select("partition_id").distinct().count())
    assert shards == 2
    stats: dict = {}
    a = [(r["doc_id"], r["score"]) for r in
         selective_search(idx, "election vote", k=10, m0=1,
                          stats=stats).collect()]
    b = [(r["doc_id"], r["score"]) for r in
         search(idx, "election vote", k=10, mode="wand",
                local=False).collect()]
    assert a == b
    assert stats["shards_phase1"] + stats["shards_phase2"] <= 2


def test_sorted_rank_mapping_deterministic(spark, pages_small):
    """sorted_rank_mapping (the huge-vocab id assigner) yields the
    global sorted rank regardless of input partitioning or the number
    of range partitions."""
    from irkit_spark.plans.dense_ids import sorted_rank_mapping
    keys = pages_small.select("url")
    a = {r["url"]: r["id"] for r in sorted_rank_mapping(
        keys.repartition(3), "url", "id", 4).collect()}
    b = {r["url"]: r["id"] for r in sorted_rank_mapping(
        keys.repartition(17), "url", "id", 11).collect()}
    assert a == b
    want = {u: i for i, u in enumerate(sorted(a))}
    assert a == want


def test_postings_row_aggregates_consistent(index_small):
    """max_norm / wire_bytes (pre-aggregated per row so stats scans
    never touch the blocks payload) match the blocks they summarize."""
    idx, _ = index_small
    import math
    for r in idx.postings.limit(200).collect():
        mx = max(b["max_score"] for b in r["blocks"])
        wb = sum(len(b["doc_bytes"]) + len(b["tf_bytes"])
                 for b in r["blocks"])
        assert math.isclose(r["max_norm"], mx, rel_tol=1e-6)
        assert r["wire_bytes"] == wb


def test_load_pages_jsonl_csv_and_build(spark, tmp_path):
    """load_pages reads JSONL and CSV corpora by extension and the
    build consumes them unchanged (the web-corpus interchange path)."""
    import json as _json

    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.query import Index, search
    from irkit_spark.sources.catalog import load_pages
    rows = [{"doc_id": i, "text": f"alpha w{i % 5} beta gamma"}
            for i in range(40)]
    jl = tmp_path / "corpus.jsonl"
    jl.write_text("\n".join(_json.dumps(r) for r in rows))
    cs = tmp_path / "corpus.csv"
    cs.write_text("doc_id,text\n" + "\n".join(
        f"{r['doc_id']},{r['text']}" for r in rows))
    dj = load_pages(spark, str(jl))
    dc = load_pages(spark, str(cs))
    assert dj.count() == dc.count() == 40
    assert set(dj.columns) == set(dc.columns) == {"doc_id", "text"}
    out = str(tmp_path / "idx")
    build_index(spark, dj.select(F.col("doc_id").cast("long")
                                 .alias("doc_id"), "text"),
                out, docs_per_shard=20, doc_id_col="doc_id",
                key_col="doc_id")
    hits = search(Index(spark, out), "alpha", 5).collect()
    assert len(hits) == 5
