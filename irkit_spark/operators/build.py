"""Distributed inverted-index build (SURVEY.md §3.1, BASELINE.json:6).

Pipeline (stage per line; shuffles marked). The raw table is scanned
exactly ONCE (the canonicalize pass); everything downstream reads the
persisted canonical output:

  pages(url, warc_ts, html, text, lang)                     [input_hint]
    -> canonicalize: frozen extract + frozen tokenizer, fused in one
                Arrow pandas pass keyed by url; persisted    (S3+T1)
    -> doc_id:  deterministic dense two-pass assignment over the
                persisted urls, + doc_id_offset on a delta build
                                                             (T2, 1 small shuffle)
    -> lexicon: per-batch DISTINCT terms -> vocab-gated term ids
                (driver-sorted broadcast dict <= cap [B:6]; range-
                partitioned sorted-rank + shuffle join above — same
                sorted-rank id space, byte-identical); a build given
                a shared_lexicon takes the ids from it instead (a
                delta build grows it with these terms first) (T3)
    -> tok:     mapInPandas -> (doc_id, term_id, tf, dl) integer
                stream, PACKED in-kernel into 20B/posting binary blobs
                keyed by bucket(term_id, shard) (TOK_BLOB_SCHEMA)
    -> tok checkpoint: parquet of blobs                      (resumability §4.4)
    -> stats:   n_docs / avgdl from the written docs table, + the
                collection's prior_stats on a delta build
    -> THE shuffle: repartition(n_parts_enc, bucket) — semantically the
                "salted repartition-by-term +
                sortWithinPartitions(term, docID)" of BASELINE.json:6
                with salt = shard(doc_id), but transported as a few
                thousand binary cells instead of 10^12 Tungsten rows
                (row ser/deser + row->Arrow measured 2x the encode
                kernel in JVM CPU); the within-partition sort runs as
                one packed-key argsort inside the encode kernel, one
                bucket at a time (bounded expansion), for every codec
    -> encode:  encode_region, the one postings writer: delta-gap +
                codec blocks + per-block max tf_norm + per-group cf
                                                             (C1-C4/A5/A2)
    -> write:   postings (dir-partitioned by shard), terms (df/cf/
                max_score from ONE postings scan), docs (dl from the
                canonical text), stats, lineage              (S5, §4.4)

Skew handling (explicit, BASELINE.json:14): the salt IS the term-split —
a head term's posting list is cut into <= n_shards sub-lists, each
bounded by the shard's postings; no (term_id, shard) shuffle key can
exceed one doc-shard's occurrences of one term. skew_ratio
(shard postings / median shard postings) is logged per shard in lineage.

Why blocks store idf-free `max tf_norm` rather than full BM25 UBs: the
encode kernel knows tf and dl (carried through the shuffle) and avgdl (a
broadcast scalar), but per-term df would need a join of the token table
against `terms` — an extra 10^12-row shuffle. WAND multiplies the
broadcast per-query-term idf at query time instead; terms.max_score
(= idf * max tf_norm over all blocks) is aggregated after the encode.

Reference parity: replaces irkit's assembler/merger batch build
([pub:include/irkit/index/assembler.hpp, merger.hpp] — SURVEY.md §2.1
S4/S5, §2.7 U1); Spark's sort-shuffle is the k-way merge.
"""

from __future__ import annotations

import os
import time
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.functions.codecs import CODECS, _vb_nbytes, varbyte_encode
from irkit_spark.functions.scoring import bm25_tf_norm
from irkit_spark.functions.tokenize import (canonicalize_iter,
                                            tokenize_count_iter,
                                            tokenize_ids_iter)
from irkit_spark.plans.dense_ids import dense_id_mapping, sorted_rank_mapping

TOK_SCHEMA = "doc_id long, term string, tf long, dl long"

# Arrow binary arrays carry int32 offsets: one encode_region call whose
# wire stream exceeds this silently overflows and corrupts postings.
# Regions are split at (term_id, shard) group boundaries before
# encoding when either stream would cross it (patchable in tests).
MAX_BIN_OFFSET = (1 << 31) - 16
# cf = sum of raw tf over the (term, shard) group, aggregated inside
# the encode kernel: stage 4's df/cf then come from the tiny postings
# table (sum(n_docs), sum(cf)) instead of a second full scan + shuffle
# of the 10^12-row token table. max_norm (= max block max_score of the
# group) and wire_bytes (compressed payload size) are ALSO pre-
# aggregated per row so the terms/lineage stats aggregations scan only
# narrow numeric columns — never re-deserializing the blocks payload
# (measured: that rescan was a non-scaling ~3s serial floor per build).
POSTINGS_SCHEMA = (
    "term_id int, partition_id int, n_docs int, cf long, "
    "max_norm float, wire_bytes long, "
    "blocks array<struct<first_doc: long, last_doc: long, n: int, "
    "max_score: float, doc_bytes: binary, tf_bytes: binary>>")
POSTINGS_ARROW = pa.schema([
    ("term_id", pa.int32()), ("partition_id", pa.int32()),
    ("n_docs", pa.int32()), ("cf", pa.int64()),
    ("max_norm", pa.float32()), ("wire_bytes", pa.int64()),
    ("blocks", pa.list_(pa.struct([
        ("first_doc", pa.int64()), ("last_doc", pa.int64()),
        ("n", pa.int32()), ("max_score", pa.float32()),
        ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary())]))),
])

# Explicit artifact-reader schemas: skips footer-based inference AND
# keeps empty builds loadable (a partitionBy write of zero rows leaves
# a dir with no data files, which schema inference cannot read)
DOCS_TABLE_SCHEMA = "doc_id long, url string, doc_len int, partition_id int"
TERMS_TABLE_SCHEMA = "term_id int, term string, df long, cf long, max_score float"


def _byte_offsets(sizes) -> np.ndarray:
    """Exclusive prefix sum (len n+1) of per-item byte sizes."""
    off = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=off[1:])
    return off


def encode_region(t, s, d, payload, tf_norm, tf=None, *, codec: str,
                  block_size: int):
    """Encode postings sorted by (term_id, shard, doc_id) into
    POSTINGS_ARROW record batches — the one postings writer of the
    build, the merge and the compaction.

    One row per (term_id, shard) group; the group is cut into blocks of
    `block_size` postings, each storing its doc-id gaps (first gap 0,
    relative to first_doc) and its `payload` values (the raw tf, or the
    7-bit impact of a quantized index) in `codec`, plus max_score = the
    block max of `tf_norm` (the idf-free BM25 factor). Row cf sums `tf`
    (default: the payload). Varbyte encodes each stream of the region
    ONCE and slices blocks out by byte offset; the other codecs make one
    call per block. Either way the blocks column is assembled from flat
    buffers, with no per-block dicts.

    Arrow binary arrays carry int32 offsets, so a region whose stream
    would pass MAX_BIN_OFFSET is split at a group boundary near the
    middle and encoded in halves (group spans stay intact, so output
    rows stay unique per (term_id, partition_id)); more than one batch
    is yielded only then."""
    n = d.size
    if tf is None:
        tf = payload
    gflag = np.empty(n, dtype=bool)
    gflag[0] = True
    gflag[1:] = (t[1:] != t[:-1]) | (s[1:] != s[:-1])
    gstarts = np.flatnonzero(gflag)
    pos = np.arange(n, dtype=np.int64) - gstarts[np.cumsum(gflag) - 1]
    bstarts = np.flatnonzero(gflag | (pos % block_size == 0))
    bounds = np.append(bstarts, n)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = (d[1:] - d[:-1]).view(np.uint64)
    gaps[bstarts] = 0   # overwrites cross-group negatives too
    # block byte offsets are known before the wire bytes are joined, so
    # an oversized region splits before its streams are materialized
    if codec == "varbyte":
        nb_d, nb_t = _vb_nbytes(gaps), _vb_nbytes(payload)
        off_d = _byte_offsets(nb_d)[bounds]
        off_t = _byte_offsets(nb_t)[bounds]
    else:
        enc = CODECS[codec][0]
        blk_d = [enc(gaps[a:z]) for a, z in zip(bounds[:-1], bounds[1:])]
        blk_t = [enc(payload[a:z]) for a, z in zip(bounds[:-1], bounds[1:])]
        off_d = _byte_offsets([len(x) for x in blk_d])
        off_t = _byte_offsets([len(x) for x in blk_t])
    if max(off_d[-1], off_t[-1]) > MAX_BIN_OFFSET:
        if gstarts.size < 2:
            raise ValueError(
                "single (term_id, shard) group exceeds the 2GB Arrow "
                "binary limit — lower DOCS_PER_SHARD")
        i = min(max(int(np.searchsorted(gstarts, n // 2)), 1),
                gstarts.size - 1)
        for part in (slice(0, gstarts[i]), slice(gstarts[i], n)):
            yield from encode_region(
                t[part], s[part], d[part], payload[part], tf_norm[part],
                tf[part], codec=codec, block_size=block_size)
        return
    if codec == "varbyte":
        wire_d = varbyte_encode(gaps, nb_d)
        wire_t = varbyte_encode(payload, nb_t)
    else:
        wire_d, wire_t = b"".join(blk_d), b"".join(blk_t)
    nblocks = bstarts.size
    bmax = np.maximum.reduceat(tf_norm, bstarts)
    struct = pa.StructArray.from_arrays(
        [pa.array(d[bstarts], pa.int64()),
         pa.array(d[bounds[1:] - 1], pa.int64()),
         pa.array(np.diff(bounds).astype(np.int32), pa.int32()),
         pa.array(bmax.astype(np.float32), pa.float32()),
         pa.Array.from_buffers(pa.binary(), nblocks,
                               [None, pa.py_buffer(off_d.astype(np.int32)),
                                pa.py_buffer(wire_d)]),
         pa.Array.from_buffers(pa.binary(), nblocks,
                               [None, pa.py_buffer(off_t.astype(np.int32)),
                                pa.py_buffer(wire_t)])],
        names=["first_doc", "last_doc", "n", "max_score",
               "doc_bytes", "tf_bytes"])
    # each group's blocks: from its first block to the next group's
    gb = np.append(np.flatnonzero(gflag[bstarts]), nblocks)
    yield pa.RecordBatch.from_arrays(
        [pa.array(t[gstarts].astype(np.int32), pa.int32()),
         pa.array(s[gstarts].astype(np.int32), pa.int32()),
         pa.array(np.diff(np.append(gstarts, n)).astype(np.int32),
                  pa.int32()),
         pa.array(np.add.reduceat(tf.astype(np.int64), gstarts), pa.int64()),
         pa.array(np.maximum.reduceat(bmax, gb[:-1]).astype(np.float32),
                  pa.float32()),
         pa.array(np.diff(off_d[gb]) + np.diff(off_t[gb]), pa.int64()),
         pa.ListArray.from_arrays(pa.array(gb.astype(np.int32), pa.int32()),
                                  struct)],
        schema=POSTINGS_ARROW)


def encode_postings(t, d, payload, tf_norm, tf=None, *, codec: str,
                    block_size: int, docs_per_shard: int):
    """encode_region over postings in any order ((term_id, doc_id) pairs
    unique). Ordering by (term, doc) IS the (term, shard, doc) order —
    shard = doc // docs_per_shard is monotonic in doc."""
    if not d.size:
        return
    d_bits = max(1, int(d.max())).bit_length()
    if int(t.max()).bit_length() + d_bits <= 63:
        # keys are unique, so the unstable introsort is safe — and ~2x
        # faster than the stable mergesort for int64; at 10^12 docs x
        # 10^8 vocab the key does not fit and the 2-key lexsort runs
        order = np.argsort((t.astype(np.int64) << d_bits) | d)
    else:
        order = np.lexsort((d, t))
    d = d[order]
    yield from encode_region(
        t[order], (d // docs_per_shard).astype(np.int32), d,
        payload[order], tf_norm[order],
        None if tf is None or tf is payload else tf[order],
        codec=codec, block_size=block_size)


def tokenize_spark(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, text) -> (doc_id, term, tf, dl) with no explode shuffle."""
    src = df.select(F.col(id_col).cast("long").alias("doc_id"),
                    F.col(text_col).alias("text"))
    return src.mapInPandas(
        lambda it: tokenize_count_iter(it, "doc_id", "text"),
        schema=TOK_SCHEMA)


# packed token-blob layout (the build's big exchange moves these
# instead of raw rows): one binary cell per (bucket, shard, source
# Arrow batch) holding n = len(blob)//20 token rows as four contiguous
# column blocks — doc_id int64[n] | term_id int32[n] | tf int32[n] |
# dl int32[n]. 20 bytes/posting, memcpy-packed: the JVM shuffles a few
# thousand binary cells per build instead of ser/deserializing 10^12
# Tungsten rows (measured: row shuffle + row->Arrow conversion cost 2x
# the encode kernel itself in JVM CPU).
TOK_BLOB_SCHEMA = "bucket int, shard int, blob binary"
_BLOB_ROW_BYTES = 20
_MIX_A = np.uint64(0x9E3779B97F4A7C15)
_MIX_B = np.uint64(0xC2B2AE3D27D4EB4F)


def _bucket_of(term_id: np.ndarray, shard: np.ndarray,
               n_buckets: int) -> np.ndarray:
    """Deterministic bucket of the (term_id, shard) shuffle key — the
    'salted repartition-by-term' key of BASELINE.json:6, salt = doc
    shard, so one bucket never holds more than one doc-shard's slice of
    a head term (explicit skew bound)."""
    with np.errstate(over="ignore"):
        h = (term_id.astype(np.uint64) * _MIX_A
             + shard.astype(np.uint64) * _MIX_B)
        h ^= h >> np.uint64(29)
        h *= _MIX_A
        h ^= h >> np.uint64(32)
    return (h % np.uint64(n_buckets)).astype(np.int32)


def _pack_blob_frames(d: np.ndarray, t: np.ndarray, tf: np.ndarray,
                      dl: np.ndarray, n_buckets: int,
                      docs_per_shard: int):
    """Group one batch's token rows by (bucket, shard) and pack each
    group into one binary blob. Returns (buckets, shards, blobs) lists."""
    s = (d // docs_per_shard).astype(np.int32)
    bk = _bucket_of(t, s, n_buckets)
    order = np.lexsort((s, bk))
    d, t, tf, dl, s, bk = (d[order], t[order], tf[order], dl[order],
                           s[order], bk[order])
    gflag = np.empty(d.size, dtype=bool)
    gflag[0] = True
    gflag[1:] = (bk[1:] != bk[:-1]) | (s[1:] != s[:-1])
    starts = np.flatnonzero(gflag)
    ends = np.append(starts[1:], d.size)
    buckets, shards, blobs = [], [], []
    for lo, hi in zip(starts, ends):
        buckets.append(int(bk[lo]))
        shards.append(int(s[lo]))
        blobs.append(d[lo:hi].astype(np.int64).tobytes()
                     + t[lo:hi].astype(np.int32).tobytes()
                     + tf[lo:hi].astype(np.int32).tobytes()
                     + dl[lo:hi].astype(np.int32).tobytes())
    return buckets, shards, blobs


def _binary_cells(arr) -> list:
    """Zero-copy memoryviews of a pyarrow BinaryArray's cells (handles
    sliced arrays via arr.offset). Replaces per-cell .as_py(), which
    copied every blob into a fresh Python bytes object (~GBs per build
    partition at scale). The views pin the Arrow buffer alive."""
    n = len(arr)
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                        count=n + arr.offset + 1)[arr.offset:]
    mv = memoryview(arr.buffers()[2])
    return [mv[off[i]:off[i + 1]] for i in range(n)]


def _unpack_blob(blob) -> tuple:
    """blob -> (doc_id i64, term_id i32, tf i32, dl i32) column views."""
    b = memoryview(blob)
    n = len(b) // _BLOB_ROW_BYTES
    d = np.frombuffer(b, np.int64, n)
    t = np.frombuffer(b, np.int32, n, offset=8 * n)
    tf = np.frombuffer(b, np.int32, n, offset=12 * n)
    dl = np.frombuffer(b, np.int32, n, offset=16 * n)
    return d, t, tf, dl


def _pack_tok_pandas(pdfs, n_buckets: int, docs_per_shard: int):
    """pandas batches of (doc_id, term_id, tf, dl) -> packed blob rows."""
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        buckets, shards, blobs = _pack_blob_frames(
            pdf["doc_id"].to_numpy().astype(np.int64),
            pdf["term_id"].to_numpy(),
            pdf["tf"].to_numpy(),
            pdf["dl"].to_numpy(), n_buckets, docs_per_shard)
        yield pd.DataFrame({"bucket": pd.Series(buckets, dtype="int32"),
                            "shard": pd.Series(shards, dtype="int32"),
                            "blob": pd.Series(blobs, dtype="object")})


def _pack_kernel_arrow(n_buckets: int, docs_per_shard: int):
    """mapInArrow: (doc_id, term_id, tf, dl) rows -> packed blob rows
    (the huge-vocab path packs after its term-id shuffle join)."""

    def run(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            get = lambda c: rb.column(names.index(c)).to_numpy(
                zero_copy_only=False)
            buckets, shards, blobs = _pack_blob_frames(
                get("doc_id").astype(np.int64), get("term_id"),
                get("tf"), get("dl"), n_buckets, docs_per_shard)
            yield pa.RecordBatch.from_arrays(
                [pa.array(buckets, pa.int32()),
                 pa.array(shards, pa.int32()),
                 pa.array(blobs, pa.binary())],
                names=["bucket", "shard", "blob"])

    return run


def _blob_encoder(avgdl: float, codec: str, block_size: int,
                  docs_per_shard: int, quantize: bool = False):
    """mapInArrow encoder over packed-blob rows (TOK_BLOB_SCHEMA).

    Raw blobs are accumulated per bucket (20B/posting — the partition is
    resident only in packed form), then ONE bucket at a time is
    expanded, scored, sorted and encoded, so peak numpy expansion is a
    bucket, not the partition."""

    def run(batches):
        per_bucket: dict[int, list] = {}
        for rb in batches:
            names = rb.schema.names
            bks = rb.column(names.index("bucket")).to_numpy()
            cells = _binary_cells(rb.column(names.index("blob")))
            for i, cell in enumerate(cells):
                per_bucket.setdefault(int(bks[i]), []).append(cell)
        for bucket in sorted(per_bucket):
            parts = [_unpack_blob(b) for b in per_bucket[bucket]]
            per_bucket[bucket] = None
            d, t, tf, dl = (np.concatenate(c) for c in zip(*parts))
            del parts
            tf = tf.astype(np.uint64)
            tf_norm = bm25_tf_norm(tf, dl, avgdl)
            del dl
            # quantize: precomputed 7-bit impact scores (irkit
            # quantize.hpp, SURVEY.md §2.8): 0..127 = exactly one varbyte
            # byte per posting; FLOOR so q/127 <= tf_norm and the exact
            # per-block max_score stays a sound WAND bound
            payload = (np.floor(tf_norm * 127.0).astype(np.uint64)
                       if quantize else tf)
            yield from encode_postings(
                t, d, payload, tf_norm, tf, codec=codec,
                block_size=block_size, docs_per_shard=docs_per_shard)

    return run


def build_index(spark: SparkSession, pages: DataFrame, out_dir: str, *,
                codec: str = config.DEFAULT_CODEC,
                block_size: int = config.BLOCK_SIZE,
                docs_per_shard: int | None = None,
                n_buckets: int | None = config.ID_BUCKETS,
                text_from_html: bool = False,
                key_col: str = "url",
                doc_id_col: str | None = None,
                n_parts: int | None = None,
                resume: bool = False,
                quantize: bool = False,
                shared_lexicon: (DataFrame
                                 | Callable[[DataFrame], dict[str, int]]
                                 | None) = None,
                global_stats: tuple[int, float] | None = None,
                prior_stats: tuple[int, int] | None = None,
                doc_id_offset: int = 0,
                broadcast_vocab_max: int | None = None,
                table_format: str | None = None,
                extractor: str = "frozen") -> dict:
    """Build (or resume) the index; returns build metrics dict.

    extractor ('frozen' default, 'dom' opt-in — see
    functions/extract.EXTRACTORS) selects the html->text form when
    text_from_html=True. Pick ONE per index: batches merged together
    (operators/merge.py) and incremental ingest runs must share it, or
    the same url can tokenize differently across batches. The frozen
    form is the only one under the golden byte-identity invariant.

    table_format ('parquet' default, or 'iceberg'; falls back to
    $IRKIT_TABLE_FORMAT) governs every index artifact
    (tok/docs/postings/terms/stats/lineage) via sources/catalog:
    under 'iceberg', out_dir is a catalog namespace and writes go
    through writeTo()/overwritePartitions().

    Delta builds (one batch of a growing collection — streaming ingest,
    update_index) pass the collection's shared state instead of
    re-deriving it from the batch:
      shared_lexicon  the (term, term_id) lexicon, or a callable that
                      grows it: it receives this batch's terms (a `term`
                      column from the canonicalize pass) and returns
                      {term: term_id} for each of them;
      prior_stats     (n_docs, coll_len) before this batch: scoring
                      uses the running n_docs / avgdl, i.e. these plus
                      this build's docs table (global_stats, if given,
                      is taken as is instead);
      doc_id_offset   added to the ids the build assigns on the
                      key_col path (explicit doc_id_col ids are kept)."""
    t0 = time.monotonic()
    phases: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str):
        now = time.monotonic()
        phases[name] = round(now - _last[0], 3)
        _last[0] = now

    from irkit_spark.sources.catalog import (artifact_exists,
                                             artifact_format,
                                             read_artifact, write_artifact)
    from irkit_spark.functions.extract import EXTRACTORS
    if extractor not in EXTRACTORS:
        raise ValueError(f"unknown extractor {extractor!r}; "
                         f"choices: {sorted(EXTRACTORS)}")
    fmt = artifact_format(table_format)
    if fmt == "iceberg":
        from irkit_spark.sources.catalog import iceberg_available
        if not iceberg_available(spark):
            raise RuntimeError(
                "table_format=iceberg but no Iceberg extension is "
                "configured on this session — failing before any build "
                "work (add the iceberg-spark runtime jar + catalog)")
    docs_per_shard = docs_per_shard or config.DOCS_PER_SHARD
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if fmt != "iceberg":
        os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, name)

    # ---- resume bookkeeping -------------------------------------------
    done_shards: set[int] = set()
    prev_attempts: dict[int, int] = {}
    if resume and artifact_exists(spark, out_dir, "lineage", fmt):
        lin = read_artifact(spark, out_dir, "lineage", fmt=fmt).collect()
        for r in lin:
            prev_attempts[r["partition_id"]] = r["attempt"]
            if r["status"] == "done":
                done_shards.add(r["partition_id"])
        if (done_shards and fmt != "iceberg"
                and artifact_exists(spark, out_dir, "postings", fmt)):
            # layout guard: postings written before the per-row
            # max_norm/wire_bytes columns would read as all-null under
            # the explicit schema and corrupt the terms/lineage stats
            actual = spark.read.parquet(p("postings")).columns
            if "max_norm" not in actual:
                raise RuntimeError(
                    "postings at %r use the pre-max_norm layout %s — "
                    "rebuild without resume" % (p("postings"), actual))

    # ---- stage 1: doc ids + lexicon pass (SURVEY.md T2/T3/A2) ---------
    # Two tokenization passes keep the 10^12-row stream INTEGER-ONLY:
    #   pass A emits per-batch DISTINCT terms — vocab-sized, tiny — from
    #   which the lexicon is built; pass B re-tokenizes and emits
    #   (doc_id, term_id, tf, dl) ints via the broadcast dict inside the
    #   kernel. No Python string column ever crosses Arrow in bulk (the
    #   old single-pass-with-strings + id-remap flow moved 2x the rows
    #   and all term strings through the Python channel and did not
    #   scale with cores).
    # Term-ID assignment is gated on vocab size (BASELINE.json:6 names
    # the broadcast dictionary; a 10^8-10^9-term web vocab would kill
    # the driver): at or below the cap the distinct terms are collected
    # ONCE, sorted on the driver (term_id = sorted rank — one Spark job
    # total), and shipped as the broadcast dict; above it ids come from
    # a range-partitioned sorted-rank assignment and pass B joins on the
    # term string instead (same sorted-rank id space either way, so the
    # two paths produce byte-identical indexes — tested).
    reuse_tok = (resume and artifact_exists(spark, out_dir, "tok", fmt)
                 and artifact_exists(spark, out_dir, "docs", fmt)
                 and artifact_exists(spark, out_dir, "terms", fmt))
    src = None
    bc = None
    join_ids = False
    id_mapping_cached = None
    vocab_cap = (broadcast_vocab_max if broadcast_vocab_max is not None
                 else config.BROADCAST_VOCAB_MAX)
    if reuse_tok:
        if fmt != "iceberg":
            # layout guard: a tok checkpoint from the pre-blob row
            # layout would read as all-null blobs under the explicit
            # schema — fail loudly instead
            actual = spark.read.parquet(p("tok")).columns
            if "blob" not in actual:
                raise RuntimeError(
                    "tok checkpoint at %r uses the old row layout %s — "
                    "rebuild without resume" % (p("tok"), actual))
        tok = read_artifact(spark, out_dir, "tok", TOK_BLOB_SCHEMA, fmt)
        docs = read_artifact(spark, out_dir, "docs", DOCS_TABLE_SCHEMA,
                             fmt)
        # no driver collect (the vocab may be huge); stage 4 writes the
        # re-derived terms table to a temp dir and swaps it in, so this
        # frame never reads a path that is being overwritten
        join_ids = True
        lex_df = read_artifact(spark, out_dir, "terms",
                               TERMS_TABLE_SCHEMA, fmt) \
            .select("term_id", "term")
    else:
        # canonicalize = frozen extract (when html) + frozen regex
        # tokenizer, FUSED in one Python pass; both passes below then
        # split on whitespace (5x cheaper). persisted so pass B never
        # re-runs extract/regex. (extract_text_udf stays the standalone
        # extraction surface; the fused kernel calls the same frozen
        # extract_text — byte-identity is tested against the golden
        # column either way.)
        # emit_terms: the canonicalize kernel ALSO yields each batch's
        # distinct terms as NULL-keyed sentinel rows, so pass A (the
        # old second split+factorize scan of the cached corpus) is a
        # filter over the same persisted frame. NULL-keyed INPUT rows
        # are filtered out BEFORE canonicalize (they were never
        # indexable — the id join / int cast drops them anyway), so a
        # NULL key downstream unambiguously means "sentinel": without
        # the pre-filter, a doc whose id fails the long cast would
        # masquerade as a sentinel and inject its whole space-joined
        # text into the lexicon as one junk term (ADVICE r3).
        in_col = "html" if text_from_html else "text"
        if doc_id_col is not None:
            # try_cast: under ANSI mode a malformed id must become NULL
            # (and be dropped here), not abort the whole build
            ids = (pages.withColumn("doc_id",
                                    F.col(doc_id_col).try_cast("long"))
                   .filter(F.col("doc_id").isNotNull()))
            src_all = (ids.select("doc_id", F.col(in_col).alias("text"))
                       .mapInPandas(
                           lambda it: canonicalize_iter(
                               it, "doc_id", "text",
                               from_html=text_from_html,
                               emit_terms=True,
                               extractor=extractor),
                           schema="doc_id long, text string, dl int")
                       .persist())
            src = src_all.filter(F.col("doc_id").isNotNull())
        else:
            # canonicalize FIRST, keyed by url: the raw table is scanned
            # exactly once (doc-id bucket counts, the lexicon pass and
            # the docs table all read the persisted canonical output,
            # not the raw html)
            src_all = (pages.filter(F.col(key_col).isNotNull())
                       .select(F.col(key_col).cast("string").alias("url"),
                               F.col(in_col).alias("text"))
                       .mapInPandas(
                           lambda it: canonicalize_iter(
                               it, "url", "text",
                               from_html=text_from_html,
                               emit_terms=True,
                               extractor=extractor),
                           schema="url string, text string, dl int")
                       .persist())
            src0 = src_all.filter(F.col("url").isNotNull())
            mapping, n_ids = dense_id_mapping(src0, "url", "doc_id",
                                              n_buckets)
            if doc_id_offset:
                mapping = mapping.withColumn(
                    "doc_id", F.col("doc_id") + doc_id_offset)
            # broadcast only while the (url, doc_id) mapping fits the
            # driver/executors (same gate as assign_dense_ids); at
            # 10^9-10^12 docs the mapping is corpus-sized and the join
            # must shuffle on url instead.
            # Below the gate the narrow mapping is ALSO persisted: two
            # separate actions consume it (the tok write and the docs
            # write), and exchanges are not reused across actions, so
            # without the cache the per-bucket id window sort ran
            # twice per build (round 7; unpersisted after docs_write)
            if n_ids <= config.ID_BROADCAST_MAX:
                mapping = mapping.persist()
                id_mapping_cached = mapping
                right = F.broadcast(mapping)
            else:
                id_mapping_cached = None
                right = mapping
            src = src0.join(right, "url")
        key0 = "doc_id" if doc_id_col is not None else "url"
        batch_terms = (src_all.filter(F.col(key0).isNull())
                       .select(F.col("text").alias("term")))
        if shared_lexicon is not None:
            # incremental batch build: ids come from the shared, growing
            # lexicon; the batch vocab is bounded, so the dict broadcast
            # is safe. A callable grows the lexicon and returns the
            # batch's ids itself, from the one collect it needs anyway
            if callable(shared_lexicon):
                term_ids = shared_lexicon(batch_terms)
            else:
                term_ids = {r["term"]: r["term_id"] for r in
                            batch_terms.distinct()
                            .join(shared_lexicon.select(
                                "term", F.col("term_id").cast("int")
                                .alias("term_id")), "term")
                            .collect()}
            bc = spark.sparkContext.broadcast(term_ids)
            lex_df = None
        else:
            vocab = [r[0] for r in
                     batch_terms.distinct().limit(vocab_cap + 1).collect()]
            if len(vocab) <= vocab_cap:
                vocab.sort()
                bc = spark.sparkContext.broadcast(
                    {t: i for i, t in enumerate(vocab)})
                # no lex_df frame on this path: pass B reads the
                # broadcast dict and stage 4 assembles the terms table
                # driver-side from the same dict, so a Spark-side
                # lexicon frame would never be read
                lex_df = None
            else:
                join_ids = True
                lex_df = (sorted_rank_mapping(
                              batch_terms.distinct(), "term", "term_id_l",
                              n_parts)
                          .select(F.col("term_id_l").cast("int")
                                  .alias("term_id"), "term")
                          .persist())
    _mark("lexicon")

    # ---- stage 2: tokenize pass B + docs table ------------------------
    # pass B emits PACKED token blobs (TOK_BLOB_SCHEMA): rows are
    # grouped by the (term_id, shard) shuffle bucket inside the kernel
    # and memcpy-packed 20B/posting, so the tok checkpoint AND the big
    # exchange carry a few thousand binary cells instead of 10^12
    # Tungsten rows (the row ser/deser + row->Arrow conversion measured
    # 2x the encode kernel in JVM CPU and was the shuffle-phase scaling
    # wall). Bucket count = n_parts x IRKIT_ENC_BUCKET_OVER so the
    # encode partition count can be raised after the fact (spill
    # safety) without repacking.
    n_buckets_enc = n_parts * config.ENC_BUCKET_OVER
    if not reuse_tok:
        if bc is not None:
            tok = src.select("doc_id", "text").mapInPandas(
                lambda it: _pack_tok_pandas(
                    tokenize_ids_iter(it, bc, "doc_id", "text",
                                      pre_tokenized=True),
                    n_buckets_enc, docs_per_shard),
                schema=TOK_BLOB_SCHEMA)
        else:
            # huge-vocab path: pass B emits term strings, the id
            # assignment is a shuffle join against the lexicon, and a
            # second Arrow pass packs the joined rows
            tok = (src.select("doc_id", "text").mapInPandas(
                       lambda it: tokenize_count_iter(
                           it, "doc_id", "text", pre_tokenized=True),
                       schema=TOK_SCHEMA)
                   .join(lex_df, "term")
                   .select("doc_id",
                           F.col("term_id").cast("int").alias("term_id"),
                           F.col("tf").cast("int").alias("tf"),
                           F.col("dl").cast("int").alias("dl"))
                   .mapInArrow(
                       _pack_kernel_arrow(n_buckets_enc, docs_per_shard),
                       schema=TOK_BLOB_SCHEMA))
        # Plain write (one file per task): dir-partitioning by shard
        # here would fan out tasks x shards tiny files; pass-B output
        # is chunk-ordered in doc_id, so parquet row-group min/max
        # stats on the shard column prune the resume filter anyway.
        write_artifact(tok, out_dir, "tok", fmt=fmt)
        _mark("tokenize_write")
        tok = read_artifact(spark, out_dir, "tok", TOK_BLOB_SCHEMA, fmt)
        # doc lengths come straight from the canonicalize kernel's dl
        # column (token count, computed while the token lists were in
        # hand): the docs table is a narrow projection of the cached
        # canonical frame — no corpus-wide re-split, no scan + groupBy
        # of the 10^12-row token table. This is also the true token
        # length for docs whose terms are all OOV under a shared
        # lexicon.
        dl_col = F.col("dl").cast("int").alias("doc_len")
        if doc_id_col is None:
            # src carries (url, doc_id, text, dl): the docs table is a
            # straight projection, no join at all
            docs = src.select("doc_id", "url", dl_col)
        else:
            docs = (ids.select("doc_id",
                               F.col(key_col).cast("string").alias("url"))
                    .join(src.select("doc_id", dl_col), "doc_id", "left")
                    .fillna(0, ["doc_len"]))
        docs = docs.withColumn(
            "partition_id", (F.col("doc_id") / docs_per_shard).cast("int"))
        # dir-partitioned by shard so query-time doc-length reads prune;
        # repartition first -> one file per shard dir, not one per task
        write_artifact(docs.repartition("partition_id"), out_dir, "docs",
                       partition_by="partition_id", fmt=fmt)
        _mark("docs_write")
        # the stats agg below reads the WRITTEN parquet, not this
        # frame: the frame's lineage re-splits every cached text for
        # doc_len (measured super-linear at 2M docs), while the
        # read-back is a trivially parallel scan of narrow columns
        docs = read_artifact(spark, out_dir, "docs", DOCS_TABLE_SCHEMA,
                             fmt)
        src_all.unpersist()
        if id_mapping_cached is not None:
            # both consumers (tok write, docs write) are done
            id_mapping_cached.unpersist()

    glob = docs.agg(F.count("*").alias("n"),
                    F.sum("doc_len").alias("len"),
                    F.max("doc_id").alias("mx")).collect()[0]
    coll_len = int(glob["len"] or 0)
    # batch build inside a larger collection (SURVEY.md U1): scoring
    # constants must come from the FULL collection or batch indexes
    # would not be merge-compatible
    if global_stats is not None:
        n_docs, avgdl = int(global_stats[0]), float(global_stats[1])
    else:
        n0, len0 = prior_stats or (0, 0)
        n_docs = int(n0) + int(glob["n"])
        avgdl = (int(len0) + coll_len) / n_docs if n_docs else 1.0
    max_doc = int(glob["mx"] if glob["mx"] is not None else 0)
    n_shards = max(1, (max(max_doc + 1, n_docs) + docs_per_shard - 1)
                   // docs_per_shard)

    # ---- stage 3: THE shuffle + encode --------------------------------
    pending = [s for s in range(n_shards) if s not in done_shards]
    tok_p = tok if not done_shards \
        else tok.filter(F.col("shard").isin(pending))
    # spill safety: the encode partition count is derived from the
    # ACTUAL packed token bytes (20B/posting), so a partition's packed
    # form is bounded by ENC_PART_BYTES regardless of how the caller
    # sized spark.sql.shuffle.partitions; the expansion to numpy is
    # per-bucket (1/ENC_BUCKET_OVER of a partition). Capped at the
    # pack-time bucket count (a bucket cannot split).
    n_parts_enc = n_parts
    if fmt != "iceberg" and os.path.isdir(p("tok")):
        packed = sum(os.path.getsize(os.path.join(r, f))
                     for r, _, fs in os.walk(p("tok")) for f in fs
                     if f.endswith(".parquet"))
        # snappy parquet of int blobs decompresses ~2x
        n_parts_enc = min(n_buckets_enc,
                          max(n_parts,
                              (2 * packed) // config.ENC_PART_BYTES + 1))
    # the blob exchange: repartition a few thousand binary cells on the
    # pack-time bucket of (term_id, shard) — semantically the salted
    # repartition-by-term of BASELINE.json:6 — and unpack / sort /
    # encode per bucket inside the kernel
    postings_new = (tok_p.repartition(int(n_parts_enc), "bucket")
                    .mapInArrow(_blob_encoder(avgdl, codec, block_size,
                                              docs_per_shard, quantize),
                                schema=POSTINGS_SCHEMA))

    post_cached = None
    if pending:
        # encoded rows are tiny vs raw postings: one cheap extra shuffle
        # puts each shard in a single file (query-time partition pruning
        # then reads exactly the touched shard files)
        # sort by term_id within each shard file: parquet row-group
        # min/max stats then prune query-term filters inside the scan
        # dynamic = keep done shard partitions on resume
        post_out = postings_new.repartition("partition_id") \
            .sortWithinPartitions("term_id")
        if not done_shards:
            # fresh build: the written table == this frame, so cache it
            # and serve stage 4/5 (df/cf/max_score, lineage) from the
            # cache instead of re-listing + re-reading the just-written
            # shard dirs (two fewer read-back jobs per build)
            post_cached = post_out.persist()
        write_artifact(post_out, out_dir, "postings",
                       partition_by="partition_id", fmt=fmt,
                       dynamic=bool(done_shards))
    _mark("shuffle_encode_write")
    postings = post_cached if post_cached is not None else read_artifact(
        spark, out_dir, "postings", POSTINGS_SCHEMA, fmt)

    # ---- stage 4: terms df/cf/max_score + final small tables ----------
    # df/cf/max_norm all come from ONE narrow-column scan of the tiny
    # encoded postings table (A2): the encode kernel pre-aggregated cf,
    # max_norm and wire_bytes per (term, shard) row, so neither the
    # 10^12-row token table NOR the compressed blocks payload is ever
    # scanned again (the blocks rescan was a non-scaling serial floor)
    per_term = (postings
                .select("term_id", "n_docs", "cf", "max_norm")
                .groupBy("term_id")
                .agg(F.sum("n_docs").cast("long").alias("df"),
                     F.sum("cf").alias("cf"),
                     F.max("max_norm").alias("max_norm")))
    # stage 5's per-shard metrics aggregation runs CONCURRENTLY with
    # the terms assembly below: both are small jobs over the (already
    # materialized) cached postings table, and running them
    # back-to-back serialized ~0.5s of job-scheduling latency into
    # every build — a constant paid identically at N and 4N cores,
    # i.e. pure drag on the BASELINE.md scaling-efficiency gate
    from concurrent.futures import ThreadPoolExecutor
    _ex = ThreadPoolExecutor(max_workers=1)
    shard_f = _ex.submit(
        lambda: (postings.groupBy("partition_id")
                 .agg(F.sum("n_docs").alias("postings_cnt"),
                      F.sum("wire_bytes").alias("bytes"))
                 .collect()))
    try:
        if bc is not None:
            # vocab-gated driver-side terms assembly: the vocabulary is
            # already in driver memory (the broadcast dict), so collect the
            # per-term aggregates ONCE (vocab-sized — the same gate) and do
            # the join + idf/max_score arithmetic vectorized in numpy, then
            # write the finished table straight from the driver (pyarrow —
            # no createDataFrame + Spark write job round-trip). This
            # replaces the agg + broadcast-join + write chain, which cost a
            # ~2s serial floor per build at EVERY parallelism level. Above
            # the gate (join_ids) the distributed join below remains the
            # plan.
            pt = per_term.toPandas()
            items = bc.value
            lex_pdf = pd.DataFrame(
                {"term": pd.Series(list(items.keys()), dtype="object"),
                 "term_id": np.fromiter(items.values(), dtype=np.int64,
                                        count=len(items))})
            mg = lex_pdf.merge(pt, on="term_id", how="left")
            dfv = mg["df"].fillna(0).to_numpy(dtype=np.float64)
            idf = np.log1p((float(n_docs) - dfv + 0.5) / (dfv + 0.5))
            mx = mg["max_norm"].fillna(0.0).to_numpy(dtype=np.float64)
            terms_tbl = pa.table({
                "term_id": pa.array(mg["term_id"].to_numpy()
                                    .astype(np.int32)),
                "term": pa.array(mg["term"].tolist(), pa.string()),
                "df": pa.array(dfv.astype(np.int64)),
                "cf": pa.array(mg["cf"].fillna(0).to_numpy()
                               .astype(np.int64)),
                "max_score": pa.array((idf * mx).astype(np.float32)),
            })
            from irkit_spark.sources.catalog import write_artifact_driver
            write_artifact_driver(spark, terms_tbl, out_dir, "terms",
                                  fmt=fmt)
            terms_final = None
        else:
            terms_final = (lex_df.join(per_term, "term_id", "left")
                           .fillna(0, ["df", "cf"])
                           .withColumn("idf", F.log1p(
                               (F.lit(float(n_docs)) - F.col("df") + 0.5)
                               / (F.col("df") + 0.5)))
                           .withColumn("max_score",
                                       (F.col("idf")
                                        * F.coalesce("max_norm", F.lit(0.0)))
                                       .cast("float"))
                           .select("term_id", "term", "df", "cf",
                                   "max_score"))
        if terms_final is not None:
            if reuse_tok and fmt != "iceberg":
                # swap via a temp dir: lex_df reads the live terms path
                # (local/HDFS rename is atomic enough here; object stores
                # would use a versioned path + pointer; Iceberg's
                # createOrReplace IS the atomic swap, so it takes the plain
                # branch)
                import shutil
                tmp_terms = p("terms_tmp")
                terms_final.write.mode("overwrite").parquet(tmp_terms)
                shutil.rmtree(p("terms"))
                os.replace(tmp_terms, p("terms"))
            else:
                write_artifact(terms_final, out_dir, "terms", fmt=fmt)
        if lex_df is not None:
            lex_df.unpersist()
        _mark("terms_write")

        wall_ms = int((time.monotonic() - t0) * 1000)

        # ---- stage 5: lineage + stats (per-shard metrics, §4.4) ------------
        shard_m = shard_f.result()
    finally:
        # a failure anywhere in the terms assembly above must not
        # leak the background metrics thread or mask its error
        _ex.shutdown(wait=False, cancel_futures=True)
    if post_cached is not None:
        post_cached.unpersist()
    total_postings = sum(r["postings_cnt"] for r in shard_m)
    cnts = sorted(r["postings_cnt"] for r in shard_m) or [0]
    med = cnts[len(cnts) // 2] or 1
    # lineage + stats rows are driver-local already (built from the
    # shard_m collect): write them via pyarrow, not two more Spark jobs
    from irkit_spark.sources.catalog import write_artifact_driver
    pids = [int(r["partition_id"]) for r in shard_m]
    lineage_tbl = pa.table({
        "partition_id": pa.array(pids, pa.int32()),
        "status": pa.array(["done"] * len(pids), pa.string()),
        "postings_cnt": pa.array([int(r["postings_cnt"])
                                  for r in shard_m], pa.int64()),
        "bytes": pa.array([int(r["bytes"]) for r in shard_m],
                          pa.int64()),
        "skew_ratio": pa.array([float(r["postings_cnt"] / med)
                                for r in shard_m], pa.float64()),
        "wall_ms": pa.array([wall_ms] * len(pids), pa.int64()),
        "attempt": pa.array(
            [prev_attempts.get(pid, 0)
             + (1 if pid in pending or not prev_attempts else 0)
             for pid in pids], pa.int32()),
    })
    write_artifact_driver(spark, lineage_tbl, out_dir, "lineage",
                          fmt=fmt)

    # bound_slack: WAND upper-bound multiplier, 1.0 for a one-shot build.
    # Incremental merges of batches built under drifting avgdl set it to
    # max(1, avgdl_final/min(avgdl_batch)) — tf_norm grows at most by
    # that ratio when avgdl grows, so scaled bounds stay sound.
    from datetime import datetime, timezone
    stats_tbl = pa.table({
        "n_docs": pa.array([n_docs], pa.int64()),
        "avg_doc_len": pa.array([float(avgdl)], pa.float64()),
        "coll_len": pa.array([int(coll_len)], pa.int64()),
        "total_postings": pa.array([int(total_postings)], pa.int64()),
        "codec": pa.array([codec], pa.string()),
        "block_size": pa.array([int(block_size)], pa.int32()),
        "docs_per_shard": pa.array([int(docs_per_shard)], pa.int32()),
        "n_shards": pa.array([int(n_shards)], pa.int32()),
        "wall_ms": pa.array([wall_ms], pa.int64()),
        "bound_slack": pa.array([1.0], pa.float64()),
        "quantized": pa.array([bool(quantize)], pa.bool_()),
        # which html->text form built this index; merge refuses to mix
        # (same-url text must be identical across merged batches)
        "extractor": pa.array([extractor], pa.string()),
        "built_at": pa.array([datetime.now(timezone.utc)],
                             pa.timestamp("us", tz="UTC")),
    })
    write_artifact_driver(spark, stats_tbl, out_dir, "stats", fmt=fmt)
    _mark("lineage_stats")

    return {"n_docs": n_docs, "avgdl": avgdl, "coll_len": coll_len,
            "docs_built": int(glob["n"]), "n_shards": n_shards,
            "total_postings": int(total_postings), "wall_ms": wall_ms,
            "postings_per_sec": (total_postings / (wall_ms / 1000.0)
                                 if wall_ms else 0.0),
            "skew_ratio": float(max(cnts) / med),
            "bytes_per_posting": (sum(r["bytes"] for r in shard_m)
                                  / max(1, total_postings)),
            "rebuilt_shards": pending,
            "phases": phases}
