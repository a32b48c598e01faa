"""Positional postings + exact-phrase retrieval (opt-in artifact).

Extends the fulltext tier beyond the reference surface (SURVEY.md §2
has no positions row — irkit's index is docID+tf only): an optional
`positions/` artifact alongside an existing index, holding per
(term_id, shard) one row of per-doc token-position streams, and
`phrase_search` — exact-phrase top-k: a doc matches iff the query
tokens occur at CONSECUTIVE token positions; survivors are ranked by
the same frozen BM25 over the phrase's unique terms with GLOBAL
collection stats (selection changes, scoring doesn't — the
filtered-retrieval contract of operators/query.search(doc_filter=...)
applied to adjacency).

Layout (all varbyte — self-delimiting, so per-doc streams concatenate
and a whole row decodes in O(1) codec calls, the same property
decode_blocks_batch exploits):

    term_id int, partition_id int, n_docs int, cf long,
    first_doc long,
    doc_bytes binary   -- delta-gap docIDs (first gap 0 vs first_doc)
    cnt_bytes binary   -- positions-count (== tf) per doc
    pos_bytes binary   -- per-doc delta-gap positions, concatenated
                          (each doc's first gap = absolute first pos)

Invariants vs the core postings artifact (checked by
operators/validate.verify_index when positions/ exists): per
(term_id, partition_id) n_docs and cf match postings exactly — the
positions pass re-tokenizes the same corpus with the same frozen
tokenizer, so any drift means the source changed under the index.

Scale shape: the build is one tokenize pass (Arrow kernel; the whole
batch's position gaps are varbyte-encoded in ONE call and sliced per
group via the byte-offset table — no per-value Python), one
repartition on hash(term_id, shard) sized from the known collection
length, and a streaming group-merge. A phrase query is a term_id-
pruned scan of positions/ (dir-partitioned by shard, term-sorted row
groups) + a per-shard vectorized numpy kernel + a tiny top-k, run
through operators/query.shard_plan and serving_gates — the functions
search() runs through, so everything that makes that path 100 TB-safe
(no corpus shuffle at query time, dl broadcast gate with cogroup
fallback above it, tombstones masked or anti-joined) applies unchanged.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.functions.codecs import (varbyte_byte_offsets,
                                          varbyte_decode, varbyte_encode)
from irkit_spark.functions.scoring import bm25_tf_norm
from irkit_spark.functions.tokenize import _flat_tokens, tokenize

POS_SCHEMA = ("term_id int, partition_id int, n_docs int, cf long, "
              "first_doc long, doc_bytes binary, cnt_bytes binary, "
              "pos_bytes binary")

PHRASE_SCHEMA = "doc_id long, phrase_tf long, score double"

# doc-local ids (< docs_per_shard < 2^31) are packed with positions
# into one int64 key: doc << _POS_BITS | (pos - token_offset + m).
# Bounds: doc length (and so any position) must stay below 2^33 - m —
# an 8.6-billion-token single document would overflow first elsewhere.
_POS_BITS = np.int64(33)


# ------------------------------------------------------------------ build

def _positions_iter(batches: Iterator[pd.DataFrame], bc_term_ids,
                    id_col: str = "doc_id", text_col: str = "text",
                    pre_tokenized: bool = False) -> Iterator[pd.DataFrame]:
    """Kernel A: (doc_id, text) -> one row per (doc, term) with that
    term's positions as a varbyte delta-gap stream (0-based tokenizer
    offsets; first gap = absolute first position).

    bc_term_ids: broadcast {term: term_id} — rows whose term is absent
    are dropped (shared-lexicon P3 semantics). None = emit the term
    STRING instead (the above-vocab-gate path; the caller joins to the
    terms table, no driver dict at web-scale vocabs).

    The WHOLE batch's gaps are encoded in ONE varbyte call and sliced
    per group via the byte-offset table — the same batch-vectorization
    the index encode kernel uses; the only per-group Python is a bytes
    slice."""
    emit_ids = bc_term_ids is not None
    tcol = "term_id" if emit_ids else "term"
    tdtype = "int32" if emit_ids else "object"
    for pdf in batches:
        flat, row_idx, lens = _flat_tokens(pdf[text_col], pre_tokenized)
        if flat.size == 0:
            yield pd.DataFrame({
                id_col: pd.Series([], dtype="int64"),
                tcol: pd.Series([], dtype=tdtype),
                "n": pd.Series([], dtype="int32"),
                "pos_bytes": pd.Series([], dtype="object")})
            continue
        starts_of_rows = np.zeros(lens.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts_of_rows[1:])
        pos = (np.arange(flat.size, dtype=np.int64)
               - np.repeat(starts_of_rows, lens))
        codes, uniq = pd.factorize(flat)
        nu = len(uniq)
        key = row_idx * nu + codes
        order = np.argsort(key, kind="stable")  # stable: positions stay
        skey = key[order]                       # ascending within group
        spos = pos[order]
        gstart = np.flatnonzero(np.concatenate(
            ([True], skey[1:] != skey[:-1])))
        gn = np.diff(np.concatenate((gstart, [skey.size])))
        grows = skey[gstart] // nu
        gcodes = skey[gstart] % nu
        if emit_ids:
            lookup = bc_term_ids.value
            code_ids = np.fromiter((lookup.get(t, -1) for t in uniq),
                                   dtype=np.int64, count=nu)
            gterm = code_ids[gcodes]
            keep = gterm >= 0
        else:
            gterm = np.asarray(uniq, dtype=object)[gcodes]
            keep = np.ones(gterm.size, dtype=bool)
        # delta-gap positions: diff everywhere, absolute at group starts
        gaps = np.empty(spos.size, dtype=np.int64)
        gaps[1:] = spos[1:] - spos[:-1]
        gaps[gstart] = spos[gstart]
        u = gaps.astype(np.uint64)
        offs = varbyte_byte_offsets(u)
        wire = varbyte_encode(u, np.diff(offs))
        gend = gstart + gn
        blobs = np.empty(int(keep.sum()), dtype=object)
        out_i = 0
        for gi in np.flatnonzero(keep):
            blobs[out_i] = wire[offs[gstart[gi]]:offs[gend[gi]]]
            out_i += 1
        yield pd.DataFrame({
            id_col: pdf[id_col].to_numpy()[grows[keep]],
            tcol: (gterm[keep].astype("int32") if emit_ids
                   else pd.Series(gterm[keep], dtype="object")),
            "n": gn[keep].astype("int32"),
            "pos_bytes": pd.Series(blobs, dtype="object")})


def _merge_groups_iter(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
    """Kernel B: streaming (term_id, shard) group merger over rows
    sorted by (term_id, partition_id, doc_id) within the partition.
    A group may span Arrow batches; the last (possibly incomplete)
    group of each batch is carried into the next.
    Per-doc varbyte streams concatenate verbatim (self-delimiting), so
    the merge is byte joins — no re-encode.

    Vectorized batch-wide (round 7, guide §4.2): doc gaps and counts
    for the WHOLE batch are varbyte-encoded in two codec calls and
    sliced per group via the byte-offset table (varbyte is per-value,
    so the slices are byte-identical to per-group encodes); the only
    per-group Python left is the bytes slice and the pos_bytes join.
    The old form ran pandas .iloc + two varbyte calls per (term,
    shard) group — ~10^5 groups per build partition."""
    carry: pd.DataFrame | None = None

    def flush(pdf: pd.DataFrame, last_open: bool):
        nonlocal carry
        # shard count at 10^12 docs is ~10^7 (> 2^20): pack with a
        # 31-bit shard field so the group key never aliases
        t = pdf["term_id"].to_numpy().astype(np.int64)
        p = pdf["partition_id"].to_numpy().astype(np.int64)
        key = (t << np.int64(31)) + p
        gstart = np.flatnonzero(np.concatenate(
            ([True], key[1:] != key[:-1])))
        if last_open:
            cut = int(gstart[-1])
            carry = pdf.iloc[cut:].copy()
            if cut == 0:
                return None
            pdf = pdf.iloc[:cut]
            t, p = t[:cut], p[:cut]
            gstart = gstart[:-1]
        gend = np.append(gstart[1:], len(pdf))
        docs = pdf["doc_id"].to_numpy().astype(np.int64)
        ns = pdf["n"].to_numpy().astype(np.uint64)
        gaps = np.empty(docs.size, dtype=np.int64)
        gaps[1:] = docs[1:] - docs[:-1]
        gaps[gstart] = 0            # first gap is 0 vs first_doc
        u = gaps.astype(np.uint64)
        off_d = varbyte_byte_offsets(u)
        wire_d = varbyte_encode(u, np.diff(off_d))
        off_n = varbyte_byte_offsets(ns)
        wire_n = varbyte_encode(ns, np.diff(off_n))
        cells = list(pdf["pos_bytes"])
        rows = {
            "term_id": t[gstart].astype("int32"),
            "partition_id": p[gstart].astype("int32"),
            "n_docs": (gend - gstart).astype("int32"),
            "cf": np.add.reduceat(ns.astype(np.int64), gstart),
            "first_doc": docs[gstart],
            "doc_bytes": [bytes(wire_d[off_d[a]:off_d[b]])
                          for a, b in zip(gstart, gend)],
            "cnt_bytes": [bytes(wire_n[off_n[a]:off_n[b]])
                          for a, b in zip(gstart, gend)],
            "pos_bytes": [b"".join(bytes(c) for c in cells[a:b])
                          for a, b in zip(gstart, gend)],
        }
        return pd.DataFrame(rows)

    for pdf in batches:
        if pdf.empty:
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        out = flush(pdf, last_open=True)
        if out is not None:
            yield out
    if carry is not None and len(carry):
        yield flush(carry, last_open=False)


def build_positions(spark: SparkSession, df: DataFrame, index_path: str,
                    text_col: str = "text", doc_id_col: str | None = None,
                    key_col: str = "url", n_parts: int | None = None,
                    table_format: str | None = None) -> dict:
    """Build the positions artifact for an EXISTING index from the same
    source rows (the same text the index tokenized — the artifact's
    n_docs/cf must reconcile with postings; verify_index checks).

    doc_id_col: column already carrying the index's dense doc ids
    (the documents-table path). Otherwise rows are joined to the docs
    artifact on key_col (url) to recover the ids the build assigned —
    a build-time shuffle join, one pass, never at query time.

    Positions are tokenizer-output offsets of the FROZEN tokenizer
    (functions/tokenize.TOKEN_RE) over `text_col`. Callers who indexed
    html must pass the same extracted text the build tokenized (the
    build canonicalizes html before tokenizing — rebuild from the docs
    you fed it, or index a documents table)."""
    from irkit_spark.operators.query import Index
    from irkit_spark.sources.catalog import write_artifact
    idx = Index(spark, index_path, table_format=table_format)

    if doc_id_col is not None:
        src = df.select(F.col(doc_id_col).cast("long").alias("doc_id"),
                        F.col(text_col).alias("text"))
    else:
        src = (df.select(F.col(key_col).alias("url"),
                         F.col(text_col).alias("text"))
               .join(idx.docs.select("url", "doc_id"), "url")
               .select("doc_id", "text"))

    # term -> term_id: broadcast dict below the vocab gate (the same
    # gate the build's pass B uses); above it, kernel A emits term
    # STRINGS and a shuffle join against the terms table assigns ids —
    # no driver collect at web-scale vocabs
    n_vocab = idx.terms.count()
    if n_vocab <= config.BROADCAST_VOCAB_MAX:
        tdict = {r["term"]: int(r["term_id"])
                 for r in idx.terms.select("term", "term_id").collect()}
        bc = spark.sparkContext.broadcast(tdict)
        doc_term = src.mapInPandas(
            lambda it: _positions_iter(it, bc),
            schema="doc_id long, term_id int, n int, pos_bytes binary")
    else:
        by_str = src.mapInPandas(
            lambda it: _positions_iter(it, None),
            schema="doc_id long, term string, n int, pos_bytes binary")
        doc_term = (by_str
                    .join(idx.terms.select("term", "term_id"), "term")
                    .select("doc_id", "term_id", "n", "pos_bytes"))

    dps = idx.docs_per_shard
    doc_term = doc_term.withColumn(
        "partition_id", (F.col("doc_id") / dps).cast("int"))
    if n_parts is None:
        # ~1.3 bytes/token of position payload: size partitions off the
        # known collection length so an undersized session default
        # cannot OOM the merge at 100x scale (the ENC_PART_BYTES
        # pattern from the core build)
        n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions",
                                         "32")),
                      math.ceil(idx.coll_len * 1.5
                                / config.ENC_PART_BYTES))
    merged = (doc_term
              .repartition(n_parts, "term_id", "partition_id")
              .sortWithinPartitions("term_id", "partition_id", "doc_id")
              .mapInPandas(_merge_groups_iter, schema=POS_SCHEMA))
    write_artifact(merged, index_path, "positions",
                   partition_by="partition_id", fmt=table_format)
    agg = (read_positions(spark, index_path, table_format)
           .agg(F.count("*").alias("rows"),
                F.sum("cf").alias("positions")).collect()[0])
    return {"rows": int(agg["rows"]),
            "positions": int(agg["positions"] or 0)}


def _merge_positions_iter(batches: Iterator[pd.DataFrame]
                          ) -> Iterator[pd.DataFrame]:
    """Streaming (term_id, shard) merger over POSITIONS rows sorted by
    (term_id, partition_id, first_doc) within the partition. A group
    holding ONE row (the overwhelmingly common case: a (term, shard)
    that lives in a single batch index) passes through byte-unchanged;
    multi-row groups — shards straddling batch boundaries — decode,
    interleave by doc id, and re-encode (deterministic gap streams, so
    the result is byte-identical to a single-shot build). Duplicate
    doc ids across inputs mean overlapping batches: fail loudly."""
    carry: pd.DataFrame | None = None
    cols = ["term_id", "partition_id", "n_docs", "cf", "first_doc",
            "doc_bytes", "cnt_bytes", "pos_bytes"]

    def emit(g: pd.DataFrame) -> dict:
        if len(g) == 1:
            r = g.iloc[0]
            return {c: (int(r[c]) if c in ("term_id", "partition_id",
                                           "n_docs", "cf", "first_doc")
                        else bytes(r[c])) for c in cols}
        parts = [decode_positions_row(r) for _, r in g.iterrows()]
        docs = np.concatenate([p[0] for p in parts])
        cnts = np.concatenate([p[1] for p in parts])
        pos = np.concatenate([p[3] for p in parts])
        # per-doc position slices follow their doc through the reorder
        srcoff = np.concatenate([p[2][:-1] + off for p, off in zip(
            parts, np.cumsum([0] + [p[3].size for p in parts[:-1]]))])
        order = np.argsort(docs, kind="stable")
        if not (np.diff(docs[order]) > 0).all():
            raise ValueError(
                "positions merge: duplicate doc_id across inputs for "
                f"term {int(g['term_id'].iloc[0])} shard "
                f"{int(g['partition_id'].iloc[0])} — batch indexes "
                "must cover disjoint documents")
        docs_s, cnts_s = docs[order], cnts[order]
        offs = np.zeros(docs_s.size + 1, dtype=np.int64)
        np.cumsum(cnts_s, out=offs[1:])
        pos_s = np.empty(pos.size, dtype=np.int64)
        src = srcoff[order]
        for j in range(docs_s.size):
            pos_s[offs[j]:offs[j + 1]] = pos[src[j]:src[j] + cnts_s[j]]
        gaps = np.empty(pos_s.size, dtype=np.int64)
        gaps[1:] = pos_s[1:] - pos_s[:-1]
        gaps[offs[:-1]] = pos_s[offs[:-1]]
        first = int(docs_s[0])
        return {
            "term_id": int(g["term_id"].iloc[0]),
            "partition_id": int(g["partition_id"].iloc[0]),
            "n_docs": int(docs_s.size),
            "cf": int(cnts_s.sum()),
            "first_doc": first,
            "doc_bytes": varbyte_encode(
                np.diff(docs_s, prepend=first).astype(np.uint64)),
            "cnt_bytes": varbyte_encode(cnts_s.astype(np.uint64)),
            "pos_bytes": varbyte_encode(gaps.astype(np.uint64)),
        }

    def flush(pdf: pd.DataFrame, last_open: bool):
        nonlocal carry
        key = ((pdf["term_id"].to_numpy().astype(np.int64) << np.int64(31))
               + pdf["partition_id"].to_numpy().astype(np.int64))
        gstart = np.flatnonzero(np.concatenate(
            ([True], key[1:] != key[:-1])))
        bounds = np.concatenate((gstart, [len(pdf)]))
        rows = []
        ng = len(gstart)
        for i in range(ng):
            g = pdf.iloc[bounds[i]:bounds[i + 1]]
            if last_open and i == ng - 1:
                carry = g.copy()
            else:
                rows.append(emit(g))
        return pd.DataFrame(rows) if rows else None

    for pdf in batches:
        if pdf.empty:
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        out = flush(pdf, last_open=True)
        if out is not None:
            yield out
    if carry is not None:
        yield pd.DataFrame([emit(carry)])


def merge_positions(spark: SparkSession, in_dirs: list[str],
                    out_dir: str, table_format: str | None = None,
                    n_parts: int | None = None) -> None:
    """Merge the positions artifacts of batch indexes into out_dir
    (called by operators/merge.merge_indexes when every input carries
    one). Pass-through for single-batch (term, shard) rows; boundary
    groups decode + interleave + re-encode — byte-identical to a
    single-shot build_positions over the union source."""
    from irkit_spark.sources.catalog import write_artifact
    pos = None
    for d in in_dirs:
        b = read_positions(spark, d, table_format)
        pos = b if pos is None else pos.unionByName(b)
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions",
                                     "32"))
    merged = (pos.repartition(n_parts, "term_id", "partition_id")
              .sortWithinPartitions("term_id", "partition_id",
                                    "first_doc")
              .mapInPandas(_merge_positions_iter, schema=POS_SCHEMA))
    write_artifact(merged, out_dir, "positions",
                   partition_by="partition_id", fmt=table_format)


def read_positions(spark: SparkSession, index_path: str,
                   table_format: str | None = None) -> DataFrame:
    from irkit_spark.sources.catalog import read_artifact
    return read_artifact(spark, index_path, "positions", POS_SCHEMA,
                         table_format)


def has_positions(index) -> bool:
    from irkit_spark.sources.catalog import artifact_exists
    return artifact_exists(index.spark, index.path, "positions")


# ------------------------------------------------------------------ query

def decode_positions_row(r):
    """One positions row -> (docs i64[nd], counts i64[nd],
    offs i64[nd+1], pos_flat i64[sum counts]): doc j's ABSOLUTE
    positions are pos_flat[offs[j]:offs[j+1]], strictly increasing."""
    get = (r.get if isinstance(r, dict) else (lambda k2: r[k2]))
    nd = int(get("n_docs"))
    gaps = varbyte_decode(bytes(get("doc_bytes")), nd).astype(np.int64)
    gaps[0] = int(get("first_doc"))
    docs = np.cumsum(gaps)
    cnts = varbyte_decode(bytes(get("cnt_bytes")), nd).astype(np.int64)
    total = int(cnts.sum())
    pgaps = varbyte_decode(bytes(get("pos_bytes")), total).astype(np.int64)
    offs = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(cnts, out=offs[1:])
    # undo per-doc delta in one pass: global cumsum, then subtract each
    # doc's running base (the cumsum value just before the doc starts).
    # Valid because gaps are >= 0, so the global cumsum is
    # non-decreasing and maximum.accumulate propagates the latest base.
    flat = np.cumsum(pgaps)
    base = np.zeros(total, dtype=np.int64)
    if nd > 1:
        base[offs[1:-1]] = flat[offs[1:-1] - 1]
        base = np.maximum.accumulate(base)
    return docs, cnts, offs, flat - base


def _occurrence_keys(row, base: int, pad: np.int64) -> np.ndarray:
    """A decoded positions row's occurrences as sorted, unique int64
    keys (doc_local << 33 | pos + pad)."""
    docs, cnts, _, pos_flat = row
    return (np.repeat(docs - base, cnts) << _POS_BITS) + pos_flat + pad


def _positions_kernel(match, tf_col: str, uniq_meta: list[dict],
                      avgdl: float, k: int, docs_per_shard: int,
                      dl_bc=None, del_bc=None, restrict: bool = False):
    """Per-shard positions scorer: match(rows, base) maps the decoded
    rows {term_id: decode_positions_row} to ascending (doc-local ids,
    match counts), or None. Then the main kernel's doc-length and
    selection head, BM25 over uniq_meta ([{term_id, idf}] ascending
    term_id — the pinned add order, so scores are bit-identical to
    search()) and the top-k of (doc_id, tf_col, score)."""
    from irkit_spark.operators.query import shard_doc_lengths, topk_frame
    uniq_ids = [m["term_id"] for m in uniq_meta]
    idf_by = {m["term_id"]: m["idf"] for m in uniq_meta}

    def run(post_pdf: pd.DataFrame,
            docs_pdf: pd.DataFrame | None = None) -> pd.DataFrame:
        empty = pd.DataFrame({
            "doc_id": pd.Series([], dtype="int64"),
            tf_col: pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64")})
        if post_pdf.empty:
            return empty
        shard = int(post_pdf["partition_id"].iloc[0])
        base = shard * docs_per_shard
        head = shard_doc_lengths(shard, docs_per_shard, dl_bc, docs_pdf,
                                 restrict, del_bc)
        if head is None:
            return empty
        dl_arr, valid = head
        # one row per (term, shard) — same iterrows invariant as the
        # main shard kernel (operators/query.py run()); blocks-per-row
        # layouts would need a column pull here too
        rows = {int(r["term_id"]): decode_positions_row(r)
                for _, r in post_pdf.iterrows()}
        got = match(rows, base)
        if got is None:
            return empty
        dloc, mtf = got
        if valid is not None:
            # selection-only, like the main kernels' `valid` array
            sel = valid[dloc]
            dloc, mtf = dloc[sel], mtf[sel]
            if dloc.size == 0:
                return empty
        cand = dloc + base
        dl = dl_arr[dloc]
        score = np.zeros(cand.size, dtype=np.float64)
        for t in uniq_ids:  # ascending term_id: pinned add order
            docs, cnts, _, _ = rows[t]
            ix = np.searchsorted(docs, cand)  # present by construction
            score += idf_by[t] * bm25_tf_norm(cnts[ix], dl, avgdl)
        return topk_frame(cand, score, k, **{tf_col: mtf})

    return run


def _phrase_kernel(pattern: list[int], uniq_meta: list[dict],
                   avgdl: float, k: int, docs_per_shard: int,
                   slop: int = 0, **gates):
    """Per-shard phrase/proximity scorer, fully vectorized: token i's
    occurrences become int64 keys (doc_local << 33 | pos + PAD) — each
    key array is sorted+unique by construction (docs ascending,
    positions strictly increasing within doc) — and the match set is
    computed by an ORDERED-CHAIN sweep: a token-i occurrence survives
    iff some surviving token-(i-1) occurrence sits in the position
    window [p - 1 - slop, p - 1] (two np.searchsorted calls per step —
    no per-candidate loop). slop=0 degenerates to exact adjacency;
    phrase_tf = number of chain ENDINGS per doc (== occurrence count
    for exact phrases; for slop > 0, distinct final-token positions
    reachable by some chain). PAD = 1 + slop keeps the window's lower
    bound from crossing the packed doc boundary, so a window can never
    leak occurrences from the previous doc.

    pattern = term_ids in phrase order (duplicates kept); scoring,
    tombstones and top-k are _positions_kernel's."""
    need = set(pattern)
    pad = step = np.int64(1 + slop)

    def match(rows, base):
        if not need.issubset(rows):
            return None  # some phrase term absent from this shard
        keys = None
        for t in pattern:
            k_i = _occurrence_keys(rows[t], base, pad)
            if keys is None:
                keys = k_i
                continue
            # survivors: exists q in keys with k - step <= q <= k - 1
            lo = np.searchsorted(keys, k_i - step, side="left")
            hi = np.searchsorted(keys, k_i, side="left")
            keys = k_i[hi > lo]
            if keys.size == 0:
                return None
        return np.unique(keys >> _POS_BITS, return_counts=True)

    return _positions_kernel(match, "phrase_tf", uniq_meta, avgdl, k,
                             docs_per_shard, **gates)


def _positions_search(index, toks: list[str], what: str, schema: str,
                      k: int, make_kernel) -> DataFrame:
    """Guards, token -> term_id lookup (the warm driver dict, else a
    pruned terms filter) and plan shared by phrase and near:
    make_kernel(qmeta, tids, **gates) over a term_id-pruned positions
    scan via query.shard_plan, then the global top-k. Empty when a
    token is OOV."""
    from irkit_spark.operators.query import serving_gates, shard_plan
    from irkit_spark.operators.segments import SegmentedIndex
    if isinstance(index, SegmentedIndex):
        raise ValueError(
            f"{what} retrieval reads the positions artifact, which is "
            "per-segment — merge_indexes the segments first "
            "(SegmentedIndex federates the docID+tf tier only)")
    spark = index.spark
    if not toks:
        return spark.createDataFrame([], schema)
    if not has_positions(index):
        raise ValueError(f"index at {index.path} has no positions/ "
                         "artifact — run build_positions first")
    if index.docs_per_shard >= (1 << 30):
        raise ValueError(f"{what} kernel packs doc-local ids into int64 "
                         "keys: docs_per_shard must be < 2^30")
    qmeta = index.lookup_query(" ".join(toks))
    if len(qmeta) < len(set(toks)):
        return spark.createDataFrame([], schema)
    td = index._terms_dict()
    if td is not None:
        by_term = {t: td[t][0] for t in set(toks)}
    else:
        by_term = {r["term"]: int(r["term_id"]) for r in
                   index.terms.filter(
                       F.col("term").isin(sorted(set(toks))))
                   .select("term", "term_id").collect()}
    tids = [by_term[t] for t in toks]
    qpos = read_positions(spark, index.path).filter(
        F.col("term_id").isin(sorted(set(tids))))
    dl_bc, del_bc, del_over_gate = serving_gates(index)
    kern = make_kernel(qmeta, tids, dl_bc=dl_bc, del_bc=del_bc,
                       restrict=del_over_gate)
    out = shard_plan(index, qpos, kern, schema, dl_bc,
                     del_over_gate=del_over_gate)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def phrase_search(index, phrase: str, k: int = 10,
                  slop: int = 0) -> DataFrame:
    """Phrase / proximity top-k (doc_id, phrase_tf, score): docs
    containing the phrase tokens in order, each consecutive pair at
    most 1 + slop positions apart (slop=0 = exact phrase), ranked by
    BM25 over the phrase's unique terms with global collection stats.
    Requires build_positions to have run on the index.

    Plan (_positions_search): term_id-pruned positions scan ->
    per-shard numpy kernel -> tiny top-k, through the same
    query.shard_plan as search(): doc lengths ride the gated
    broadcast, cogrouping against the touched shards of the docs
    table above the cap."""
    if not (0 <= slop < (1 << 30)):
        raise ValueError("slop must be a small non-negative int")
    return _positions_search(
        index, tokenize(phrase), "phrase", PHRASE_SCHEMA, k,
        lambda qmeta, tids, **gates: _phrase_kernel(
            tids, qmeta, index.avgdl, k, index.docs_per_shard,
            slop=slop, **gates))


NEAR_SCHEMA = "doc_id long, near_tf long, score double"


def _near_kernel(tid_a: int, tid_b: int, uniq_meta: list[dict],
                 avgdl: float, k: int, docs_per_shard: int,
                 window: int, **gates):
    """Per-shard unordered-NEAR scorer (Lucene SpanNearQuery,
    inOrder=false, two clauses): a doc matches iff some occurrence
    pair |pos_a - pos_b| <= window. Same packed-key vectorization as
    the phrase kernel — term b's occurrences survive iff term a has a
    key in [k - window, k + window] (two searchsorted calls, no
    per-candidate loop); near_tf = surviving b occurrences per doc.
    PAD = 1 + window keeps both window edges inside the packed doc
    range. Scoring, tombstones and top-k are _positions_kernel's."""
    pad = np.int64(1 + window)
    w = np.int64(window)

    def match(rows, base):
        if tid_a not in rows or tid_b not in rows:
            return None
        ka = _occurrence_keys(rows[tid_a], base, pad)
        kb = _occurrence_keys(rows[tid_b], base, pad)
        lo = np.searchsorted(ka, kb - w, side="left")
        hi = np.searchsorted(ka, kb + w, side="right")
        surv = kb[hi > lo]
        if surv.size == 0:
            return None
        return np.unique(surv >> _POS_BITS, return_counts=True)

    return _positions_kernel(match, "near_tf", uniq_meta, avgdl, k,
                             docs_per_shard, **gates)


def near_search(index, query: str, window: int = 5,
                k: int = 10) -> DataFrame:
    """Unordered proximity top-k (doc_id, near_tf, score): docs where
    the query's TWO terms co-occur within `window` positions in either
    order, ranked by BM25 over both terms with global stats. The
    SpanNearQuery(inOrder=false) analog; ordered proximity is
    phrase_search(slop=...). Requires build_positions.

    Same plan as phrase_search (_positions_search): term-pruned
    positions scan -> per-shard numpy kernel -> tiny top-k."""
    toks = tokenize(query)
    if len(toks) != 2 or toks[0] == toks[1]:
        raise ValueError("near_search takes exactly two distinct "
                         f"terms, got {toks!r}")
    if not (1 <= window < (1 << 30)):
        raise ValueError("window must be a small positive int")
    return _positions_search(
        index, toks, "near", NEAR_SCHEMA, k,
        lambda qmeta, tids, **gates: _near_kernel(
            tids[0], tids[1], qmeta, index.avgdl, k,
            index.docs_per_shard, window, **gates))
