"""Synonym-group retrieval — the Lucene SynonymQuery analog: a group
of terms scores as ONE pseudo-term whose tf is the sum of member tfs
and whose df is the number of docs containing ANY member (union df,
recomputed exactly from the postings — member dfs cannot be summed:
docs holding several members would double-count).

Frozen semantics: score(doc) = sum over groups g of
idf(df_g) * tfg / (tfg + k1*(1 - b + b*dl/avgdl)), tfg = sum of
member tfs — BM25 with the group as a single term (this is exactly
SynonymQuery's "as if one term with summed tf" contract). Ranked by
(score desc, doc_id asc), top-k. A term may belong to only one group.

Scale shape: one term-pruned postings scan per pass, decoded to
(doc_id, gid, tf) int rows in an Arrow kernel; tf-sum is a partial
aggregate; doc lengths attach through query.with_doc_len, the gated
per-shard broadcast the TAAT path uses (no docs-table shuffle join per
query below the gate). The union-df pass is a second decode of the
MEMBER postings only (query-bounded) — df_g is genuinely a
distinct-doc count, not derivable from stored stats. Tombstones
anti-join after the per-doc aggregate (query.anti_join_deleted:
selection-only, the repo's standard contract).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.functions.scoring import idf as idf_fn
from irkit_spark.functions.tokenize import tokenize
from irkit_spark.operators.query import (Index, _decode_row_blocks,
                                         anti_join_deleted, with_doc_len)


def search_synonyms(index: Index, groups: list[list[str]],
                    k: int = 10) -> DataFrame:
    """Top-k BM25 with each group scored as one pseudo-term.
    `groups` is a list of synonym groups (lists of terms); OOV members
    drop out, groups with no in-vocab member contribute nothing."""
    if k < 1:
        raise ValueError("k must be >= 1")
    norm_groups = []
    for g in groups:
        toks = sorted({t for raw in g for t in tokenize(raw)})
        norm_groups.append(toks)
    flat = [t for g in norm_groups for t in g]
    if len(flat) != len(set(flat)):
        raise ValueError("a term may belong to only one synonym group")
    spark = index.spark
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not flat:
        return empty
    meta = index.lookup_query(" ".join(flat))
    tid_gid = {}
    for m in meta:
        for gi, g in enumerate(norm_groups):
            if m["term"] in g:
                tid_gid[m["term_id"]] = gi
    if not tid_gid:
        return empty
    codec = index.codec

    def dec(batches):
        for pdf in batches:
            outs = []
            for _, r in pdf.iterrows():
                d, t = _decode_row_blocks(list(r["blocks"]), codec)
                gid = tid_gid[int(r["term_id"])]
                outs.append(pd.DataFrame(
                    {"doc_id": d.astype(np.int64),
                     "gid": np.full(d.size, gid, dtype=np.int32),
                     "tf": t.astype(np.int64)}))
            yield (pd.concat(outs, ignore_index=True) if outs else
                   pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                 "gid": pd.Series([], dtype="int32"),
                                 "tf": pd.Series([], dtype="int64")}))

    qpost = index.postings.filter(
        F.col("term_id").isin(list(tid_gid))) \
        .select("term_id", "partition_id", "blocks")
    gt = (qpost.mapInPandas(dec, "doc_id long, gid int, tf long")
          .groupBy("gid", "doc_id")
          .agg(F.sum("tf").alias("tfg")))

    # union df per group: a tiny (one row per group) exact aggregate
    gdf = {r["gid"]: r["df"] for r in
           gt.groupBy("gid").agg(F.count("*").alias("df")).collect()}
    if not gdf:
        return empty
    idf_by_gid = {g: float(idf_fn(np.array([d]), index.n_docs)[0])
                  for g, d in gdf.items()}
    idf_map = F.create_map(*[F.lit(x) for g, v in
                             sorted(idf_by_gid.items())
                             for x in (g, v)])

    scored = with_doc_len(index, gt)
    k1, b = config.BM25_K1, config.BM25_B
    sat = F.col("tfg") / (F.col("tfg") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(index.avgdl)))
    per = (idf_map[F.col("gid")] * sat).alias("contrib")
    out = (scored.select("doc_id", per)
           .groupBy("doc_id").agg(F.sum("contrib").alias("score")))
    return (anti_join_deleted(index, out)
            .orderBy(F.desc("score"), "doc_id").limit(k))

