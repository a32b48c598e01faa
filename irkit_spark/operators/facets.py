"""Faceted counts over a query's match set — the Lucene faceting
analog: "1,234 matching pages per language / source / site".

The match set comes from the index (one pruned postings scan of just
the query's terms, decoded in-task — the same plan as a query, minus
scoring); facet metadata comes from the caller's docs_df (the index
stores no auxiliary columns by design — the snippets()/prf contract).
One distinct, one join on doc_id, one groupBy(facet): at 10^12 docs
the shuffle is bounded by the match-set size, never the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irkit_spark.operators.query import (Index, _decode_row_blocks,
                                         anti_join_deleted)


def _match_docs(index: Index, tids: list[int],
                conjunctive: bool) -> DataFrame:
    """Distinct doc ids holding ANY (or, conjunctive, ALL) of the
    given terms: pruned postings scan, in-task decode keeping term_id,
    then distinct / count-distinct == |tids|."""
    codec = index.codec
    qpost = index.postings.filter(F.col("term_id").isin(list(tids)))

    def dec(batches):
        for pdf in batches:
            outs = []
            for _, r in pdf.iterrows():
                d = _decode_row_blocks(list(r["blocks"]),
                                       codec)[0].astype(np.int64)
                outs.append(pd.DataFrame(
                    {"doc_id": d,
                     "term_id": np.full(d.size, int(r["term_id"]),
                                        dtype=np.int32)}))
            yield (pd.concat(outs, ignore_index=True) if outs else
                   pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                 "term_id": pd.Series([],
                                                      dtype="int32")}))

    hits = qpost.select("term_id", "blocks").mapInPandas(
        dec, "doc_id long, term_id int")
    if not conjunctive:
        return hits.select("doc_id").distinct()
    return (hits.groupBy("doc_id")
            .agg(F.countDistinct("term_id").alias("__nt"))
            .filter(F.col("__nt") == len(set(tids)))
            .select("doc_id"))


def facet_counts(index: Index, query: str, docs_df: DataFrame,
                 facet_col: str, id_col: str = "doc_id",
                 conjunctive: bool = False,
                 exclude_terms: str | None = None) -> DataFrame:
    """(facet, n_docs): how the query's match set distributes over
    `facet_col` of docs_df, largest facet first (ties on the facet
    value). OOV-only queries return no rows (P3); exclude_terms drops
    docs holding any excluded term (the boolean-NOT contract)."""
    qmeta = index.lookup_query(query)
    if not qmeta:
        return index.spark.createDataFrame(
            [], "facet string, n_docs long")
    matches = _match_docs(index, [m["term_id"] for m in qmeta],
                          conjunctive)
    # tombstones are selection-only everywhere else (search, phrase,
    # snippets) — the facet counts must agree
    matches = anti_join_deleted(index, matches)
    if exclude_terms:
        neg = index.lookup_query(exclude_terms)
        if neg:
            matches = matches.join(
                _match_docs(index, [m["term_id"] for m in neg], False),
                "doc_id", "left_anti")
    return (matches
            .join(docs_df.select(F.col(id_col).alias("doc_id"),
                                 F.col(facet_col).cast("string")
                                 .alias("facet")), "doc_id")
            .groupBy("facet")
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("facet")))


def facet_ranges(index: Index, query: str, docs_df: DataFrame,
                 value_col: str, boundaries: list[float],
                 id_col: str = "doc_id",
                 conjunctive: bool = False,
                 exclude_terms: str | None = None) -> DataFrame:
    """(bucket, lo, hi, n_docs): numeric-range faceting — how the
    query's match set distributes over half-open buckets of a numeric
    docs column (the Lucene RangeFacet analog: "matches by document
    length / price / date").

    `boundaries` = sorted interior cut points [b1..bn] defining
    n+1 buckets (-inf, b1), [b1, b2), ..., [bn, +inf); bucket index =
    the count of boundaries <= x (one fixed CASE-sum expression, so a
    SQL oracle reproduces it verbatim). Empty buckets are omitted.
    Same plan as facet_counts: match-set-bounded shuffle, never the
    corpus."""
    if boundaries != sorted(boundaries) or \
            len(set(boundaries)) != len(boundaries):
        raise ValueError("boundaries must be strictly increasing")
    if not boundaries:
        raise ValueError("need >= 1 boundary")
    qmeta = index.lookup_query(query)
    empty = ("bucket long, lo double, hi double, n_docs long")
    if not qmeta:
        return index.spark.createDataFrame([], empty)
    matches = _match_docs(index, [m["term_id"] for m in qmeta],
                          conjunctive)
    matches = anti_join_deleted(index, matches)
    if exclude_terms:
        neg = index.lookup_query(exclude_terms)
        if neg:
            matches = matches.join(
                _match_docs(index, [m["term_id"] for m in neg], False),
                "doc_id", "left_anti")
    x = F.col(value_col).cast("double")
    bucket = sum((F.when(x >= F.lit(float(b)), 1).otherwise(0)
                  for b in boundaries), F.lit(0)).cast("long")
    lows = [float("-inf")] + [float(b) for b in boundaries]
    highs = [float(b) for b in boundaries] + [float("inf")]
    lo = F.element_at(F.array(*[F.lit(v) for v in lows]),
                      F.col("bucket").cast("int") + 1)
    hi = F.element_at(F.array(*[F.lit(v) for v in highs]),
                      F.col("bucket").cast("int") + 1)
    return (matches
            .join(docs_df.select(F.col(id_col).alias("doc_id"),
                                 bucket.alias("bucket")), "doc_id")
            .groupBy("bucket")
            .agg(F.count("*").alias("n_docs"))
            .withColumn("lo", lo).withColumn("hi", hi)
            .select("bucket", "lo", "hi", "n_docs")
            .orderBy("bucket"))
