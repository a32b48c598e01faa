"""Query plan introspection: what would this query cost, and which
serving path would run it — WITHOUT decoding a single posting.

explain_query is the operator an operator-on-call reaches for before a
query fleet goes out: term statistics, the postings volume the scan
will touch, which execution path search() would auto-route to, which
acceleration artifacts (shard_stats / postings_tier / positions) are
present AND fresh, and — when the selection statistics exist — the
per-shard upper-bound profile selective search would rank by. Pure
metadata: the report is built from the lexicon dict, artifact commit
signals, search()'s own serving gates (which read a tombstone set, if
one exists, to size it against DEL_BROADCAST_MAX) and (optionally)
the narrow shard-bound pass; the posting payload bytes are never read.
"""

from __future__ import annotations

from irkit_spark import config
from irkit_spark.operators.query import (Index, _parse_boosts, fits_local,
                                         serving_gates)


def explain_query(index: Index, query: str, k: int = 10,
                  with_shard_bounds: bool = False) -> dict:
    """A driver-side report dict for one query against one index.

    Keys:
      terms        — [{term, term_id, df, cf, idf, boost}] (OOV
                     dropped, term_id ascending — the kernel's pinned
                     add order)
      oov_terms    — query tokens absent from the lexicon
      n_terms      — len(terms)
      est_postings — sum of df over the query terms: the exact number
                     of postings the pruned scan touches before
                     block-level skipping
      route        — the path search(local=None) would take: "empty"
                     (all OOV), "local" (the driver-kernel gate
                     query.fits_local holds: est_postings <=
                     LOCAL_QUERY_MAX_POSTINGS, doc lengths within the
                     broadcast cap, no tombstone set above
                     DEL_BROADCAST_MAX), or "distributed"
      index        — {n_docs, avgdl, coll_len, codec, quantized,
                     docs_per_shard, n_shards_max}
      deletions    — whether a tombstone set is present
      artifacts    — {shard_stats, postings_tier, positions}: each
                     "fresh" | "stale" | "absent" under the same
                     commit-mtime rule the query paths apply (a stale
                     artifact is exactly as unusable as an absent one)
      shard_bounds — only when with_shard_bounds=True and the query
                     has terms: selective search's [(shard, UB)]
                     ranking (one narrow Spark job; everything else in
                     the report is zero-job when the lexicon dict is
                     warm)
    """
    q, parsed = _parse_boosts(query)
    qmeta = index.lookup_query(q)
    from irkit_spark.functions.tokenize import tokenize
    toks = sorted(set(tokenize(q)))
    found = {m["term"] for m in qmeta}
    terms = [dict(m, boost=float(parsed.get(m["term"], 1.0)))
             for m in qmeta]
    est = sum(m["df"] for m in qmeta)
    if not qmeta:
        route = "empty"
    elif fits_local(index, est,
                    serving_gates(index, with_dl=False)[2]):
        route = "local"
    else:
        route = "distributed"

    def _freshness(name: str) -> str:
        _, ver = index._artifact_key(name)
        if ver is None:
            return "absent"
        _, ver_post = index._artifact_key("postings")
        if ver_post is None or ver < ver_post:
            return "stale"
        return "fresh"

    report = {
        "query": query,
        "k": k,
        "terms": terms,
        "oov_terms": [t for t in toks if t not in found],
        "n_terms": len(terms),
        "est_postings": int(est),
        "route": route,
        "index": {
            "n_docs": index.n_docs,
            "avgdl": index.avgdl,
            "coll_len": index.coll_len,
            "codec": index.codec,
            "quantized": index.quantized,
            "docs_per_shard": index.docs_per_shard,
            "n_shards_max": -(-index.n_docs // index.docs_per_shard),
        },
        "deletions": index.has_deletions(),
        "artifacts": {
            "shard_stats": _freshness("shard_stats"),
            "postings_tier": _freshness("postings_tier"),
            "positions": _freshness("positions"),
        },
    }
    if with_shard_bounds and qmeta:
        from irkit_spark.operators.selective import shard_bounds
        report["shard_bounds"] = shard_bounds(index, qmeta)
    return report


def explain_score(index: Index, query: str, doc_id: int):
    """Per-term BM25 contribution breakdown for ONE document — the
    Lucene Explanation analog. Returns a DataFrame (term, tf, df,
    idf, tf_norm, contribution), term ascending; summing
    `contribution` reproduces search()'s score for the doc exactly
    (same frozen formula text, tested). Docs lacking every query term
    (or OOV-only queries) yield zero rows.

    Scale shape: the postings scan partition-prunes to the doc's ONE
    shard dir and term-prunes to the query's terms; the doc-length
    lookup rides the gated broadcast when warm (zero extra jobs),
    else one pruned docs-table row. Everything after decode is a
    handful of driver-side floats."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from irkit_spark.operators.query import _decode_row_blocks

    spark = index.spark
    schema = ("term string, tf long, df long, idf double, "
              "tf_norm double, contribution double")
    qmeta = index.lookup_query(query)
    if not qmeta:
        return spark.createDataFrame([], schema)
    shard = int(doc_id) // index.docs_per_shard
    tids = {m["term_id"]: m for m in qmeta}
    codec = index.codec
    target = int(doc_id)

    def dec(batches):
        for pdf in batches:
            tid_out, tf_out = [], []
            for _, r in pdf.iterrows():
                d, t = _decode_row_blocks(list(r["blocks"]), codec)
                hit = np.searchsorted(d, target)
                if hit < d.size and d[hit] == target:
                    tid_out.append(int(r["term_id"]))
                    tf_out.append(int(t[hit]))
            yield pd.DataFrame({"term_id": pd.Series(tid_out,
                                                     dtype="int64"),
                                "tf": pd.Series(tf_out, dtype="int64")})

    rows = (index.postings
            .filter((F.col("partition_id") == shard)
                    & F.col("term_id").isin(list(tids)))
            .select("term_id", "blocks")
            .mapInPandas(dec, "term_id long, tf long").collect())
    if not rows:
        return spark.createDataFrame([], schema)

    dl = None
    dl_bc = index.doc_len_broadcast()
    if dl_bc is not None:
        a = dl_bc.value.get(shard)
        if a is not None and 0 <= target - shard * index.docs_per_shard \
                < a.size:
            dl = int(a[target - shard * index.docs_per_shard])
    if dl is None or dl <= 0:
        got = (index.docs.filter(F.col("doc_id") == target)
               .select("doc_len").collect())
        if not got:
            return spark.createDataFrame([], schema)
        dl = int(got[0]["doc_len"])

    k1, b = config.BM25_K1, config.BM25_B
    out = []
    for r in sorted(rows, key=lambda r: tids[r["term_id"]]["term"]):
        m = tids[r["term_id"]]
        tf = int(r["tf"])
        norm = tf / (tf + k1 * (1.0 - b + b * dl / index.avgdl))
        out.append((m["term"], tf, m["df"], m["idf"], norm,
                    m["idf"] * norm))
    return spark.createDataFrame(out, schema)
