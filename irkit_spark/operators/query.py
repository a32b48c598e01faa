"""Top-k BM25 query processing: TAAT, DAAT, block-max WAND.

Re-expresses irkit's query stack (SURVEY.md §2.9:
[pub:include/irkit/taat.hpp], [pub:include/irkit/daat.hpp],
[pub:tools/irk-query.cpp]) on the doc-sharded index of
operators/build.py.

Query lifecycle (SURVEY.md §3.2): driver tokenizes the query with the
frozen tokenizer and looks term ids/idfs up in `terms` (tiny filtered
collect, Q6; query_meta folds in the ^ boosts) ->
`postings.filter(term_id isin q)` (partition/row-group pruning;
untouched shards never read) -> per-shard kernel: decode, merge, score,
local top-k -> global top-k by (score desc, doc_id) over
<= k * n_shards candidate rows. No wide shuffle at query time.

Every kernel-mode operator (search, batch_search, selective, tiered,
phrase, near) takes its serving decisions from serving_gates (doc
lengths broadcast or cogrouped; tombstones masked or anti-joined),
shard_plan (the per-shard applyInPandas or cogroup) and, when it
collects, merge_topk (the driver-side (-score, doc_id) merge). search
and batch_search run the same kernel on the driver instead (local_sweep)
when the query's postings fit fits_local.

Determinism / rank-identity (BASELINE.json:14): every path accumulates a
doc's score over its query terms in ascending term_id order starting
from +0.0, so DAAT and WAND are bit-identical; ties break on doc_id
ascending; the TAAT paths differ only by Spark's float sum order
(tested to 1e-9 with exact rank agreement).

Block-max WAND here is a lossless two-phase batch variant suited to
vectorized execution (the candidate-generation + full-evaluation form):
  1. seed a threshold theta with exact scores of the docs of the
     smallest query-term sub-list in the shard (any k exact scores
     lower-bound the true k-th best);
  2. prune block b of term t unless
       idf_t * blockmax_b + sum_{t' != t} shardUB_{t'} >= theta
     (a doc living only in pruned blocks is provably <= theta);
  3. exactly score the union of surviving-block docs (+ seed docs),
     selectively decoding only blocks that contain a candidate.
Pruned blocks are never decoded — the same work block-max WAND's
cursor loop skips ([pub:daat.hpp threshold logic], SURVEY.md Q5).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irkit_spark import config
from irkit_spark.functions.codecs import decode_blocks_batch
from irkit_spark.functions.scoring import bm25_tf_norm, idf as idf_fn
from irkit_spark.functions.tokenize import tokenize

TOPK_SCHEMA = "doc_id long, score double"

# batch_search driver-merge gate: above this many candidate rows
# (|queries| * k * n_shards upper bound) the per-query top-k merge
# stays a distributed window instead of a driver collect
_BATCH_DRIVER_MAX = 2_000_000


class Index:
    """Loaded index handle (SURVEY.md §1.3 catalog of Spark tables)."""

    def __init__(self, spark: SparkSession, path: str,
                 dl_broadcast_max: int | None = None,
                 table_format: str | None = None):
        self.spark = spark
        self.path = path
        from irkit_spark.operators.build import (DOCS_TABLE_SCHEMA,
                                                 POSTINGS_SCHEMA,
                                                 TERMS_TABLE_SCHEMA)
        from irkit_spark.sources.catalog import read_artifact
        self.postings = read_artifact(spark, path, "postings",
                                      POSTINGS_SCHEMA, table_format)
        self.terms = read_artifact(spark, path, "terms",
                                   TERMS_TABLE_SCHEMA, table_format)
        self.docs = read_artifact(spark, path, "docs",
                                  DOCS_TABLE_SCHEMA, table_format)
        st = read_artifact(spark, path, "stats",
                           fmt=table_format).collect()[0]
        self.n_docs = int(st["n_docs"])
        self.avgdl = float(st["avg_doc_len"])
        self.coll_len = int(st["coll_len"])
        self.codec = st["codec"]
        self.block_size = int(st["block_size"])
        self.docs_per_shard = int(st["docs_per_shard"])
        d = st.asDict()
        self.bound_slack = float(d.get("bound_slack", 1.0))
        self.quantized = bool(d.get("quantized", False))
        self.stats = d
        self._dl_cap = (dl_broadcast_max if dl_broadcast_max is not None
                        else config.DL_BROADCAST_MAX)
        self._fmt = table_format
        self._dl_bc = None          # lazy, built on first search
        self._del_bc = None         # lazy, built on first search
        self._post_local = None     # per-instance cache when unversioned
        self._dec_cache = None      # per-shard decoded blocks (serving)

    # (spark-app id, index path, artifact) -> (version, broadcast of
    # per-shard dl arrays): callers routinely construct a fresh Index
    # per query, so the cache must outlive the instance or the collect
    # is re-paid every query. A rebuild into the same path bumps the
    # version: the superseded broadcast is destroyed and replaced (not
    # leaked), so the cache holds at most one entry per artifact.
    _dl_bc_cache: dict[tuple, tuple[float, object]] = {}

    def doc_len_broadcast(self):
        """Per-shard doc-length arrays as one broadcast (gated on
        n_docs): lets the shard kernel run over postings alone, with no
        docs-table shuffle per query. None above the cap — queries then
        cogroup against the (touched shards of the) docs table.
        Collected via Arrow (toPandas) + numpy bulk assignment, not
        per-row Python; cached per (app, path) while a commit-version
        signal exists (local _SUCCESS mtime; an Iceberg snapshot id
        would slot in here) — with no signal the broadcast is built
        per-Index and never cached, so a long-lived session can never
        serve stale doc lengths after a rebuild (ADVICE r3)."""
        if self.n_docs > self._dl_cap:
            return None
        if self._dl_bc is None:
            key, ver = self._artifact_key("docs")
            hit = Index._dl_bc_cache.get(key) if ver is not None else None
            if hit is not None and hit[0] == ver:
                self._dl_bc = hit[1]
                return self._dl_bc
            pdf = self.docs.select("partition_id", "doc_id",
                                   "doc_len").toPandas()
            dps = self.docs_per_shard
            sh = pdf["partition_id"].to_numpy()
            pos = pdf["doc_id"].to_numpy() - sh.astype(np.int64) * dps
            dl = pdf["doc_len"].to_numpy().astype(np.int32)
            arrs: dict[int, np.ndarray] = {}
            for s in np.unique(sh):
                m = sh == s
                a = np.zeros(dps, dtype=np.int32)
                a[pos[m]] = dl[m]
                arrs[int(s)] = a
            bc = self.spark.sparkContext.broadcast(arrs)
            if ver is not None:
                if hit is not None:
                    hit[1].destroy()    # superseded by the new version
                Index._dl_bc_cache[key] = (ver, bc)
            self._dl_bc = bc
        return self._dl_bc

    # ---- deletions (operators/delete.py tombstones) ----
    # versioned like _dl_bc_cache: (version, set size, broadcast or
    # None) per artifact commit, the broadcast replaced (destroyed)
    # when delete_docs rewrites the artifact
    _del_bc_cache: dict[tuple, tuple[float, int, object]] = {}

    def has_deletions(self) -> bool:
        """Checked per query (a filesystem stat): tombstones can land
        AFTER this handle was constructed and must take effect on the
        next search — same freshness contract as the versioned
        broadcast caches."""
        from irkit_spark.operators.delete import has_deletions
        return has_deletions(self.spark, self.path, self._fmt)

    def deletions_df(self):
        from irkit_spark.operators.delete import read_deletions
        return read_deletions(self.spark, self.path, self._fmt)

    def deletions_broadcast(self):
        """Per-shard SORTED global-doc-id arrays of the tombstone set
        as one broadcast, or None when no deletions exist or the set
        exceeds DEL_BROADCAST_MAX (queries then anti-join on the
        cogrouped docs path). Version-keyed on the artifact commit so
        a later delete_docs invalidates every open handle. The set's
        size is cached with it, so a set above the gate is counted once
        per commit, not once per query."""
        if not self.has_deletions():
            return None
        key, ver = self._artifact_key("deletions")
        hit = Index._del_bc_cache.get(key) if ver is not None else None
        if hit is None or hit[0] != ver:
            if hit is not None and hit[2] is not None:
                hit[2].destroy()        # superseded by the new commit
            hit = (ver, self.deletions_df().count(), None)
        _, n, bc = hit
        fits = n <= config.DEL_BROADCAST_MAX
        if fits and bc is None:
            pdf = (self.deletions_df().select("partition_id", "doc_id")
                   .toPandas())
            sh = pdf["partition_id"].to_numpy()
            ids = pdf["doc_id"].to_numpy().astype(np.int64)
            arrs = {int(s): np.sort(ids[sh == s]) for s in np.unique(sh)}
            bc = self.spark.sparkContext.broadcast(arrs)
        if ver is not None:
            Index._del_bc_cache[key] = (ver, n, bc)
        self._del_bc = bc if fits else None
        return self._del_bc

    def persist(self):
        """Pin the postings/terms tables in executor memory and
        materialize the doc-length broadcast: a served index pays the
        parquet scan once, and every later query runs against cached
        blocks (the mmap-resident index analog — SURVEY.md S6). Returns
        self for chaining."""
        self.postings = self.postings.persist()
        self.terms = self.terms.persist()
        self.postings.count()
        self.terms.count()
        self.doc_len_broadcast()
        return self

    def unpersist(self):
        self.postings.unpersist()
        self.terms.unpersist()
        return self

    # §3.3 lookups ([pub:tools/irk-lookup — low])
    def term_stats(self, term: str):
        rows = self.terms.filter(F.col("term") == term).collect()
        return rows[0].asDict() if rows else None

    def doc(self, url: str):
        rows = self.docs.filter(F.col("url") == url).collect()
        return rows[0].asDict() if rows else None

    # (app id, path, artifact) -> (version, {term: (term_id, df, cf)})
    # for vocab-gated driver-side lookups: a served index otherwise pays
    # one Spark job per query just to resolve its terms. Version-keyed
    # like _dl_bc_cache: one entry per artifact, replaced on rebuild.
    _terms_cache: dict[tuple, tuple[float, dict | None]] = {}

    def _terms_dict(self):
        """Driver terms dict when the vocab fits BROADCAST_VOCAB_MAX
        (the same gate the build's broadcast dictionary uses); None at
        web-scale vocabs, where lookups stay a pruned filter job. Not
        cached when the artifact has no commit-version signal (non-local
        paths / Iceberg namespaces — see _artifact_key)."""
        key, ver = self._artifact_key("terms")
        if ver is not None:
            hit = Index._terms_cache.get(key)
            if hit is not None and hit[0] == ver:
                return hit[1]
        n = self.terms.count()
        d = None
        if n <= config.BROADCAST_VOCAB_MAX:
            d = {r["term"]: (int(r["term_id"]), int(r["df"]),
                             int(r["cf"]))
                 for r in self.terms.select("term", "term_id", "df",
                                            "cf").collect()}
        if ver is not None:
            Index._terms_cache[key] = (ver, d)
        return d

    # (app id, path, artifact) -> (version, {term_id: [(shard, blocks),
    # ...], ...}) — the driver-side postings cache behind the local
    # query kernel (search(..., local=...)): each term's pruned,
    # compressed posting blocks are collected ONCE per process, then
    # every later query over cached terms runs the numpy kernel
    # in-process with zero Spark jobs. Bounded by _POST_CACHE_MAX
    # postings (blocks stay varbyte-compressed, ~2.2B/posting).
    _post_cache: dict[tuple, tuple[float, dict]] = {}
    _POST_CACHE_MAX = 8 * config.LOCAL_QUERY_MAX_POSTINGS

    def _local_postings(self, qmeta: list[dict]) -> dict[int, list]:
        """{term_id: [(shard, blocks), ...]} for the query's terms,
        collecting only terms not already in the driver cache (one
        pruned filter+collect job; partition/row-group pruning applies
        exactly as in the distributed path)."""
        key, ver = self._artifact_key("postings")
        if ver is not None:
            hit = Index._post_cache.get(key)
            if hit is None or hit[0] != ver:
                hit = (ver, {"__n": 0})
                Index._post_cache[key] = hit
            cache = hit[1]
        else:
            if self._post_local is None:
                self._post_local = {"__n": 0}
            cache = self._post_local
        missing = [m["term_id"] for m in qmeta if m["term_id"] not in cache]
        if missing:
            rows = (self.postings
                    .filter(F.col("term_id").isin(missing))
                    .select("term_id", "partition_id", "blocks").collect())
            for tid in missing:
                cache[tid] = []
            for r in rows:
                cache[int(r["term_id"])].append(
                    (int(r["partition_id"]), r["blocks"]))
                cache["__n"] += sum(int(b["n"]) for b in r["blocks"])
            if cache["__n"] > Index._POST_CACHE_MAX:
                # simple bound: drop everything but this query's terms
                keep = {m["term_id"] for m in qmeta}
                for k2 in [k for k in cache
                           if k != "__n" and k not in keep]:
                    del cache[k2]
                cache["__n"] = sum(
                    sum(int(b["n"]) for _, blks in v for b in blks)
                    for k3, v in cache.items() if k3 != "__n")
        return {m["term_id"]: cache[m["term_id"]] for m in qmeta}

    def _artifact_key(self, name: str) -> tuple[tuple, float | None]:
        """((app, path, artifact), version) — version is the local
        _SUCCESS commit mtime, or None when no version signal exists
        (non-local filesystems, Iceberg namespaces — there a snapshot
        id from table metadata would be the version; with None the
        caches are bypassed rather than risking stale serving)."""
        try:
            ver = os.path.getmtime(
                os.path.join(self.path, name, "_SUCCESS"))
        except OSError:
            ver = None
        return ((self.spark.sparkContext.applicationId, self.path, name),
                ver)

    def lookup_query(self, query: str) -> list[dict]:
        """Query string -> [{term, term_id, idf, df, cf}] (OOV
        dropped, Q6/P3). Zero Spark jobs when the vocab-gated driver
        dict is warm."""
        toks = sorted(set(tokenize(query)))
        if not toks:
            return []
        td = self._terms_dict()
        if td is not None:
            hits = [(t, *td[t]) for t in toks if t in td]
            return [{"term": t, "term_id": tid, "df": df, "cf": cf,
                     "idf": float(idf_fn(np.array([df]),
                                         self.n_docs)[0])}
                    for t, tid, df, cf in
                    sorted(hits, key=lambda h: h[1])]
        rows = (self.terms.filter(F.col("term").isin(toks))
                .select("term_id", "term", "df", "cf").collect())
        return [{"term": r["term"], "term_id": int(r["term_id"]),
                 "df": int(r["df"]), "cf": int(r["cf"]),
                 "idf": float(idf_fn(np.array([r["df"]]), self.n_docs)[0])}
                for r in sorted(rows, key=lambda r: r["term_id"])]


def _decode_row_blocks(blocks, codec: str):
    """postings.blocks (list of dict-like) -> (docs u64[], tfs u64[]).
    One codec call per run (varbyte) via decode_blocks_batch."""
    docs, tfs, _ = decode_blocks_batch(list(blocks), codec)
    return docs, tfs


def topk_frame(doc: np.ndarray, score: np.ndarray, k: int,
               **extra: np.ndarray) -> pd.DataFrame:
    """In-task top-k by (-score, doc_id): (doc_id, *extra, score)."""
    if doc.size > k:
        # keep every doc tied with the k-th best score so the
        # doc_id tie-break below stays exact, then sort the subset
        kth = np.partition(score, doc.size - k)[doc.size - k]
        keep = score >= kth
        doc, score = doc[keep], score[keep]
        extra = {c: v[keep] for c, v in extra.items()}
    order = np.lexsort((doc, -score))[:k]
    return pd.DataFrame({"doc_id": doc[order].astype(np.int64),
                         **{c: v[order].astype(np.int64)
                            for c, v in extra.items()},
                         "score": score[order]})


def shard_doc_lengths(shard: int, docs_per_shard: int, dl_bc, docs_pdf,
                      restrict: bool = False, del_bc=None):
    """Per-shard kernel head: (doc lengths by doc-local id, from dl_bc
    or the cogrouped docs side; selection mask or None), or None when
    the shard has no docs. restrict selects only the docs-side docs;
    del_bc masks the shard's tombstones."""
    base = shard * docs_per_shard
    valid = None
    if dl_bc is not None:
        if restrict:
            # the predicate is evaluated on the cogrouped docs side; a
            # broadcast-dl caller has no docs side to restrict by
            raise ValueError(
                "restrict=True requires the cogrouped docs path "
                "(dl_bc must be None)")
        got = dl_bc.value.get(shard)
        if got is None:
            # shard absent from the docs table (corrupt or hand-merged
            # index): the cogroup path gets an empty docs side and
            # returns empty — match it instead of scoring with dl=0
            # (ADVICE r3)
            return None
        dl_arr = got.astype(np.float64)
    else:
        if docs_pdf is None or docs_pdf.empty:
            return None
        dl_arr = np.zeros(docs_per_shard, dtype=np.float64)
        d_ids = docs_pdf["doc_id"].to_numpy() - base
        dl_arr[d_ids] = docs_pdf["doc_len"].to_numpy()
        if restrict:
            valid = np.zeros(docs_per_shard, dtype=bool)
            valid[d_ids] = True
    if del_bc is not None:
        dels = del_bc.value.get(shard)
        if dels is not None and dels.size:
            if valid is None:
                valid = np.ones(docs_per_shard, dtype=bool)
            valid[dels - base] = False
    return dl_arr, valid


def _shard_kernel(qmeta: list[dict], avgdl: float, codec: str, k: int,
                  docs_per_shard: int, mode: str, scorer: str = "bm25",
                  coll_len: int = 1, bound_slack: float = 1.0,
                  quantized: bool = False, dl_bc=None,
                  restrict: bool = False, del_bc=None,
                  neg_tids: frozenset = frozenset()):
    """Per-shard scorer: cogrouped with the docs table, or — when dl_bc
    (the broadcast per-shard doc-length arrays) is set — over postings
    alone. qmeta sorted by term_id ascending.

    restrict=True (filtered search): the cogrouped docs side carries
    ONLY the docs passing the caller's predicate; candidates outside it
    are dropped before scoring/theta, so the top-k is over the filtered
    subset while scores keep the GLOBAL collection stats (a doc scores
    identically filtered or not — selection changes, scoring doesn't).
    Pruning stays lossless: all-docs block bounds are upper bounds for
    any subset.

    del_bc (tombstones, operators/delete.py): broadcast of per-shard
    sorted deleted-id arrays — deleted docs are masked out of every
    mode's candidate set through the same `valid` array restrict uses
    (selection-only, like restrict: scores of survivors are untouched
    and pruning bounds remain upper bounds).

    neg_tids (boolean NOT, search(exclude_terms=)): postings rows for
    these term ids arrive in the same shard task as the query's; the
    kernel decodes them FIRST and masks their docs out of the same
    `valid` array — shard-local, no global excluded set ever
    materializes. qmeta carries POSITIVE terms only, so scoring, the
    QL decomposition, and every pruning bound see just the scored
    terms (selection-only again: bounds stay upper bounds when docs
    are removed)."""
    idf_by_tid = {m["term_id"]: m["idf"] for m in qmeta}
    # Dirichlet QL decomposition (SURVEY.md Q2):
    #   sum_t ln((tf + mu*p_t)/(dl + mu))
    #     = sum_t ln(1 + tf/(mu*p_t)) + K - |q|*ln(dl + mu)
    # with p_t = cf_t/C and K = sum_t ln(mu*p_t): posting-level part +
    # candidate-doc-level adjustment, exactly the oracle's value.
    mu = config.QL_MU
    p_by_tid = {m["term_id"]: m["cf"] / coll_len for m in qmeta}
    cf_by_tid = {m["term_id"]: m["cf"] for m in qmeta}
    ql_K = float(sum(np.log(mu * p) for p in p_by_tid.values()))
    nq = len(qmeta)
    # Jelinek-Mercer decomposition (functions/scoring.ql_jm): additive
    # per MATCHED posting, no doc-level adjustment
    jm_c = (1.0 - config.JM_LAMBDA) / config.JM_LAMBDA

    def term_gather(tid, blocks, need, decoded_cache):
        """(docs, tfs) int64, concatenated over the `need` block indices
        (ascending). Uncached blocks are batch-decoded in one codec
        call; per-block views land in decoded_cache so the driver
        serving cache and cross-phase reuse keep working. The all-fresh
        case (cold query) returns the fused arrays directly — zero
        re-concatenation."""
        fresh = [b_ix for b_ix in need if (tid, b_ix) not in decoded_cache]
        if fresh:
            d, t, offs = decode_blocks_batch([blocks[i] for i in fresh],
                                             codec)
            d = d.astype(np.int64)
            t = t.astype(np.int64)
            for j, b_ix in enumerate(fresh):
                decoded_cache[(tid, b_ix)] = (d[offs[j]:offs[j + 1]],
                                              t[offs[j]:offs[j + 1]])
            if len(fresh) == len(need):
                return d, t
        return (np.concatenate([decoded_cache[(tid, b)][0] for b in need]),
                np.concatenate([decoded_cache[(tid, b)][1] for b in need]))

    def exact_scores(term_rows, cand: np.ndarray, dl_arr: np.ndarray,
                     base: int, decoded_cache: dict) -> np.ndarray:
        """Exact scores (scorer-aware: bm25/ql/jm/quantized) of sorted
        candidate docs; selective block decode.

        Blocks containing no candidate are never decoded (the WAND /
        max-score skip guarantee); the needed ones are decoded in one
        codec call and probed with ONE searchsorted per term — docIDs
        are unique per term, so each doc still receives exactly one add
        per term in ascending term_id order (the pinned float add order
        DAAT identity depends on)."""
        scores = np.zeros(cand.size, dtype=np.float64)
        for tid in sorted(term_rows):  # ascending term_id: pinned add order
            blocks = term_rows[tid]
            firsts = np.array([b["first_doc"] for b in blocks], np.int64)
            lasts = np.array([b["last_doc"] for b in blocks], np.int64)
            # block index whose range may contain each candidate
            bi = np.searchsorted(lasts, cand, side="left")
            ok = (bi < len(blocks))
            hit = np.zeros(cand.size, dtype=bool)
            hit[ok] = firsts[bi[ok]] <= cand[ok]
            need = np.unique(bi[hit])
            if need.size == 0:
                continue
            d, t = term_gather(tid, blocks, need.tolist(), decoded_cache)
            pos = np.searchsorted(d, cand)
            pos_ok = pos < d.size
            m = np.zeros(cand.size, dtype=bool)
            m[pos_ok] = d[pos[pos_ok]] == cand[pos_ok]
            if not m.any():
                continue
            tf = t[pos[m]]
            if scorer == "ql":
                scores[m] += np.log1p(tf / (mu * p_by_tid[tid]))
            elif scorer == "jm":
                dl = dl_arr[cand[m] - base]
                scores[m] += np.log1p(jm_c * tf
                                      / (dl * p_by_tid[tid]))
            elif quantized:
                scores[m] += idf_by_tid[tid] * (tf / 127.0)
            else:
                dl = dl_arr[cand[m] - base]
                scores[m] += idf_by_tid[tid] * bm25_tf_norm(tf, dl,
                                                            avgdl)
        if scorer == "ql":
            # doc-level Dirichlet adjustment — same expression shape as
            # the DAAT branch so the two paths stay bit-identical
            scores = scores + ql_K - nq * np.log(dl_arr[cand - base]
                                                 + mu)
        return scores

    def run(post_pdf: pd.DataFrame,
            docs_pdf: pd.DataFrame | None = None,
            theta0: float = -np.inf,
            decoded_cache: dict | None = None) -> pd.DataFrame:
        """theta0: carried-in WAND threshold (driver-side sequential
        serving): the k-th best EXACT score accumulated over shards
        already processed. Lossless — a block pruned by ub < theta0
        holds only docs scoring < theta0, which cannot displace any of
        the k docs that produced it; a doc scoring exactly theta0 has
        ub >= theta0 and survives (keep is >=). When set, the per-shard
        seed phase is skipped entirely (the carried threshold already
        prunes harder than a local seed would)."""
        empty_out = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                  "score": pd.Series([], dtype="float64")})
        if post_pdf.empty:
            return empty_out
        shard = int(post_pdf["partition_id"].iloc[0])
        base = shard * docs_per_shard
        head = shard_doc_lengths(shard, docs_per_shard, dl_bc, docs_pdf,
                                 restrict, del_bc)
        if head is None:
            return empty_out
        dl_arr, valid = head
        term_rows: dict[int, list] = {}
        # iterrows is safe ONLY because post_pdf holds one row per
        # (query term, shard) PER SEGMENT — a handful of rows, each
        # carrying its whole block array. If the postings layout ever
        # moves to blocks-per-row, this loop becomes per-block Python
        # and must be rewritten as a column pull (VERDICT r4 "What's
        # wrong" #4).
        multi: set = set()
        for _, r in post_pdf.iterrows():
            tid = int(r["term_id"])
            if tid in term_rows:
                multi.add(tid)
                term_rows[tid].extend(list(r["blocks"]))
            else:
                term_rows[tid] = list(r["blocks"])
        # segmented serving (operators/segments.py): a boundary shard
        # holds one postings row per segment for the same term;
        # segment doc ranges are disjoint, so sorting the combined
        # block list by first_doc restores the ascending-docs
        # invariant every kernel mode relies on
        for tid in multi:
            term_rows[tid].sort(key=lambda bb: bb["first_doc"])
        # decoded_cache (driver serving): a per-shard dict that outlives
        # this call, so repeated queries over the same terms skip the
        # varbyte decode entirely; keys are (term_id, block_ix), unique
        # across queries
        cache: dict = decoded_cache if decoded_cache is not None else {}

        if neg_tids:
            # NOT terms: full decode of their in-shard postings (the
            # minimal cost of knowing what to exclude), docs masked
            # out of `valid` before any mode runs
            for tid in [t for t in term_rows if t in neg_tids]:
                blocks = term_rows.pop(tid)
                d, _t = term_gather(tid, blocks,
                                    list(range(len(blocks))), cache)
                if valid is None:
                    valid = np.ones(docs_per_shard, dtype=bool)
                valid[d - base] = False
            if not term_rows:
                return empty_out

        if mode == "and":
            # conjunctive intersection (J1): small-adaptive — decode the
            # rarest term fully, then for each other term (ascending
            # size) selectively decode ONLY blocks containing surviving
            # candidates (np.searchsorted against block ranges); blocks
            # with no survivor in range are skipped undecoded. Docs
            # missing any term are dropped; survivors get exact scores
            # (block cache makes that nearly free).
            if len(term_rows) < nq:
                # some query term has no postings in this shard at all
                return empty_out
            order = sorted(term_rows,
                           key=lambda t: sum(b["n"] for b in term_rows[t]))
            cand = None
            for tid in order:
                blocks = term_rows[tid]
                if cand is None:
                    # rarest term: decode fully (one codec call) — its
                    # docs ARE the initial candidate set
                    cand, _t = term_gather(tid, blocks,
                                           list(range(len(blocks))), cache)
                    continue
                firsts = np.array([b["first_doc"] for b in blocks],
                                  np.int64)
                lasts = np.array([b["last_doc"] for b in blocks], np.int64)
                bi = np.searchsorted(lasts, cand, side="left")
                ok = bi < len(blocks)
                hit = np.zeros(cand.size, dtype=bool)
                hit[ok] = firsts[bi[ok]] <= cand[ok]
                need = np.unique(bi[hit])
                if need.size == 0:
                    cand = cand[:0]
                    break
                d, _t = term_gather(tid, blocks, need.tolist(), cache)
                pos = np.searchsorted(d, cand)
                pos_ok = pos < d.size
                keep = np.zeros(cand.size, dtype=bool)
                keep[pos_ok] = d[pos[pos_ok]] == cand[pos_ok]
                cand = cand[keep]
                if cand.size == 0:
                    break
            if cand is not None and cand.size and valid is not None:
                cand = cand[valid[cand - base]]
            if cand is None or cand.size == 0:
                return empty_out
            # exact_scores is scorer-aware (bm25/ql/jm/quantized) and
            # reuses the blocks this loop already decoded via `cache`
            sc = exact_scores(term_rows, cand, dl_arr, base, cache)
            return topk_frame(cand, sc, k)

        if mode == "daat":       # exhaustive, Q4
            # dense per-shard accumulator; adds happen per term in
            # ascending term_id order from +0.0 — the SAME pinned float
            # add order as the WAND kernel's exact_scores, so DAAT and
            # WAND top-k are bit-identical (np.add.reduceat would
            # right-associate and drift by 1 ulp).
            acc = np.zeros(docs_per_shard, dtype=np.float64)
            present = np.zeros(docs_per_shard, dtype=bool)
            for tid in sorted(term_rows):
                d, t = _decode_row_blocks(term_rows[tid], codec)
                off = d.astype(np.int64) - base
                tf = t.astype(np.int64)
                if scorer == "ql":
                    contrib = np.log1p(tf / (mu * p_by_tid[tid]))
                elif scorer == "jm":
                    contrib = np.log1p(jm_c * tf / (dl_arr[off]
                                                    * p_by_tid[tid]))
                elif quantized:
                    contrib = idf_by_tid[tid] * (tf / 127.0)
                else:
                    contrib = idf_by_tid[tid] * bm25_tf_norm(
                        tf, dl_arr[off], avgdl)
                acc[off] += contrib          # doc ids unique within term
                present[off] = True
            if valid is not None:
                present &= valid
            idxs = np.flatnonzero(present)
            sc = acc[idxs]
            if scorer == "ql":
                sc = sc + ql_K - nq * np.log(dl_arr[idxs] + mu)
            return topk_frame(idxs + base, sc, k)

        # mode in ("wand", "maxscore"): two-phase lossless dynamic
        # pruning, Q5 — shared block metadata + theta seeding, then
        # either per-block rest bounds (wand) or the essential-list
        # partition (maxscore)
        meta, firsts_by, lasts_by = {}, {}, {}
        for tid, blocks in term_rows.items():
            meta[tid] = np.array([b["max_score"] for b in blocks],
                                 np.float64) * bound_slack
            firsts_by[tid] = np.array([b["first_doc"] for b in blocks],
                                      np.int64)
            lasts_by[tid] = np.array([b["last_doc"] for b in blocks],
                                     np.int64)
        # scorer-aware per-block upper-bound arrays (`bub`). bm25: the
        # stored per-block max tf_norm times idf — true block-max WAND.
        # ql/jm: a sound TERM-level bound replicated across the term's
        # blocks (the index stores bm25 tf_norm maxima, which bound
        # nothing for QL), derived from tf <= dl and tf <= cf:
        #   jm : log1p(jm_c * min(1, cf/dl_min) / p_t)   (tf/dl <= both)
        #   ql : log1p(min(cf, dl_max) / (mu * p_t))     (tf <= both)
        # Pruning degenerates from block-max to plain WAND/max-score
        # for these scorers but stays lossless. QL's doc-level
        # adjustment (ql_K - nq*ln(dl+mu), maximized at the shard's
        # smallest doc length) is folded into the threshold via
        # theta_adj: prune iff matched_ub + theta_adj < theta.
        theta_adj = 0.0
        if scorer in ("ql", "jm"):
            pos_dl = dl_arr[dl_arr > 0]
            dl_min = float(pos_dl.min()) if pos_dl.size else 1.0
            dl_max = float(dl_arr.max()) if dl_arr.size else 1.0
            bub = {}
            for tid in term_rows:
                cf_t = cf_by_tid[tid]
                if scorer == "ql":
                    ub_t = float(np.log1p(min(cf_t, dl_max)
                                          / (mu * p_by_tid[tid])))
                else:
                    ub_t = float(np.log1p(jm_c * min(1.0, cf_t / dl_min)
                                          / p_by_tid[tid]))
                bub[tid] = np.full(meta[tid].size, ub_t * bound_slack)
            if scorer == "ql":
                theta_adj = ql_K - nq * np.log(dl_min + mu)
        else:
            bub = {tid: idf_by_tid[tid] * meta[tid] for tid in term_rows}

        # phase 1: seed theta from the smallest term's docs (decoded
        # through the shared block cache so exact_scores reuses them);
        # skipped when a carried threshold arrives (see theta0 above)
        if theta0 > -np.inf:
            theta = theta0
            seed_docs = np.empty(0, dtype=np.int64)
        else:
            seed_tid = min(term_rows,
                           key=lambda t: sum(b["n"] for b in term_rows[t]))
            seed_blocks = term_rows[seed_tid]
            seed_docs, _t = term_gather(seed_tid, seed_blocks,
                                        list(range(len(seed_blocks))), cache)
            # already ascending + unique (build invariant), no np.unique
            if valid is not None:
                seed_docs = seed_docs[valid[seed_docs - base]]
            seed_scores = exact_scores(term_rows, seed_docs, dl_arr, base,
                                       cache)
            if seed_docs.size >= k:
                theta = np.partition(seed_scores, seed_docs.size - k)[
                    seed_docs.size - k]
            else:
                theta = -np.inf

        if mode == "maxscore":
            # Max-score (Turtle & Flood 1995 — the other half of
            # SURVEY Q5's "max-score / block-max WAND"): sort terms by
            # TERM-level upper bound ub_t = idf_t * max(block maxes);
            # the largest prefix (ascending ub) whose ub sum stays
            # BELOW theta is the non-essential set — a doc matching
            # only non-essential terms scores <= that sum < theta, so
            # top-k candidates must appear in some ESSENTIAL term's
            # postings. Decode essential postings fully as candidates;
            # exact_scores then touches non-essential blocks only where
            # a candidate lands (selective decode). Lossless for the
            # same reason WAND is: pruned docs cannot displace the k
            # docs that produced theta.
            ub_by = {tid: (float(bub[tid].max()) if bub[tid].size else 0.0)
                     for tid in term_rows}
            order = sorted(term_rows, key=lambda t: ub_by[t])
            acc_ub, n_noness = 0.0, 0
            for tid in order:
                if acc_ub + ub_by[tid] >= theta - theta_adj:
                    break
                acc_ub += ub_by[tid]
                n_noness += 1
            cand_parts = [seed_docs]
            for tid in order[n_noness:]:
                blocks = term_rows[tid]
                d, _t = term_gather(tid, blocks, list(range(len(blocks))),
                                    cache)
                cand_parts.append(d)
            cand = np.unique(np.concatenate(cand_parts))
            if valid is not None:
                cand = cand[valid[cand - base]]
            sc = exact_scores(term_rows, cand, dl_arr, base, cache)
            return topk_frame(cand, sc, k)

        # phase 2: surviving blocks. A block of term t covering doc
        # range [f, l] bounds every doc in it by
        #   idf_t * blockmax + sum_{t' != t} idf_t' * max(blockmax of
        #   t' blocks overlapping [f, l])
        # — the doc-range-aligned rest bound is what makes BMW actually
        # skip (a rare term's narrow doc range prunes a stopword's
        # blocks everywhere else). Lossless: a doc's t'-posting lives in
        # a t' block containing it, hence overlapping [f, l].
        def window_max(vals, a, b):
            """max(vals[a[i]:b[i]]) per i (0.0 if empty): vectorized
            sparse-table range-max — O(m log m) build over the block
            metadata, O(1) per window, no per-block Python loop (this
            was the one scalar Python loop left in the query hot
            path)."""
            out = np.zeros(a.size, dtype=np.float64)
            m = vals.size
            valid = a < b
            if m == 0 or not valid.any():
                return out
            st = [vals.astype(np.float64)]
            j = 1
            while (1 << j) <= m:
                p, h = st[j - 1], 1 << (j - 1)
                st.append(np.maximum(p[:m - (1 << j) + 1],
                                     p[h:m - h + 1]))
                j += 1
            av, bv = a[valid], b[valid]
            lev = np.floor(np.log2(bv - av)).astype(np.int64)
            res = np.empty(av.size, dtype=np.float64)
            for lv in np.unique(lev).tolist():
                msk = lev == lv
                half = 1 << lv
                res[msk] = np.maximum(st[lv][av[msk]],
                                      st[lv][bv[msk] - half])
            out[valid] = res
            return out

        cand_parts = [seed_docs]
        for tid, blocks in term_rows.items():
            ub_b = bub[tid].copy()
            for tid2 in term_rows:
                if tid2 == tid:
                    continue
                a = np.searchsorted(lasts_by[tid2], firsts_by[tid],
                                    side="left")
                b2 = np.searchsorted(firsts_by[tid2], lasts_by[tid],
                                     side="right")
                ub_b = ub_b + window_max(
                    bub[tid2], a, np.maximum(a, b2))
            keep = np.flatnonzero(ub_b >= theta - theta_adj)
            if keep.size:
                d, _t = term_gather(tid, blocks, keep.tolist(), cache)
                cand_parts.append(d)
        cand = np.unique(np.concatenate(cand_parts))
        if valid is not None:
            cand = cand[valid[cand - base]]

        # phase 3: exact scores of candidates
        sc = exact_scores(term_rows, cand, dl_arr, base, cache)
        return topk_frame(cand, sc, k)

    return run


def _search_local(index: Index, qmeta: list[dict], k: int, mode: str,
                  scorer: str, del_bc=None,
                  neg_meta: list[dict] | None = None) -> DataFrame:
    """Driver-side execution of the SAME per-shard kernel: posting
    blocks from the driver cache (_local_postings), doc lengths from
    the (driver-visible) broadcast value, global top-k merged with the
    identical (-score, doc_id) order — bit-identical to the distributed
    path by construction (tested), with zero Spark jobs once warm.
    neg_meta (exclude_terms): those terms' blocks ride the same driver
    cache and mask in-kernel exactly like the distributed path."""
    neg_meta = neg_meta or []
    dl_bc = index.doc_len_broadcast()
    by_tid = index._local_postings(qmeta + neg_meta)
    kern = _shard_kernel(qmeta, index.avgdl, index.codec, k,
                         index.docs_per_shard, mode, scorer,
                         index.coll_len, index.bound_slack,
                         index.quantized, dl_bc=dl_bc, del_bc=del_bc,
                         neg_tids=frozenset(
                             m["term_id"] for m in neg_meta))
    parts = local_sweep(index, kern, by_tid, mode, k)
    return merge_topk(index.spark, parts, k)


def local_sweep(index: Index, kern, by_tid: dict[int, list], mode: str,
                k: int) -> list[pd.DataFrame]:
    """Run kern over each shard of by_tid ({term_id: [(shard, blocks)]},
    from _local_postings) on the driver, in shard order, with the
    handle's decoded-block cache; returns the per-shard top-k frames
    unmerged (search merges them, batch_search tags them per query)."""
    per_shard: dict[int, dict[str, list]] = {}
    for tid, lst in by_tid.items():
        for shard, blocks in lst:
            g = per_shard.setdefault(shard, {"partition_id": [],
                                             "term_id": [], "blocks": []})
            g["partition_id"].append(shard)
            g["term_id"].append(tid)
            g["blocks"].append(blocks)
    # sequential shard sweep with a carried WAND threshold: after k
    # results exist, theta = the running k-th best EXACT score, so
    # later shards prune nearly every block (lossless — see run()'s
    # theta0 note). This is what makes warm serving per-query-ms even
    # when one term's df is ~corpus-sized.
    parts: list[pd.DataFrame] = []
    theta = -np.inf
    all_scores = np.empty(0, dtype=np.float64)
    if index._dec_cache is None:
        index._dec_cache = {}
    for shard, g in sorted(per_shard.items()):
        dc = index._dec_cache.setdefault(shard, {})
        if mode in ("wand", "maxscore"):
            p = kern(pd.DataFrame(g), theta0=theta, decoded_cache=dc)
        else:
            p = kern(pd.DataFrame(g), decoded_cache=dc)
        if len(p):
            parts.append(p)
            if mode in ("wand", "maxscore"):
                all_scores = np.concatenate(
                    [all_scores, p["score"].to_numpy()])
                if all_scores.size >= k:
                    theta = np.partition(
                        all_scores, all_scores.size - k)[
                        all_scores.size - k]
    return parts


def _docs_touched(index: Index, qpost: DataFrame,
                  doc_filter: str | None = None,
                  exclude_deleted: bool = False) -> DataFrame:
    """Docs rows restricted to the shards `qpost` touches, via a
    broadcast left-semi join on the distinct shard ids instead of a
    driver `distinct().collect()` + isin rewrite: one fewer fixed
    scheduling round-trip per query (the collect was a full extra
    Spark job paid before the real query job launched — ADVICE r4),
    and Spark's dynamic partition pruning can slot the same shard
    list into the dir-partitioned docs scan at runtime (the docs
    artifact is partitioned by partition_id)."""
    shard_dim = qpost.select("partition_id").distinct()
    docs = index.docs
    if doc_filter is not None:
        docs = docs.filter(F.expr(doc_filter))
    if exclude_deleted:
        # tombstones anti-joined out of the docs side: the cogrouped
        # kernel then restricts candidates to the surviving docs —
        # the above-DEL_BROADCAST_MAX fallback (only touched shards
        # of both tables move)
        docs = docs.join(index.deletions_df().select("doc_id"),
                         "doc_id", "left_anti")
    return (docs.join(F.broadcast(shard_dim), "partition_id",
                      "left_semi")
            .select("partition_id", "doc_id", "doc_len"))


def serving_gates(index: Index, with_dl: bool = True,
                  refuse_over: str | None = None):
    """(dl_bc, del_bc, del_over_gate). Tombstones are selection-only:
    at or below DEL_BROADCAST_MAX kernels mask them via del_bc; above
    it the query cogroups the docs table with them anti-joined out,
    or raises when the operator passes its name as refuse_over. dl_bc
    is None above the doc-length cap, over the deletion gate, or with
    with_dl=False (a doc_filter cogroups anyway)."""
    has_del = index.has_deletions()
    del_bc = index.deletions_broadcast() if has_del else None
    del_over_gate = has_del and del_bc is None
    if del_over_gate and refuse_over is not None:
        raise ValueError(
            f"tombstone set above DEL_BROADCAST_MAX: {refuse_over} "
            "masks deletions via the broadcast — use search(), which "
            "anti-joins them on the cogrouped docs path")
    dl_bc = (index.doc_len_broadcast()
             if with_dl and not del_over_gate else None)
    return dl_bc, del_bc, del_over_gate


def fits_local(index: Index, n_postings: int,
               del_over_gate: bool) -> bool:
    """The driver-kernel gate search(local=None) routes by: the query
    touches at most LOCAL_QUERY_MAX_POSTINGS postings, doc lengths fit
    the broadcast cap, and no tombstone set is above the gate."""
    return (n_postings <= config.LOCAL_QUERY_MAX_POSTINGS
            and index.n_docs <= index._dl_cap
            and not del_over_gate)


def shard_plan(index: Index, qpost: DataFrame, kern, schema: str,
               dl_bc, doc_filter: str | None = None,
               del_over_gate: bool = False) -> DataFrame:
    """kern over each touched shard of the pruned postings/positions
    frame: kern(pdf) when doc lengths ride the broadcast (no docs
    shuffle), else kern(pdf, docs_pdf) cogrouped with the touched
    docs shards (doc_filter applied, tombstones anti-joined)."""
    if dl_bc is not None:
        return (qpost.groupBy("partition_id")
                .applyInPandas(lambda pdf: kern(pdf), schema))
    qdocs = _docs_touched(index, qpost, doc_filter,
                          exclude_deleted=del_over_gate)
    return (qpost.groupBy("partition_id")
            .cogroup(qdocs.groupBy("partition_id"))
            .applyInPandas(lambda lt, rt: kern(lt, rt), schema))


def merge_topk(spark: SparkSession, parts: list[pd.DataFrame], k: int,
               group: str | None = None) -> DataFrame:
    """Driver-side merge of collected per-shard rows: top k by
    (-score, doc_id), or k per `group` (a string column). A StructType
    schema keeps createDataFrame on the Arrow path (a DDL string takes
    the row-wise fallback)."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    fields = [StructField("doc_id", LongType()),
              StructField("score", DoubleType())]
    if group is not None:
        fields.insert(0, StructField(group, StringType()))
    schema = StructType(fields)
    parts = [p for p in parts if len(p)]
    if not parts:
        return spark.createDataFrame([], schema)
    allp = pd.concat(parts, ignore_index=True)
    doc = allp["doc_id"].to_numpy()
    sc = allp["score"].to_numpy()
    if group is None:
        order = np.lexsort((doc, -sc))[:k]
        out = {"doc_id": doc[order].astype(np.int64), "score": sc[order]}
    else:
        g = allp[group].to_numpy()
        order = np.lexsort((doc, -sc, g))
        g, doc, sc = g[order], doc[order], sc[order]
        starts = np.concatenate(([True], g[1:] != g[:-1]))
        rank = np.arange(g.size) - np.maximum.accumulate(
            np.where(starts, np.arange(g.size), 0))
        keep = rank < k
        out = {group: g[keep], "doc_id": doc[keep].astype(np.int64),
               "score": sc[keep]}
    return spark.createDataFrame(pd.DataFrame(out), schema)


def _parse_boosts(query: str) -> tuple[str, dict[str, float]]:
    """Lucene-style term boosts: 'jaguar^2 speed' ->
    ('jaguar speed', {'jaguar': 2.0}). A boost applies to every token
    its clause tokenizes to; repeated terms must agree on their boost
    (which version wins must not depend on clause order). Parsed
    BEFORE tokenization — the tokenizer would otherwise read the '2'
    of 'jaguar^2' as a numeric term."""
    import re
    parts: list[str] = []
    weights: dict[str, float] = {}
    for clause in query.split():
        m = re.match(r"^(.*)\^(\d+(?:\.\d+)?)$", clause)
        if m:
            base, w = m.group(1), float(m.group(2))
            if w <= 0:
                raise ValueError(f"boost must be > 0: {clause!r}")
        else:
            base, w = clause, 1.0
        parts.append(base)
        for t in tokenize(base):
            if t in weights and weights[t] != w:
                raise ValueError(f"conflicting boosts for term {t!r}")
            weights[t] = w
    return " ".join(parts), {t: w for t, w in weights.items()
                             if w != 1.0}


def _boosted(qmeta: list[dict], boosts: dict[str, float],
             scorer: str) -> list[dict]:
    """Fold boosts into qmeta's idf — the one number every scoring
    and bounding path multiplies by: exact scores, TAAT partials,
    block-max/max-score upper bounds (w > 0 keeps them upper bounds,
    scaled linearly), quantized impacts. BM25-only: QL's decomposition
    has no per-term linear factor to scale."""
    if not boosts:
        return qmeta
    if scorer != "bm25":
        raise ValueError("term boosts are defined for bm25 (QL's "
                         "Dirichlet decomposition has no per-term "
                         "linear weight)")
    return [dict(m, idf=m["idf"] * boosts.get(m["term"], 1.0))
            for m in qmeta]


def query_meta(index: Index, query: str, scorer: str = "bm25",
               boosts: dict[str, float] | None = None
               ) -> tuple[str, list[dict]]:
    """(query without ^ boosts, boosted qmeta) after checking the
    scorer. Programmatic `boosts` (prf_search expansion terms) merge
    with the parsed ^ boosts; conflicts raise."""
    if scorer not in ("bm25", "ql", "jm"):
        raise ValueError(f"unknown scorer {scorer!r}: bm25|ql|jm")
    if scorer in ("ql", "jm") and index.quantized:
        raise ValueError("quantized indexes store 7-bit impacts, not "
                         "term frequencies; QL/JM need tf — rebuild "
                         "with quantize=False")
    query, parsed = _parse_boosts(query)
    for t, w in (boosts or {}).items():
        if w <= 0:
            raise ValueError(f"boost must be > 0: {t!r}")
        if parsed.get(t, w) != w:
            raise ValueError(f"conflicting boosts for term {t!r}")
        parsed[t] = float(w)
    return query, _boosted(index.lookup_query(query), parsed, scorer)


def search(index: Index, query: str, k: int = 10,
           mode: str = "wand", scorer: str = "bm25",
           local: bool | None = None,
           doc_filter: str | None = None,
           exclude_terms: str | None = None,
           boosts: dict[str, float] | None = None) -> DataFrame:
    """Top-k (doc_id, score); mode in {taat, daat, wand, maxscore}
    (Q3/Q4/Q5 — wand prunes per block via doc-range-aligned rest
    bounds, maxscore via the Turtle-Flood essential-list partition on
    term-level bounds; both lossless, both bit-identical to daat),
    scorer in {bm25, ql, jm} (Q1/Q2). Pruning bounds are scorer-aware:
    bm25 uses the stored per-block max tf_norm (block-max WAND); ql/jm
    use sound term-level bounds from tf <= dl and tf <= cf, with QL's
    doc-level adjustment folded into the threshold — all lossless
    (tested bit-identical to exhaustive daat per scorer).

    doc_filter: optional SQL boolean expression over the docs table
    (doc_id, url, doc_len, partition_id) — FILTERED retrieval: top-k is
    taken over the predicate-passing subset only, with scores computed
    from the GLOBAL collection stats (a doc's score is identical
    filtered or unfiltered; the filter changes selection, not scoring —
    the training-data-pipeline shape "top-k within this slice").
    Catalyst pushes doc_id/partition_id predicates into the
    dir-partitioned docs scan. Runs on the distributed cogroup path
    (daat/wand/maxscore/and; taat and local=True raise).

    query may carry Lucene-style term boosts ('jaguar^2 speed'): the
    boost scales that term's contribution (w * idf * tf_norm) in both
    scores and pruning bounds — every mode stays lossless and
    bit-identical across paths (bm25 only).

    exclude_terms: boolean NOT — docs containing ANY of these terms
    are dropped from selection (Lucene MUST_NOT). Scoring is over the
    positive terms with global stats, so a surviving doc scores
    identically with or without the exclusion; pruning stays lossless
    (removing docs can't raise any bound). Excluded terms absent from
    the lexicon are no-ops (like OOV query terms); a term appearing on
    both sides raises. Scale shape: the excluded terms' postings ride
    the SAME pruned postings scan into each shard task and are masked
    shard-locally — no global excluded-doc set is ever built.

    local: None (default) auto-routes small queries through the
    driver-side kernel (see config.LOCAL_QUERY_MAX_POSTINGS — per-query
    milliseconds once the term blocks are cached, the irk-query
    single-node serving analog); False forces the distributed path;
    True requires the local path (raises when the query exceeds the
    gate). TAAT always runs distributed (it is the SQL-shaped path)."""
    if mode not in ("taat", "daat", "wand", "maxscore", "and"):
        raise ValueError(f"unknown mode {mode!r}: "
                         "taat|daat|wand|maxscore|and")
    query, qmeta = query_meta(index, query, scorer, boosts)
    if not qmeta:
        return index.spark.createDataFrame([], TOPK_SCHEMA)
    neg_meta: list[dict] = []
    if exclude_terms:
        if "*" in exclude_terms:
            raise ValueError(
                "wildcards in exclude_terms need an explicit rewrite "
                "— use prefix_search(exclude_terms=...), which "
                "expands them under the same deterministic cap")
        overlap = set(tokenize(query)) & set(tokenize(exclude_terms))
        if overlap:
            raise ValueError(
                f"terms {sorted(overlap)} appear in both query and "
                "exclude_terms — a term cannot be required and "
                "forbidden at once")
        neg_meta = index.lookup_query(exclude_terms)
    neg_tids = frozenset(m["term_id"] for m in neg_meta)
    dl_bc, del_bc, del_over_gate = serving_gates(
        index, with_dl=doc_filter is None)

    if doc_filter is not None:
        if mode == "taat":
            raise ValueError("doc_filter needs the per-shard kernel "
                             "path — use daat/wand/maxscore/and")
        if local:
            raise ValueError("doc_filter runs distributed (the "
                             "predicate is evaluated on the docs "
                             "table); local=True is not available")
    elif mode != "taat" and local is not False:
        fits = fits_local(index, sum(m["df"] for m in qmeta + neg_meta),
                          del_over_gate)
        if local and not fits:
            raise ValueError(
                "local=True but the query exceeds the driver-kernel "
                "gate (sum df > LOCAL_QUERY_MAX_POSTINGS, doc lengths "
                "above the broadcast cap, or a tombstone set above "
                "DEL_BROADCAST_MAX)")
        if fits:
            return _search_local(index, qmeta, k, mode, scorer,
                                 del_bc=del_bc, neg_meta=neg_meta)
    elif local:
        raise ValueError("local=True is not available for mode='taat'")

    tids = [m["term_id"] for m in qmeta] + list(neg_tids)
    qpost = index.postings.filter(F.col("term_id").isin(tids))

    if mode == "taat":
        # NOT on the SQL-shaped path: decoded excluded doc ids
        # anti-joined out before the final top-k (postings of the
        # excluded terms only — one pruned scan, no corpus pass)
        pos_tids = [m["term_id"] for m in qmeta]
        neg_docs = (_neg_docs_df(index, neg_tids)
                    if neg_tids else None)
        return _taat_from_index(
            index, qmeta,
            qpost.filter(F.col("term_id").isin(pos_tids)),
            k, scorer, neg_docs=neg_docs)

    kern = _shard_kernel(qmeta, index.avgdl, index.codec, k,
                         index.docs_per_shard, mode, scorer,
                         index.coll_len, index.bound_slack,
                         index.quantized, dl_bc=dl_bc,
                         restrict=doc_filter is not None or del_over_gate,
                         del_bc=del_bc, neg_tids=neg_tids)
    out = shard_plan(index, qpost, kern, TOPK_SCHEMA, dl_bc, doc_filter,
                     del_over_gate)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def batch_search(index: Index, queries: dict[str, str] | list[str],
                 k: int = 10, mode: str = "wand",
                 scorer: str = "bm25",
                 doc_filter: str | None = None) -> DataFrame:
    """Top-k for a whole QUERY SET: (query_id, doc_id, score), k rows
    per query, same rows as per-query search().

    The irk-query batch/TREC-run shape ([pub:tools/irk-query.cpp]
    processes a query file). Two routes, picked by the gate
    search(local=None) uses (fits_local), applied to the driver route's
    work: the queries are swept one after another on one driver core,
    so the set fits when the sum over its queries of each query's
    summed df does — the bound one query gets, not the union's:
      * the set fits and there is no doc_filter: the driver kernel —
        one _local_postings call for the union of the set's terms (one
        collect at most, none when warm), then each query's driver
        shard sweep over the handle's decoded-block cache, merged k
        per query: zero Spark jobs once warm;
      * otherwise one distributed pass: ALL queries' terms prune ONE
        postings scan, each shard task scores every query against its
        resident sub-lists (one decoded-block cache across the task's
        queries), and a k-per-query merge finishes the run — on the
        driver below _BATCH_DRIVER_MAX candidate rows, else a
        distributed window. Per-query jobs would cost a fixed ~1-2s of
        scheduling each; this pass scales with shards, not |queries|.

    queries: dict {query_id: text} or list of texts (ids = list
    index as string). OOV-only queries yield no rows (P3).

    doc_filter: optional SQL predicate over the docs table — the whole
    run restricted to a doc slice (see search(doc_filter=); forces the
    distributed cogroup path, same lossless-subset semantics)."""
    from pyspark.sql import Window
    if mode not in ("daat", "wand", "maxscore", "and"):
        raise ValueError(f"batch_search supports daat|wand|maxscore|"
                         f"and, not {mode!r}")
    if isinstance(queries, list):
        queries = {str(i): q for i, q in enumerate(queries)}
    qmetas = {qid: query_meta(index, q, scorer)[1]
              for qid, q in queries.items()}
    qmetas = {qid: m for qid, m in qmetas.items() if m}
    spark = index.spark
    out_schema = "query_id string, doc_id long, score double"
    if not qmetas:
        return spark.createDataFrame([], out_schema)
    dl_bc, del_bc, del_over_gate = serving_gates(
        index, with_dl=doc_filter is None)
    kerns = {qid: _shard_kernel(qm, index.avgdl, index.codec, k,
                                index.docs_per_shard, mode, scorer,
                                index.coll_len, index.bound_slack,
                                index.quantized, dl_bc=dl_bc,
                                restrict=(doc_filter is not None
                                          or del_over_gate),
                                del_bc=del_bc)
             for qid, qm in qmetas.items()}
    tids_by_qid = {qid: {m["term_id"] for m in qm}
                   for qid, qm in qmetas.items()}
    set_meta = {m["term_id"]: m for qm in qmetas.values() for m in qm}
    if doc_filter is None and fits_local(
            index, sum(m["df"] for qm in qmetas.values() for m in qm),
            del_over_gate):
        by_tid = index._local_postings(list(set_meta.values()))
        parts = [p.assign(query_id=qid)
                 for qid, kern in kerns.items()
                 for p in local_sweep(
                     index, kern, {t: by_tid[t] for t in tids_by_qid[qid]},
                     mode, k)]
        return merge_topk(spark, parts, k, group="query_id")
    qpost = index.postings.filter(F.col("term_id").isin(sorted(set_meta)))

    def run_all(pdf: pd.DataFrame,
                docs_pdf: pd.DataFrame | None = None) -> pd.DataFrame:
        outs = []
        # ONE decoded-block cache for every query in this shard task:
        # cache keys are (term_id, block_ix) and two queries sharing a
        # term see the same postings row, so a block decoded for one
        # query serves all later ones (queries in a TREC run share head
        # terms heavily; previously each kernel call decoded its terms
        # from scratch)
        dc: dict = {}
        for qid, kern in kerns.items():
            sub = pdf[pdf["term_id"].isin(tids_by_qid[qid])]
            r = kern(sub, docs_pdf, decoded_cache=dc)
            if len(r):
                outs.append(r.assign(query_id=qid))
        if not outs:
            return pd.DataFrame({"query_id": pd.Series([], dtype="object"),
                                 "doc_id": pd.Series([], dtype="int64"),
                                 "score": pd.Series([], dtype="float64")})
        return pd.concat(outs, ignore_index=True)[
            ["query_id", "doc_id", "score"]]

    local = shard_plan(index, qpost, run_all, out_schema, dl_bc,
                       doc_filter, del_over_gate)
    # global k-per-query merge. The shard tasks emit <= k rows per
    # (query, shard), so below _BATCH_DRIVER_MAX candidate rows the
    # merge runs on the driver (the selective/tiered pattern): one
    # collect instead of window-exchange + sort, which cost an extra
    # AQE job + shuffle per batch run. Above the gate (a 10^5-query
    # TREC run over 10^4 shards) the distributed window remains.
    n_shards = int(index.stats.get("n_shards", 0) or 0)
    if n_shards and len(qmetas) * k * n_shards <= _BATCH_DRIVER_MAX:
        return merge_topk(spark, [local.toPandas()], k, group="query_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (local.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k).drop("__rk")
            .orderBy("query_id", F.desc("score"), F.asc("doc_id")))


def _neg_docs_df(index: Index, neg_tids: frozenset) -> DataFrame:
    """Distinct doc ids carrying ANY of the excluded terms — one
    pruned postings scan of just those terms, decoded in-task (the
    TAAT-path form of the kernel modes' shard-local NOT mask)."""
    codec = index.codec
    npost = index.postings.filter(
        F.col("term_id").isin(list(neg_tids)))

    def dec(batches):
        for pdf in batches:
            outs = [pd.DataFrame(
                {"doc_id": _decode_row_blocks(
                    list(r["blocks"]), codec)[0].astype(np.int64)})
                for _, r in pdf.iterrows()]
            yield (pd.concat(outs, ignore_index=True) if outs else
                   pd.DataFrame({"doc_id": pd.Series([],
                                                     dtype="int64")}))

    return (npost.select("blocks")
            .mapInPandas(dec, "doc_id long").distinct())


def with_doc_len(index: Index, df: DataFrame) -> DataFrame:
    """Attach doc_len to a frame of doc_id rows on the SQL-shaped
    paths (TAAT, synonyms): through the gated per-shard broadcast when
    it fits (no docs-table shuffle join per query — same gate the
    kernel modes use), else the docs-table join."""
    dl_bc = index.doc_len_broadcast()
    if dl_bc is None:
        return df.join(index.docs.select("doc_id", "doc_len"), "doc_id")
    dps = index.docs_per_shard

    @F.pandas_udf("int")
    def _dl(doc_id: pd.Series) -> pd.Series:
        # -1 marks docs whose shard is absent from the broadcast; the
        # filter below drops them, matching the join path's inner-join
        # semantics instead of scoring with dl=0 (ADVICE r3). A doc
        # present in the arrays but with dl=0 cannot carry postings
        # (dl >= tf >= 1), so dl<=0 always means "not in the docs
        # table".
        arrs = dl_bc.value
        d = doc_id.to_numpy()
        out = np.full(d.size, -1, dtype=np.int32)
        for s in np.unique(d // dps):
            m = (d // dps) == s
            a = arrs.get(int(s))
            if a is not None:
                out[m] = a[d[m] - int(s) * dps]
        return pd.Series(out)

    return (df.withColumn("doc_len", _dl(F.col("doc_id")))
            .filter(F.col("doc_len") > 0))


def anti_join_deleted(index: Index, df: DataFrame) -> DataFrame:
    """Tombstones out of a per-doc aggregate on the SQL-shaped paths
    (selection-only: per-doc sums are untouched, so surviving scores
    are identical with or without the drop — the same contract as the
    kernel modes' `valid` mask). Anti-join, broadcast when the set
    fits the gate."""
    if not index.has_deletions():
        return df
    dels = index.deletions_df().select("doc_id")
    if index.deletions_broadcast() is not None:
        dels = F.broadcast(dels)
    return df.join(dels, "doc_id", "left_anti")


def _taat_from_index(index: Index, qmeta, qpost: DataFrame,
                     k: int, scorer: str = "bm25",
                     neg_docs: DataFrame | None = None) -> DataFrame:
    """TAAT (Q3/A4): decode -> per-posting partial scores -> JVM-side
    groupBy(doc_id).sum -> top-k. The SQL-shaped path.

    The partial is computed INSIDE the decode stage whenever its
    inputs are task-resident (idf from qmeta; doc_len from the gated
    per-shard broadcast; nothing for quantized/QL partials): the
    posting stream then crosses Python->JVM once as (doc_id, partial)
    straight into the hash aggregate, instead of the previous
    decode -> JVM -> second pandas_udf (doc_len) -> join(idf) chain —
    two full Arrow round-trips over every posting of the query's
    terms, which dominated TAAT wall (VERDICT r4: 4-6s vs ~1s for the
    kernel modes). numpy mirrors the SQL expression's exact IEEE op
    order ((idf*tf)/denom, denom = tf + k1*((1-b) + (b*dl)/avgdl)),
    so scores are bit-identical to the join-path form that the DuckDB
    oracle reproduces. Above DL_BROADCAST_MAX the docs-table join
    path below is unchanged (web scale: no driver-sized doc-length
    array exists — the join is the correct shuffle)."""
    avgdl, codec = index.avgdl, index.codec
    dps = index.docs_per_shard
    idf_by_tid = {m["term_id"]: m["idf"] for m in qmeta}
    k1, b = config.BM25_K1, config.BM25_B
    quantized = index.quantized
    dl_bc = index.doc_len_broadcast()
    mu = config.QL_MU
    p_by_tid = {m["term_id"]: m["cf"] / index.coll_len for m in qmeta}
    jm_c = (1.0 - config.JM_LAMBDA) / config.JM_LAMBDA
    fused = scorer == "ql" or quantized or dl_bc is not None

    def decode_rows(pdf):
        """One (doc_id, tf, partition_id) triple-array per postings
        row batch, decoded via the batch codec path."""
        for _, r in pdf.iterrows():
            d, t = _decode_row_blocks(list(r["blocks"]), codec)
            yield (int(r["term_id"]), int(r["partition_id"]),
                   d.astype(np.int64), t.astype(np.int64))

    def decode_partials_fused(batches):
        for pdf in batches:
            outs = []
            for tid, shard, d, t in decode_rows(pdf):
                if scorer == "ql":
                    part = np.log1p(t / (mu * p_by_tid[tid]))
                elif scorer == "jm":
                    arrs = dl_bc.value
                    a = arrs.get(shard)
                    if a is None:       # shard absent: inner-join drop
                        continue
                    dl = a[d - shard * dps].astype(np.float64)
                    keep = dl > 0
                    if not keep.all():
                        d, t, dl = d[keep], t[keep], dl[keep]
                    part = np.log1p(jm_c * t / (dl * p_by_tid[tid]))
                elif quantized:
                    part = idf_by_tid[tid] * t / 127.0
                else:
                    arrs = dl_bc.value
                    a = arrs.get(shard)
                    if a is None:       # shard absent: inner-join drop
                        continue
                    dl = a[d - shard * dps].astype(np.float64)
                    keep = dl > 0
                    if not keep.all():
                        d, t, dl = d[keep], t[keep], dl[keep]
                    part = idf_by_tid[tid] * t / (
                        t + k1 * (1.0 - b + b * dl / avgdl))
                outs.append(pd.DataFrame({"doc_id": d,
                                          "partial": part}))
            yield (pd.concat(outs, ignore_index=True) if outs else
                   pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                 "partial": pd.Series([],
                                                      dtype="float64")}))

    def decode_partials(batches):
        for pdf in batches:
            outs = []
            for tid, _shard, d, t in decode_rows(pdf):
                outs.append(pd.DataFrame({
                    "doc_id": d,
                    "term_id": np.full(d.size, tid, dtype=np.int32),
                    "tf": t}))
            yield (pd.concat(outs, ignore_index=True) if outs else
                   pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                 "term_id": pd.Series([], dtype="int32"),
                                 "tf": pd.Series([], dtype="int64")}))

    if fused:
        flat = qpost.mapInPandas(decode_partials_fused,
                                 "doc_id long, partial double")
    else:
        flat = qpost.mapInPandas(decode_partials,
                                 "doc_id long, term_id int, tf long")

    def drop_deleted(df: DataFrame) -> DataFrame:
        # exclude_terms docs out AFTER the per-doc aggregate, like the
        # tombstones (selection-only)
        if neg_docs is not None:
            df = df.join(neg_docs, "doc_id", "left_anti")
        return anti_join_deleted(index, df)

    if scorer == "ql":
        nq = len(qmeta)
        ql_k = float(np.sum(np.log(
            [mu * m["cf"] / index.coll_len for m in qmeta])))
        # fused always holds for ql (the partial needs no doc_len);
        # the per-doc adjustment joins doc_len AFTER the aggregate —
        # distinct docs only
        return (drop_deleted(with_doc_len(
                    index, flat.groupBy("doc_id")
                    .agg(F.sum("partial").alias("s"))))
                .withColumn("score",
                            F.col("s") + ql_k
                            - nq * F.log(F.col("doc_len") + mu))
                .select("doc_id", "score")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
    if fused:
        scored = flat
    elif scorer == "jm":
        # above the doc-length broadcast gate: docs-table join path,
        # per-term p_t rides a broadcast (query-sized)
        p_df = index.spark.createDataFrame(
            [(m["term_id"], p_by_tid[m["term_id"]]) for m in qmeta],
            "term_id int, p double")
        scored = (with_doc_len(index, flat)
                  .join(F.broadcast(p_df), "term_id")
                  .withColumn("partial",
                              F.log1p(jm_c * F.col("tf")
                                      / (F.col("doc_len")
                                         * F.col("p")))))
    else:
        # above the doc-length broadcast gate: docs-table join path
        idf_df = index.spark.createDataFrame(
            [(m["term_id"], m["idf"]) for m in qmeta],
            "term_id int, idf double")
        scored = (with_doc_len(index, flat)
                  .join(F.broadcast(idf_df), "term_id")
                  .withColumn("partial",
                              F.col("idf") * F.col("tf")
                              / (F.col("tf") + k1 * (1.0 - b + b
                                                     * F.col("doc_len")
                                                     / avgdl))))
    return (drop_deleted(scored.groupBy("doc_id")
                         .agg(F.sum("partial").alias("score")))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


# §3.3 prefix / wildcard queries (the capability behind irkit's
# Hu-Tucker-coded prefix map, SURVEY.md §2.8 C5: the reference keeps a
# prefix-searchable lexicon; here the sorted parquet terms table + a
# Catalyst StartsWith pushdown — or the vocab-gated driver dict — is
# that structure, so the n/a-by-design row gets a real query surface).

_WILDCARD_RE = r"^[a-z0-9]+\*?$"


def expand_wildcards(index: Index, query: str,
                     max_expansions: int = 32) -> tuple[str, dict]:
    """Expand trailing-* tokens ('mer* window') against the index
    lexicon. Each wildcard becomes its matching terms, capped at
    `max_expansions` picked by (df DESC, term ASC) — the deterministic
    Lucene-style rewrite cap (highest-df expansions dominate a
    disjunctive score, so they are the ones worth keeping; ties break
    on the term string). Plain tokens pass through; a wildcard
    matching nothing expands to nothing (dropped like any OOV term).

    Returns (expanded query string, {pattern: [terms...]}).

    Bare '*' is refused: an unanchored expansion is the whole vocab —
    at web scale that is a full-lexicon disjunction, never what a
    caller wants. Scale shape: below BROADCAST_VOCAB_MAX expansion is
    a driver-dict scan (zero Spark jobs, the serving path); above it,
    one pruned terms-table filter per pattern — StartsWith pushes into
    the parquet scan, so only matching row groups are read."""
    import re

    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    toks = query.lower().split()
    if not toks:
        return "", {}
    plain: list[str] = []
    patterns: list[str] = []
    for t in toks:
        if not re.match(_WILDCARD_RE, t):
            raise ValueError(
                f"bad query token {t!r}: tokens are [a-z0-9]+ with an "
                "optional single trailing '*' (bare '*' would expand "
                "to the entire lexicon)")
        (patterns if t.endswith("*") else plain).append(t)
    expansions: dict[str, list[str]] = {}
    if patterns:
        td = index._terms_dict()
        for pat in sorted(set(patterns)):
            pre = pat[:-1]
            if td is not None:
                hits = [(term, v[1]) for term, v in td.items()
                        if term.startswith(pre)]
                hits.sort(key=lambda h: (-h[1], h[0]))
                expansions[pat] = [t for t, _ in hits[:max_expansions]]
            else:
                rows = (index.terms
                        .filter(F.col("term").startswith(pre))
                        .orderBy(F.desc("df"), F.asc("term"))
                        .limit(max_expansions)
                        .select("term").collect())
                expansions[pat] = [r["term"] for r in rows]
    terms = sorted(set(plain).union(
        t for ts in expansions.values() for t in ts))
    return " ".join(terms), expansions


def prefix_search(index: Index, query: str, k: int = 10,
                  mode: str = "wand", scorer: str = "bm25",
                  local: bool | None = None,
                  doc_filter: str | None = None,
                  exclude_terms: str | None = None,
                  max_expansions: int = 32) -> DataFrame:
    """search() over a query with trailing-* wildcards: expand against
    the lexicon (expand_wildcards), then run the standard disjunctive
    scoring over the expanded term set — the scoring rewrite (all
    pruning modes stay lossless: expanded terms are ordinary terms
    with ordinary bounds). A query whose wildcards all miss returns
    empty, like an all-OOV plain query."""
    expanded, _ = expand_wildcards(index, query, max_expansions)
    if not expanded:
        return index.spark.createDataFrame([], TOPK_SCHEMA)
    if exclude_terms and "*" in exclude_terms:
        exclude_terms, _ = expand_wildcards(index, exclude_terms,
                                            max_expansions)
    return search(index, expanded, k=k, mode=mode, scorer=scorer,
                  local=local, doc_filter=doc_filter,
                  exclude_terms=exclude_terms or None)


# §3.3b fuzzy queries (Lucene `term~` / `term~2` syntax):
# edit-distance-1/2 expansion against the lexicon — the typo-tolerant rewrite Lucene
# serves with an FST/Levenshtein-automaton intersection. Here the
# lexicon IS the sorted terms table, so the rewrite is one narrow
# vocab-sized scan with a JVM-side levenshtein predicate (vocab is
# bounded by language, not corpus: ~10^7-10^8 terms even at 10^12
# docs, i.e. a few seconds of executor-parallel scan worst case), or a
# zero-job driver-dict pass below BROADCAST_VOCAB_MAX — the same two
# tiers every other lexicon lookup in this file uses. The verify
# predicate is classic Levenshtein (insert/delete/substitute, NO
# transposition), identical in Spark (F.levenshtein) and DuckDB
# (levenshtein()), which is what makes the whole path exactly
# DuckDB-oracle-able.

_FUZZY_RE = r"^[a-z0-9]+(~[12]?)?$"
_MAX_FUZZY_LEN = 64     # a "token" longer than this is not a typo fix


def _lev1(a: str, b: str) -> bool:
    """Exact Levenshtein(a, b) <= 1 without the DP table (threshold-1
    special case): equal lengths -> at most one substitution; lengths
    off by one -> the longer equals the shorter with one insertion.
    Semantics pinned to F.levenshtein/DuckDB levenshtein by the
    property test in tests/test_fuzzy.py."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def _lev_le(a: str, b: str, k: int) -> bool:
    """Exact Levenshtein(a, b) <= k (classic insert/delete/substitute,
    no transposition) via the k-banded DP row — O(len * k) and early
    exit when a whole row exceeds k. Pinned to F.levenshtein/DuckDB by
    the same property test as _lev1."""
    if k == 1:
        return _lev1(a, b)
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        lo = max(1, i - k)
        hi = min(lb, i + k)
        if lo > 1:
            cur[lo - 1] = k + 1
        best = cur[0] if lo == 1 else k + 1
        for j in range(lo, hi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
            best = min(best, cur[j])
        if hi < lb:
            cur[hi + 1:] = [k + 1] * (lb - hi)
        if best > k:
            return False
        prev = cur
    return prev[lb] <= k


def expand_fuzzy(index: Index, query: str,
                 max_expansions: int = 8) -> tuple[str, dict]:
    """Expand trailing-~ tokens ('jon~ value') to every lexicon term
    within the token's Levenshtein budget — '~'/'~1' = distance 1,
    '~2' = distance 2 (the Lucene FuzzyQuery syntax) — capped at
    `max_expansions` per pattern picked by (df DESC, term ASC), the
    same deterministic rewrite cap the wildcard path uses. An in-vocab
    fuzzy token keeps itself (distance 0). Plain tokens pass through;
    a fuzzy token matching nothing expands to nothing (dropped like
    any OOV term).

    Returns (expanded query string, {pattern: [terms...]}) with the
    pattern keys exactly as written in the query.

    Scale shape: below BROADCAST_VOCAB_MAX the expansion is a driver-
    dict scan with a length pre-filter (zero Spark jobs warm — the
    serving path); above it, ONE narrow terms-table scan for the whole
    query (all patterns ranked in the same pass via a per-pattern
    window), never a scan per pattern."""
    import re

    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    toks = query.lower().split()
    if not toks:
        return "", {}
    plain: list[str] = []
    pats: dict[str, tuple[str, int]] = {}   # written form -> (word, k)
    for t in toks:
        if not re.match(_FUZZY_RE, t) or len(t) > _MAX_FUZZY_LEN + 2:
            raise ValueError(
                f"bad query token {t!r}: tokens are [a-z0-9]+ (max "
                f"{_MAX_FUZZY_LEN} chars) with an optional trailing "
                "'~', '~1' or '~2'")
        if "~" in t:
            word, _, suf = t.partition("~")
            pats[t] = (word, int(suf) if suf else 1)
        else:
            plain.append(t)
    expansions: dict[str, list[str]] = {}
    if pats:
        td = index._terms_dict()
        if td is not None:
            for written in sorted(pats):
                word, k = pats[written]
                hits = [(term, v[1]) for term, v in td.items()
                        if _lev_le(word, term, k)]
                hits.sort(key=lambda h: (-h[1], h[0]))
                expansions[written] = [t for t, _ in
                                       hits[:max_expansions]]
        else:
            from pyspark.sql import Window
            pat_df = F.explode(F.array(*[
                F.struct(F.lit(w).alias("pattern"),
                         F.lit(k).alias("maxe"))
                for w, k in sorted(set(pats.values()))])).alias("p")
            cand = (index.terms
                    .select("term", "df", pat_df)
                    .select("term", "df", "p.pattern", "p.maxe")
                    .filter(
                        (F.abs(F.length("term") - F.length("pattern"))
                         <= F.col("maxe"))
                        & (F.levenshtein("term", "pattern")
                           <= F.col("maxe"))))
            w = Window.partitionBy("pattern", "maxe").orderBy(
                F.desc("df"), F.asc("term"))
            rows = (cand.withColumn("r", F.row_number().over(w))
                    .filter(F.col("r") <= max_expansions)
                    .select("pattern", "maxe", "term", "r").collect())
            for written in sorted(pats):
                word, k = pats[written]
                hits = sorted((r["r"], r["term"]) for r in rows
                              if r["pattern"] == word
                              and r["maxe"] == k)
                expansions[written] = [t for _, t in hits]
    terms = sorted(set(plain).union(
        t for ts in expansions.values() for t in ts))
    return " ".join(terms), expansions


def fuzzy_search(index: Index, query: str, k: int = 10,
                 mode: str = "wand", scorer: str = "bm25",
                 local: bool | None = None,
                 doc_filter: str | None = None,
                 exclude_terms: str | None = None,
                 max_expansions: int = 8) -> DataFrame:
    """search() over a query with trailing ~/~1/~2 fuzzy tokens:
    expand to the edit-distance lexicon neighborhood (expand_fuzzy),
    then run
    the standard disjunctive scoring over the expanded term set.
    Expansions are ordinary terms with ordinary bounds, so every
    pruning mode stays lossless; a query whose fuzzy tokens all miss
    returns empty, like an all-OOV plain query. Expansions are
    unweighted (rank-deterministic and SQL-reproducible); callers
    wanting Lucene's similarity-decayed weighting can rewrite the
    expanded string with explicit `term^w` boosts."""
    expanded, _ = expand_fuzzy(index, query, max_expansions)
    if not expanded:
        return index.spark.createDataFrame([], TOPK_SCHEMA)
    if exclude_terms and "~" in exclude_terms:
        exclude_terms, _ = expand_fuzzy(index, exclude_terms,
                                        max_expansions)
    return search(index, expanded, k=k, mode=mode, scorer=scorer,
                  local=local, doc_filter=doc_filter,
                  exclude_terms=exclude_terms or None)


def expand_regex(index: Index, pattern: str,
                 max_expansions: int = 32) -> list[str]:
    """Lexicon terms fully matching `pattern` (anchored both ends, the
    Lucene RegexpQuery convention), picked by (df DESC, term ASC) and
    capped at `max_expansions`.

    Write patterns in the RE2 / Java-regex / Python-re common subset
    (character classes, alternation, bounded repeats — no lookaround,
    no backrefs): below the vocab gate the scan is a driver-dict
    Python-re pass (zero Spark jobs, the serving path); above it one
    terms-table rlike filter (vocab-sized scan — regex cannot push
    into parquet the way StartsWith does, which is why prefix_search
    stays the preferred rewrite when a prefix suffices)."""
    import re

    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    if not pattern or pattern in (".*", ".+"):
        raise ValueError("pattern would match the entire lexicon — "
                         "anchor it to something")
    rx = re.compile(pattern)        # raises on bad syntax, driver-side
    td = index._terms_dict()
    if td is not None:
        hits = [(term, v[1]) for term, v in td.items()
                if rx.fullmatch(term)]
        hits.sort(key=lambda h: (-h[1], h[0]))
        return [t for t, _ in hits[:max_expansions]]
    rows = (index.terms
            .filter(F.col("term").rlike(f"^({pattern})$"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term").collect())
    return [r["term"] for r in rows]


def regex_search(index: Index, pattern: str, k: int = 10,
                 mode: str = "wand", scorer: str = "bm25",
                 local: bool | None = None,
                 doc_filter: str | None = None,
                 exclude_terms: str | None = None,
                 max_expansions: int = 32) -> DataFrame:
    """search() over the terms matching a regex (Lucene RegexpQuery
    analog): expand_regex, then the standard disjunctive scoring.
    Expansions are ordinary terms with ordinary bounds, so every
    pruning mode stays lossless; a pattern matching nothing returns
    empty, like an all-OOV plain query."""
    terms = expand_regex(index, pattern, max_expansions)
    if not terms:
        return index.spark.createDataFrame([], TOPK_SCHEMA)
    return search(index, " ".join(sorted(set(terms))), k=k, mode=mode,
                  scorer=scorer, local=local, doc_filter=doc_filter,
                  exclude_terms=exclude_terms or None)


def suggest(index: Index, word: str, n: int = 5,
            max_edit: int = 1) -> DataFrame:
    """Did-you-mean: the lexicon terms within edit distance
    `max_edit` (1 or 2) of `word`, most-frequent first — (term, df)
    ordered by (df DESC, term ASC), capped at n. Same two-tier shape
    as expand_fuzzy; always returns a DataFrame (driver hits are
    lifted back into one) so callers and the driver contract see one
    interface."""
    import re

    if not re.match(r"^[a-z0-9]+$", word) or len(word) > _MAX_FUZZY_LEN:
        raise ValueError(f"bad word {word!r}: [a-z0-9]+ only, max "
                         f"{_MAX_FUZZY_LEN} chars")
    if n < 1:
        raise ValueError("n must be >= 1")
    if max_edit not in (1, 2):
        raise ValueError("max_edit must be 1 or 2")
    td = index._terms_dict()
    if td is not None:
        hits = [(term, int(v[1])) for term, v in td.items()
                if _lev_le(word, term, max_edit)]
        hits.sort(key=lambda h: (-h[1], h[0]))
        return index.spark.createDataFrame(
            hits[:n], "term string, df long")
    return (index.terms
            .filter((F.abs(F.length("term") - len(word)) <= max_edit)
                    & (F.levenshtein("term", F.lit(word)) <= max_edit))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n))


def autocomplete(index: Index, prefix: str, n: int = 10) -> DataFrame:
    """Search-box completion: the n most-frequent lexicon terms
    extending `prefix` — (term, df) by (df DESC, term ASC). Same
    two-tier shape as expand_wildcards' single-pattern case (driver
    dict scan, or one StartsWith-pushed terms filter), lifted to a
    DataFrame for a uniform interface."""
    import re

    if not re.match(r"^[a-z0-9]+$", prefix):
        raise ValueError(f"bad prefix {prefix!r}: [a-z0-9]+ only")
    if n < 1:
        raise ValueError("n must be >= 1")
    td = index._terms_dict()
    if td is not None:
        hits = [(term, int(v[1])) for term, v in td.items()
                if term.startswith(prefix)]
        hits.sort(key=lambda h: (-h[1], h[0]))
        return index.spark.createDataFrame(
            hits[:n], "term string, df long")
    return (index.terms
            .filter(F.col("term").startswith(prefix))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n))
