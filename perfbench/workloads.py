"""The two workloads. Each is one closed-loop client (the next call
starts when the previous one returns) against one local Spark session.

Both report the same end-to-end metrics with the same meaning; what
differs is how documents become searchable and how warm the caches are
when queries arrive:

  build   whole-corpus rebuilds (build_index + build_positions), then
          read-only serving of the last build once a warm-up pass has
          filled the driver caches: the cache-fits case.
  ingest  near-real-time micro-batches (dedup_against, process_batch,
          open_segments) with queries right after every write, a
          delete, and a final merge_indexes: the cache-miss case.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               StructField, StructType, TimestampType)

from irkit_spark.functions.extract import extract_text_udf
from irkit_spark.operators.build import build_index
from irkit_spark.operators.delete import delete_docs
from irkit_spark.operators.merge import merge_indexes
from irkit_spark.operators.positions import build_positions, phrase_search
from irkit_spark.operators.query import Index, batch_search, search
from irkit_spark.operators.segments import open_segments
from irkit_spark.operators.validate import verify_index
from irkit_spark.pipeline.dedup import dedup_against
from irkit_spark.plans.dense_ids import dense_id_mapping
from irkit_spark.streaming.ingest import process_batch
from perfbench.trace import TreeCpu

PAGES_SCHEMA = StructType([
    StructField("url", StringType()), StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()), StructField("lang", StringType()),
    StructField("doc_id", LongType())])

# build workload
CORPUS_PAGES = 3000
# The first Spark jobs of a JVM run several times slower than later
# ones (class loading, JIT, Python worker start-up); one build and one
# ingest batch of this size take that cost before the clock starts.
WARM_PAGES = 300
MIN_BUILDS = 1
BATCH_QUERIES = 20         # queries per batch_search call
# a serve cycle: SERVE_CYCLE interactive queries, one batch_search, one
# phrase_search; per-cycle CPU figures are reduced by their median
SERVE_CYCLE = 10
SERVE_QUERIES = 40         # the replayed serve stream (4 cycles)
PHRASES_PER_CYCLE = 1
# ingest workload
INGEST_PAGES = 600         # pages per micro-batch
NEAR_COPY_SHARE = 0.04     # near-copies of already-ingested pages
INGEST_DOCS_PER_SHARD = 500
MIN_ROUNDS = 1
QUERIES_PER_WRITE = 12
BATCHES_PER_WRITE = 4
CHECK_QUERIES = 2          # sample compared across serving paths


class Failed(Exception):
    pass


def _again(done: int, minimum: int, deadline: float, last_s: float) -> bool:
    """Closed-loop continuation: always reach the minimum count, then
    start another round only if one more of the last round's length
    still ends inside the window."""
    return done < minimum or time.perf_counter() + last_s <= deadline


def _hits(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), round(float(r["score"]), 9))
            for r in df.collect()]


class Workload:
    """Shared plumbing: timed calls, failure counting, samples."""

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.tr = run.tracer
        self.inputs = run.inputs
        self.work = run.work
        self.samples: dict[str, list[float]] = {}
        self.cpu = TreeCpu()
        self.banned: set[int] = set()    # tombstoned doc ids

    def settle(self, quiet_cpu_s: float = 0.05, max_s: float = 5.0):
        """Let the JVM finish background work (garbage collection,
        cleanup of the previous build's shuffles and broadcasts) before
        a window whose CPU is measured: wait until a quarter second
        passes with under quiet_cpu_s CPU used by the process tree."""
        self.spark.sparkContext._jvm.System.gc()
        end = time.perf_counter() + max_s
        while time.perf_counter() < end:
            c0 = self.cpu()
            time.sleep(0.25)
            if self.cpu() - c0 < quiet_cpu_s:
                break

    def add(self, name: str, value: float):
        self.samples.setdefault(name, []).append(value)

    def call(self, name: str, fn, *args, **kw):
        """One attempted library call inside a span; an exception
        counts as a failed call and yields None."""
        self.run.attempted += 1
        with self.tr.span(name) as s:
            try:
                out = fn(*args, **kw)
            except Exception as e:  # keep the closed loop running
                traceback.print_exc()
                self.run.fail(f"{name}: {type(e).__name__}: {e}")
                out = None
        self.last = s
        return out

    def lookup_us(self) -> float:
        """Median driver-side lookup_query time over the query stream."""
        times = []
        for q, _ in self.queries[:200]:
            t = time.perf_counter()
            self.serving.lookup_query(q)
            times.append(time.perf_counter() - t)
        return statistics.median(times) * 1e6

    def check(self, ok: bool, what: str):
        self.run.attempted += 1
        if not ok:
            self.run.fail(f"check failed: {what}")

    def query(self, idx, q: str, k: int):
        """Interactive search with default routing; returns latency."""
        hits = self.call("search", lambda: _hits(search(idx, q, k)))
        if hits is not None:
            self.check(len(hits) <= k
                       and not {d for d, _ in hits} & self.banned,
                       f"search {q!r} k={k}: size or tombstoned id")
        return self.last.seconds

    def open_index(self, path: str) -> Index | None:
        def op():
            idx = Index(self.spark, path)
            idx.doc_len_broadcast()
            idx.lookup_query(self.inputs.vocab[0])
            return idx
        return self.call("index_open", op)

    def frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf, PAGES_SCHEMA)

    def dense_ids(self, df):
        """Layer probe: dense_id_mapping over the run's urls."""
        self.call("dense_id_mapping",
                  lambda: dense_id_mapping(df, "url", "doc_id")[1])

    def compare_paths(self, a_idx, b_idx, queries):
        """Interactive top-k on a_idx must equal the forced-distributed
        DAAT top-k on b_idx, query by query."""
        for q in queries:
            a = self.call("search", lambda: _hits(search(a_idx, q, 10)))
            b = self.call("search_distributed", lambda: _hits(
                search(b_idx, q, 10, mode="daat", local=False)))
            self.check(a is not None and a == b,
                       f"interactive vs distributed top-k for {q!r}")
            self.check(not {d for d, _ in (a or [])} & self.banned,
                       f"tombstoned id returned for {q!r}")


class BuildWorkload(Workload):
    def setup(self):
        pages = self.inputs.pages(CORPUS_PAGES)
        self.n_docs = len(pages)
        self.docs_per_shard = CORPUS_PAGES // 8
        self.df = self.frame(pages).cache()
        self.df.count()
        self.queries = self.inputs.queries(SERVE_QUERIES)
        self.phrases = self.inputs.phrases(40)
        self.html_sample = pages["html"].iloc[:500]
        self.tr.request = "warmup"
        warm = self.frame(self.inputs.pages(WARM_PAGES, CORPUS_PAGES))
        self.idx, _ = self.index_round(os.path.join(self.work, "warm"),
                                       warm, WARM_PAGES // 8)

    def index_round(self, path: str, df, docs_per_shard: int):
        t0, c0 = time.perf_counter(), self.cpu()
        m = self.call("build_index", build_index, self.spark, df,
                      path, docs_per_shard=docs_per_shard,
                      text_from_html=True)
        b = self.last.seconds
        src = (df.withColumn("text", extract_text_udf("frozen")(
            F.col("html"))).select("url", "text"))
        self.call("build_positions", build_positions, self.spark, src,
                  path)
        p = self.last.seconds
        cpu_s = self.cpu() - c0
        idx = self.open_index(path)
        if m is None or idx is None:
            raise Failed("index build failed")
        self.query(idx, *self.queries[0])
        return idx, (t0, b + p, cpu_s, m)

    def serve_cycle(self, idx, first: int, n: int, record: bool = True):
        add = self.add if record else (lambda name, value: None)
        c0 = self.cpu()
        for i in range(first, first + n):
            add("query_s", self.query(idx, *self.queries[
                i % len(self.queries)]))
        add("query_cpu_s", (self.cpu() - c0) / n)
        qs = {str(j): self.queries[(first + j) % len(self.queries)][0]
              for j in range(BATCH_QUERIES)}
        c0 = self.cpu()
        rows = self.call("batch_search",
                         lambda: batch_search(idx, qs, 10).collect())
        if rows is not None:
            add("batch_s", self.last.seconds)
            add("batch_cpu_s", self.cpu() - c0)
        for j in range(PHRASES_PER_CYCLE):
            ph = self.phrases[(first // SERVE_CYCLE * PHRASES_PER_CYCLE + j)
                              % len(self.phrases)]
            if self.call("phrase_search",
                         lambda: phrase_search(idx, ph, 10).collect()
                         ) is not None:
                add("phrase_s", self.last.seconds)

    def measure(self, deadline_build: float, deadline: float):
        r, prev, last = 0, os.path.join(self.work, "warm"), 0.0
        self.phases, self.skews = [], []
        while _again(r, MIN_BUILDS, deadline_build, last):
            t = time.perf_counter()
            self.tr.request = f"build{r}"
            path = os.path.join(self.work, f"idx{r}")
            with self.tr.span("round"):
                self.idx, (t0, write_s, cpu_s, m) = self.index_round(
                    path, self.df, self.docs_per_shard)
            self.add("docs_per_s", self.n_docs / write_s)
            self.add("docs_per_cpu_s", self.n_docs / cpu_s)
            self.add("freshness_s", time.perf_counter() - t0)
            self.build_metrics = m
            self.phases.append(m["phases"])
            self.skews.append(m["skew_ratio"])
            shutil.rmtree(prev, ignore_errors=True)
            prev, r, last = path, r + 1, time.perf_counter() - t
        self.path = prev
        self.serving = self.idx
        # one untimed pass over the serve stream fills the driver
        # postings and decoded-block caches; the window replays it
        self.tr.request = "warmup"
        for q, k in self.queries:
            self.query(self.idx, q, k)
        self.serve_cycle(self.idx, 0, 1, record=False)
        self.settle()
        i, last = 0, 0.0
        while _again(i, SERVE_QUERIES, deadline, last):
            self.tr.request = f"serve{i // SERVE_CYCLE}"
            with self.tr.span("round") as sp:
                self.serve_cycle(self.idx, i, SERVE_CYCLE)
            i, last = i + SERVE_CYCLE, sp.seconds

    def verify(self):
        self.tr.request = "verify"
        v = self.call("verify_index", verify_index, self.spark, self.path)
        self.check(v is not None and v["ok"], f"verify_index: {v}")
        cf = self.idx.terms.agg(F.sum("cf")).collect()[0][0]
        dl = self.idx.docs.agg(F.sum("doc_len")).collect()[0][0]
        self.check(cf == dl, f"sum(cf)={cf} != sum(doc_len)={dl}")
        sample = [q for q, _ in self.queries[:CHECK_QUERIES]]
        self.compare_paths(self.idx, self.idx, sample)
        inter = {str(j): self.call("search", lambda: _hits(
            search(self.idx, q, 10))) for j, q in enumerate(sample)}
        rows = self.call("batch_search", lambda: batch_search(
            self.idx, {str(j): q for j, q in enumerate(sample)},
            10).collect())
        got = {}
        for r in rows or []:
            got.setdefault(str(r["query_id"]), []).append(
                (int(r["doc_id"]), round(float(r["score"]), 9)))
        for j in inter:
            got[j] = sorted(got.get(j, []), key=lambda h: (-h[1], h[0]))
        self.check(rows is not None and all(
            got[j] == inter[j] for j in inter),
            "batch_search rows differ from interactive top-k")
        self.dense_ids(self.df)
        self.postings_bytes = _dir_bytes(os.path.join(self.path, "postings"))
        self.positions_bytes = _dir_bytes(
            os.path.join(self.path, "positions"))
        self.total_postings = self.build_metrics["total_postings"]
        self.total_positions = int(dl)


class IngestWorkload(Workload):
    def setup(self):
        self.dir = os.path.join(self.work, "ingest")
        self.queries = self.inputs.queries(400)
        self.qi = 0
        self.next_page = 0
        self.ingested = pd.DataFrame()
        self.old = self.spark.createDataFrame([], "doc_id long, text string")
        self.tr.request = "warmup"
        self.round(WARM_PAGES, 1, 1)

    def batch(self, size: int) -> pd.DataFrame:
        n_near = int(size * NEAR_COPY_SHARE) if len(self.ingested) else 0
        fresh = self.inputs.pages(size - n_near, self.next_page)
        self.next_page += len(fresh)
        if n_near:
            near = self.inputs.near_copies(self.ingested, n_near,
                                           self.next_page)
            self.next_page += n_near
            fresh = pd.concat([fresh, near], ignore_index=True)
        return fresh

    def texts(self, df):
        return df.select("doc_id", extract_text_udf("frozen")(
            F.col("html")).alias("text"))

    def round(self, size: int, n_queries: int, n_batches: int):
        pages = self.batch(size)
        new = self.frame(pages)
        t0, c0 = time.perf_counter(), self.cpu()

        def dedup():
            k = (dedup_against(self.texts(new), self.old)
                 .join(new, "doc_id").select("doc_id", "url", "html")
                 .cache())
            return k, [r[0] for r in k.select("doc_id").collect()]
        kept, kept_ids = self.call("dedup_against", dedup) or (None, None)
        if kept is None:
            raise Failed("dedup failed")
        self.add("kept_ratio", len(kept_ids) / len(pages))
        if self.call("process_batch", process_batch, self.spark,
                     kept.select("url", "html"), self.dir,
                     INGEST_DOCS_PER_SHARD) is None:
            raise Failed("process_batch failed")

        def op():
            seg = open_segments(self.spark, self.dir)
            seg.lookup_query(self.inputs.vocab[0])
            return seg
        self.seg = self.call("open_segments", op)
        if self.seg is None:
            raise Failed("open_segments failed")
        write_s = time.perf_counter() - t0
        write_cpu = self.cpu() - c0
        lat = [self.query(self.seg, *self.next_query())]
        fresh_s = time.perf_counter() - t0
        for _ in range(n_queries - 1):
            lat.append(self.query(self.seg, *self.next_query()))
        query_cpu = (self.cpu() - c0 - write_cpu) / n_queries
        batch_s, batch_cpu = [], []
        for _ in range(n_batches):
            qs = {str(j): self.next_query()[0] for j in range(BATCH_QUERIES)}
            c1 = self.cpu()
            rows = self.call("batch_search", lambda: batch_search(
                self.seg, qs, 10).collect())
            if rows is not None:
                batch_s.append(self.last.seconds)
                batch_cpu.append(self.cpu() - c1)
                self.check(not {int(r["doc_id"]) for r in rows}
                           & self.banned,
                           "batch_search returned a tombstoned id")
        kept.unpersist()
        self.old.unpersist()
        pages = pages[pages["doc_id"].isin(set(kept_ids))]
        self.ingested = pd.concat([self.ingested, pages], ignore_index=True)
        self.old = self.texts(self.frame(self.ingested)).cache()
        return {"docs": len(kept_ids), "write_s": write_s,
                "write_cpu_s": write_cpu, "fresh_s": fresh_s, "lat": lat,
                "query_cpu_s": query_cpu, "batch_s": batch_s,
                "batch_cpu_s": batch_cpu}

    def next_query(self):
        self.qi += 1
        return self.queries[self.qi % len(self.queries)]

    def delete_some(self):
        """Tombstone the top hits of a head-term query that live in
        the newest segment."""
        from irkit_spark.streaming.ingest import _load_counters
        newest = _load_counters(self.dir)["batches"][-1]
        ids = {int(r["doc_id"]) for r in
               Index(self.spark, newest).docs.select("doc_id").collect()}
        top = _hits(search(self.seg, self.inputs.vocab[0], 50))
        victims = [d for d, _ in top if d in ids][:3] or sorted(ids)[:3]
        if self.call("delete_docs", delete_docs, self.spark, newest,
                     doc_ids=victims) is not None:
            self.banned.update(victims)

    def measure(self, deadline: float):
        r, last = 0, 0.0
        while _again(r, MIN_ROUNDS, deadline, last):
            self.tr.request = f"round{r}"
            with self.tr.span("round") as sp:
                o = self.round(INGEST_PAGES, QUERIES_PER_WRITE,
                               BATCHES_PER_WRITE)
            last = sp.seconds
            self.add("docs_per_s", o["docs"] / o["write_s"])
            self.add("docs_per_cpu_s", o["docs"] / o["write_cpu_s"])
            self.add("freshness_s", o["fresh_s"])
            self.add("query_cpu_s", o["query_cpu_s"])
            for x in o["lat"]:
                self.add("query_s", x)
            for x, c in zip(o["batch_s"], o["batch_cpu_s"]):
                self.add("batch_s", x)
                self.add("batch_cpu_s", c)
            if r == 0:
                self.delete_some()
            r += 1

    def verify(self):
        from irkit_spark.streaming.ingest import _load_counters
        self.tr.request = "merge"
        batches = _load_counters(self.dir)["batches"]
        self.n_segments = len(batches)
        merged_dir = os.path.join(self.work, "merged")
        if self.call("merge_indexes", merge_indexes, self.spark, batches,
                     merged_dir) is None:
            raise Failed("merge failed")
        self.tr.request = "verify"
        merged = self.open_index(merged_dir)
        sample = [q for q, _ in self.queries[:CHECK_QUERIES]]
        self.compare_paths(self.seg, merged, sample)
        last = self.ingested.tail(INGEST_PAGES)
        self.dense_ids(self.frame(last))
        self.html_sample = last["html"]
        self.serving = self.seg
        self.postings_bytes = _dir_bytes(os.path.join(merged_dir,
                                                      "postings"))
        self.total_postings = int(merged.postings.agg(
            F.sum("n_docs")).collect()[0][0])


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith((".", "_")))
    return total
