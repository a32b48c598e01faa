"""Deterministic dense ID assignment (SURVEY.md §2.3 T2/T3).

irkit assigns docIDs densely 0..N-1 in ingest order inside a single
process ([pub:index/assembler]). On a cluster, `monotonically_increasing_id`
is neither dense nor stable across parallelism, and a global
`row_number()` window is a single-partition bottleneck. BASELINE.json:6
requires identical docIDs at N and 4N executors.

Scheme (two-pass, parallelism-independent):
  1. bucket(key) = crc32(key) % n_buckets   -- deterministic, balanced
  2. per-bucket counts -> exclusive prefix-sum offsets (n_buckets rows,
     collected to the driver, broadcast back)
  3. id = offset[bucket] + (row_number() over bucket ordered by key) - 1

Canonical order is therefore (bucket, key): stable under any cluster
size or input partitioning, dense 0..N-1, and each per-bucket window
sort is bounded by ~N/n_buckets rows (pick n_buckets so a bucket fits
one task at scale). Requires `key` unique (urls are; terms are).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# adaptive bucket sizing: one bucket per ~32M keys, floor 64. The
# floor matches the historical fixed default, so every input below
# 64 * 32M = 2.048e9 keys gets EXACTLY the ids it always got; above
# that the per-bucket window sort stays bounded (~32M rows per task)
# instead of growing to n/64 (1.5e10 rows/bucket at 1e12 docs).
_KEYS_PER_BUCKET = 32_000_000
_MIN_BUCKETS = 64


def adaptive_buckets(n_keys: int) -> int:
    """Bucket count for dense-ID assignment at a given key count.

    Pure function of the count, so ids stay a deterministic function
    of the key multiset (bucket count is derived from the input, never
    from parallelism). NOTE: ids are (bucket, key)-ordered, so bucket
    count is part of the assignment version — two builds of the SAME
    corpus always agree, but appending enough docs to cross a 32M-key
    threshold reassigns ids, exactly like any other rebuild."""
    return max(_MIN_BUCKETS,
               -(-n_keys // _KEYS_PER_BUCKET))  # ceil div


def dense_id_mapping(df: DataFrame, key: str, id_col: str,
                     n_buckets: int | None = None) -> tuple[DataFrame, int]:
    """Narrow (key -> dense id) mapping + total count. Only the key
    column moves through the bucket shuffle and the per-bucket sort —
    never the wide payload (html/text). n_buckets=None (default)
    derives the count-adaptive bucket count (adaptive_buckets); pass an
    explicit value to pin a historical assignment."""
    spark = df.sparkSession
    keys = df.select(key)

    def bucket_counts(nb: int):
        b = (F.crc32(F.col(key).cast("string")) % nb).cast("int")
        wb = keys.withColumn("__bucket", b)
        return wb, (wb.groupBy("__bucket").count()
                    .orderBy("__bucket").collect())

    if n_buckets is None:
        # adaptive_buckets is the _MIN_BUCKETS floor for every input
        # below _MIN_BUCKETS * _KEYS_PER_BUCKET keys (2.048e9), so the
        # floor-bucket counts usually ARE the final counts and their
        # sum IS the total — one job instead of a separate count()
        # pass (round 7). Only above 2.048e9 keys does the recompute
        # with the right bucket count run (there it is metadata-cheap
        # next to the work it sizes). Ids are unchanged either way:
        # the bucket count is still a pure function of the key count.
        with_bucket, counts = bucket_counts(_MIN_BUCKETS)
        n_buckets = adaptive_buckets(sum(r["count"] for r in counts))
        if n_buckets != _MIN_BUCKETS:
            with_bucket, counts = bucket_counts(n_buckets)
    else:
        with_bucket, counts = bucket_counts(n_buckets)
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["__bucket"]] = acc
        acc += row["count"]
    offsets_df = spark.createDataFrame(
        [(k, v) for k, v in offsets.items()], "__bucket int, __offset long")
    w = Window.partitionBy("__bucket").orderBy(key)
    mapping = (with_bucket
               .join(F.broadcast(offsets_df), "__bucket")
               .withColumn(id_col,
                           (F.col("__offset") + F.row_number().over(w) - 1)
                           .cast("long"))
               .drop("__bucket", "__offset"))
    return mapping, acc


def sorted_rank_mapping(df: DataFrame, key: str, id_col: str,
                        n_parts: int | None = None) -> DataFrame:
    """(key -> dense id) where id = global rank in sorted key order,
    WITHOUT a single-partition window: range-partition by key,
    per-partition counts -> exclusive prefix-sum offsets, id = offset +
    in-partition row_number. The result is the unique global sorted
    rank, so it is deterministic regardless of how range-boundary
    sampling splits the partitions; each sort is bounded by one
    partition. The keys frame is persisted so the counts job and the
    window job see the same materialized partitioning."""
    spark = df.sparkSession
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = (df.select(key).repartitionByRange(n_parts, key)
            .withColumn("__p", F.spark_partition_id()).persist())
    counts = keys.groupBy("__p").count().collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["__p"]):
        offsets[row["__p"]] = acc
        acc += row["count"]
    odf = spark.createDataFrame(
        [(k, v) for k, v in offsets.items()], "__p int, __offset long")
    w = Window.partitionBy("__p").orderBy(key)
    return (keys.join(F.broadcast(odf), "__p")
            .withColumn(id_col,
                        (F.col("__offset") + F.row_number().over(w) - 1)
                        .cast("long"))
            .drop("__p", "__offset"))


def grow_lexicon(lexicon: DataFrame | None, batch_terms: DataFrame,
                 next_term_id: int) -> tuple[dict, list]:
    """Term ids for the distinct terms of `batch_terms` (a `term`
    column): a term's id in `lexicon` (term, term_id) when it has one,
    else a new dense id, next_term_id + its rank among the unseen terms
    in sorted order. Existing ids never move, so indexes built against
    the old lexicon stay valid. Returns ({term: term_id} for every batch
    term, the unseen terms in id order).

    One Spark job: the batch vocabulary is collected and the unseen
    terms are sorted on the driver. build_index broadcasts exactly this
    dict, so it has to fit the driver either way. Python's code-point
    order is Spark's UTF-8 byte order, so the ids equal a Spark-side
    sorted rank."""
    terms = batch_terms.select("term").distinct()
    if lexicon is None:
        terms = terms.withColumn("term_id", F.lit(None).cast("int"))
    else:
        terms = terms.join(lexicon.select("term", "term_id"), "term", "left")
    ids = {r["term"]: r["term_id"] for r in terms.collect()}
    new = sorted(t for t, i in ids.items() if i is None)
    ids.update(zip(new, range(next_term_id, next_term_id + len(new))))
    return ids, new


# Portable 31-bit Karp-Rabin fold (base 257 mod the Mersenne prime
# 2^31-1 — the repo-wide portable-hash scheme, pipeline/dedup.py) of a
# label column, written DECLARATIVELY so the DuckDB oracle reproduces
# the bucket bit-for-bit (crc32 has no DuckDB equivalent). Labels are
# short (a language/topic/domain tag), so the per-char fold is cheap.
_KR_P = 2147483647
_KR_B = 257


def label_bucket(col, n_buckets: int):
    """Deterministic portable bucket of a string label column. The
    fold walks characters via sequence+substr (NOT F.split(col, ''),
    whose Java limit=-1 semantics append a trailing '' element that
    would fold an extra 0 into the hash); empty labels hash to 0
    explicitly because F.sequence(1, 0) counts DOWN, not empty."""
    s = col.cast("string")
    codes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda j: F.ascii(s.substr(j, F.lit(1))).cast("long"))
    h = F.aggregate(codes, F.lit(0).cast("long"),
                    lambda acc, c: (acc * _KR_B + c) % _KR_P)
    h = F.when(F.length(s) == 0, F.lit(0)).otherwise(h)
    return (h % n_buckets).cast("int")


def topical_dense_ids(df: DataFrame, cluster_col: str, key: str,
                      id_col: str = "doc_id",
                      n_buckets: int | None = None,
                      broadcast_rows: int = 5_000_000) -> DataFrame:
    """Dense, parallelism-invariant ids in (bucket(cluster), cluster,
    key) order — the Kulkarni & Callan topic-shard layout as an ID
    assignment: same-cluster docs get CONTIGUOUS ids, so the builder's
    doc-shards (id // docs_per_shard) become topic shards and
    selective search's per-shard bounds cut whole topics out of a
    query (operators/selective.py). Feed the result to
    build_index(doc_id_col=id_col).

    Semantically identical to `row_number() OVER (ORDER BY bucket,
    cluster, key) - 1`, computed with the same two-phase bucketed
    scheme as dense_id_mapping (per-bucket counts -> offsets ->
    bounded per-bucket window): no global single-partition sort, and
    the assignment is a pure function of the (cluster, key) multiset —
    identical at any parallelism. Requires `key` unique. Buckets hash
    the CLUSTER label (portable KR-31 fold, label_bucket), so one
    cluster never splits across buckets; the per-bucket sort is
    bounded by the docs of the clusters hashing there — use labels
    with at least ~n_buckets distinct values and no label above ~32M
    docs, or pre-split giant labels (e.g. lang -> lang+domain)."""
    spark = df.sparkSession
    keys = df.select(cluster_col, key)
    if n_buckets is None:
        n_buckets = adaptive_buckets(keys.count())
    with_bucket = keys.withColumn(
        "__bucket", label_bucket(F.col(cluster_col), n_buckets))
    counts = (with_bucket.groupBy("__bucket").count()
              .orderBy("__bucket").collect())
    offsets, acc = {}, 0
    for row in counts:
        offsets[row["__bucket"]] = acc
        acc += row["count"]
    offsets_df = spark.createDataFrame(
        [(k, v) for k, v in offsets.items()], "__bucket int, __offset long")
    w = Window.partitionBy("__bucket").orderBy(cluster_col, key)
    mapping = (with_bucket
               .join(F.broadcast(offsets_df), "__bucket")
               .withColumn(id_col,
                           (F.col("__offset") + F.row_number().over(w) - 1)
                           .cast("long"))
               .drop("__bucket", "__offset"))
    right = F.broadcast(mapping) if acc <= broadcast_rows else mapping
    return df.join(right, [cluster_col, key])


def assign_dense_ids(df: DataFrame, key: str, id_col: str,
                     n_buckets: int | None = None,
                     broadcast_rows: int = 5_000_000) -> DataFrame:
    """Attach dense ids by joining the narrow mapping back: broadcast
    join when the mapping fits (<= broadcast_rows), shuffle join above
    that (at 10^12 keys the join moves the payload once — the same cost
    the naive wide window would pay, without the wide sort)."""
    mapping, total = dense_id_mapping(df, key, id_col, n_buckets)
    right = F.broadcast(mapping) if total <= broadcast_rows else mapping
    return df.join(right, key)
