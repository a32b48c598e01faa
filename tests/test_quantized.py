"""Quantized impact-score index (irkit quantize.hpp; SURVEY.md §2.8/m8):
7-bit floor-quantized tf_norm replaces tf in the payload (one varbyte byte each). Approximate by
construction, but internally consistent (all paths identical) and
bounded (|score - exact| <= sum_t idf_t / 127)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from irkit_spark.operators.build import build_index
from irkit_spark.operators.query import Index, search


@pytest.fixture(scope="module")
def q_indexes(spark, pages_small, tmp_path_factory):
    base = tmp_path_factory.mktemp("quant")
    exact_dir, quant_dir = str(base / "exact"), str(base / "quant")
    build_index(spark, pages_small, exact_dir, docs_per_shard=300,
                text_from_html=True)
    build_index(spark, pages_small, quant_dir, docs_per_shard=300,
                text_from_html=True, quantize=True)
    return Index(spark, exact_dir), Index(spark, quant_dir)


QUERIES = ["term00000 term00004", "term00123", "term00001 term00050 term00200"]


@pytest.mark.parametrize("q", QUERIES)
def test_quantized_paths_identical(spark, q_indexes, q):
    _, qi = q_indexes
    assert qi.quantized
    res = {m: [(r["doc_id"], r["score"])
               for r in search(qi, q, 10, m).collect()]
           for m in ("taat", "daat", "wand", "maxscore")}
    assert res["daat"] == res["wand"] == res["maxscore"]
    assert [d for d, _ in res["taat"]] == [d for d, _ in res["daat"]]


@pytest.mark.parametrize("q", QUERIES)
def test_quantized_driver_route_identical(q_indexes, q):
    """The driver route (local=True) scores the quantized index
    bit-identically to the distributed shard plan in every kernel
    mode."""
    _, qi = q_indexes
    for mode in ("daat", "wand", "maxscore"):
        loc, dist = ([tuple(r) for r in
                      search(qi, q, 10, mode, local=local).collect()]
                     for local in (True, False))
        assert loc == dist and loc, mode


@pytest.mark.parametrize("q", QUERIES)
def test_quantization_error_bounded(spark, q_indexes, q):
    ei, qi = q_indexes
    exact = dict((r["doc_id"], r["score"])
                 for r in search(ei, q, 50, "daat").collect())
    quant = dict((r["doc_id"], r["score"])
                 for r in search(qi, q, 50, "daat").collect())
    qm = ei.lookup_query(q)
    bound = sum(m["idf"] for m in qm) / 127.0 + 1e-12
    shared = set(exact) & set(quant)
    assert shared
    for d in shared:
        err = exact[d] - quant[d]
        assert 0 <= err <= bound, (d, err, bound)   # floor: never above


def test_quantized_rejects_ql(q_indexes):
    _, qi = q_indexes
    with pytest.raises(ValueError, match="quantized"):
        search(qi, "term00001", 10, "daat", scorer="ql")


def test_quantized_smaller_payload(spark, q_indexes):
    ei, qi = q_indexes
    size = lambda idx: (idx.postings.select(F.sum(F.aggregate(
        "blocks", F.lit(0).cast("long"),
        lambda a, blk: a + F.length(blk["tf_bytes"])))).collect()[0][0])
    assert size(qi) <= size(ei)
