"""Driver-side createDataFrame(pandas) calls stay on Arrow.

query.merge_topk ends every kernel-mode search and batch_search, and
the ingest lexicon growth writes its new ids the same way. With
Arrow's row-pickling fallback disabled, a schema or dtype change that
drops one of these frames off Arrow fails here instead of silently
converting row by row."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from irkit_spark.operators.query import merge_topk

_FALLBACK = "spark.sql.execution.arrow.pyspark.fallback.enabled"


@pytest.fixture
def arrow_only(spark):
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") \
        == "true"
    old = spark.conf.get(_FALLBACK, None)
    spark.conf.set(_FALLBACK, "false")
    yield spark
    if old is None:
        spark.conf.unset(_FALLBACK)
    else:
        spark.conf.set(_FALLBACK, old)


def _part(doc, score, qid=None):
    p = pd.DataFrame({"doc_id": np.array(doc, dtype=np.int64),
                      "score": np.array(score, dtype=np.float64)})
    return p if qid is None else p.assign(query_id=qid)


def test_merge_topk_on_arrow(arrow_only):
    spark = arrow_only
    parts = [_part([3, 1, 2], [0.5, 0.5, 0.9]), _part([7], [0.7])]
    assert [tuple(r) for r in merge_topk(spark, parts, 3).collect()] == \
        [(2, 0.9), (7, 0.7), (1, 0.5)]
    grouped = [_part([3, 1], [0.5, 0.9], "b"), _part([4, 5], [0.2, 0.2], "a"),
               _part([6], [0.8], "b")]
    assert [tuple(r) for r in
            merge_topk(spark, grouped, 2, group="query_id").collect()] == \
        [("a", 4, 0.2), ("a", 5, 0.2), ("b", 1, 0.9), ("b", 6, 0.8)]
    for group in (None, "query_id"):
        empty = merge_topk(spark, [_part([], [])], 3, group=group)
        assert empty.collect() == []
        assert empty.columns[-2:] == ["doc_id", "score"]


def test_grow_lexicon_on_arrow(arrow_only, tmp_path):
    """plans/dense_ids.grow_lexicon through the ingest lexicon growth,
    whose new ids are written from a pandas frame."""
    from irkit_spark.streaming.ingest import _grow_lexicon
    spark = arrow_only
    terms = spark.createDataFrame([("b",), ("a",), ("b",)], "term string")
    c = {"next_term_id": 0}
    out = str(tmp_path / "ing")
    assert _grow_lexicon(spark, out, terms, c) == {"a": 0, "b": 1}
    more = spark.createDataFrame([("c",), ("a",)], "term string")
    assert _grow_lexicon(spark, out, more, c) == {"a": 0, "c": 2}
    assert c["next_term_id"] == 3
