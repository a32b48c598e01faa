from __future__ import annotations

import itertools
import os
import shutil

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    from irkit_spark.config import get_spark
    sp = get_spark("irkit-tests", "*", 8)
    sp.sparkContext.setLogLevel("ERROR")
    yield sp
    sp.stop()


@pytest.fixture(scope="session")
def pages_small(spark):
    """1000 synthesized pages (FIXTURES.md F1 pages_small, trimmed for
    suite speed; rank-identity statistics are already meaningful)."""
    from irkit_spark.sources.pages import pages_df
    return pages_df(spark, 1000)


@pytest.fixture(scope="session")
def pos_index_pages(spark, pages_small, tmp_path_factory):
    """Index + positions over the synthesized html corpus (url-join
    build path); shared by the phrase and snippet suites."""
    import pandas as pd

    from irkit_spark.functions.extract import EXTRACTORS
    from irkit_spark.operators.build import build_index
    from irkit_spark.operators.positions import build_positions
    from irkit_spark.operators.query import Index
    ext = EXTRACTORS["frozen"]
    out = str(tmp_path_factory.mktemp("posidx2") / "idx")
    shutil.rmtree(out, ignore_errors=True)
    pages = pages_small.limit(400)
    build_index(spark, pages, out, docs_per_shard=150,
                text_from_html=True)

    def extr(it):
        for pdf in it:
            yield pd.DataFrame({"url": pdf["url"],
                                "text": [ext(h) for h in pdf["html"]]})
    src = pages.mapInPandas(extr, "url string, text string")
    build_positions(spark, src, out)  # url-join path, auto n_parts
    return Index(spark, out), src


@pytest.fixture(scope="session")
def index_small(spark, pages_small, tmp_path_factory):
    from irkit_spark.operators.build import build_index
    out = str(tmp_path_factory.mktemp("idx") / "small")
    shutil.rmtree(out, ignore_errors=True)
    metrics = build_index(spark, pages_small, out, docs_per_shard=300,
                          text_from_html=True)
    from irkit_spark.operators.query import Index
    return Index(spark, out), metrics


_job_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), number of Spark jobs fn scheduled),
    counted through a job group used by no other call (the status
    tracker keeps a group's jobs for the whole session)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{next(_job_groups)}"
        sc.setJobGroup(group, "counted call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
