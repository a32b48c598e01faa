"""Line-level boilerplate removal (pipeline/boilerplate.py) and
sequence-packing plan (pipeline/packing.py)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from irkit_spark.pipeline.boilerplate import (
    boilerplate_lines, dedup_paragraphs, remove_boilerplate)
from irkit_spark.pipeline.packing import pack_plan


@pytest.fixture(scope="module")
def line_docs(spark):
    # 40 docs: a unique line each, a footer in all, a banner in the
    # first 20, a whitespace-only line in 1/4, and one doc where the
    # same line repeats in-doc (must count once toward doc frequency)
    rows = []
    for i in range(40):
        lines = [f"unique content {i}", "all rights reserved"]
        if i < 20:
            lines.insert(0, "Cookie Banner")
        if i % 4 == 0:
            lines.append("   ")
        rows.append((i, "\n".join(lines)))
    rows.append((40, "repeat me\nrepeat me\nunique content 40"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_counts_docs_not_occurrences(line_docs):
    freq = {r.line_key: r.n_docs
            for r in boilerplate_lines(line_docs, 2).collect()}
    assert freq["all rights reserved"] == 40
    assert freq["cookie banner"] == 20
    assert "repeat me" not in freq        # 1 doc, twice in-doc
    assert "   " not in freq and "" not in freq


def test_remove_boilerplate_semantics(line_docs):
    out = remove_boilerplate(line_docs, min_docs=20)
    got = {r.doc_id: (r.text, r.n_removed) for r in out.collect()}
    assert len(got) == 41
    # footer + banner removed, unique/whitespace/in-doc-repeat kept
    assert got[0] == ("unique content 0\n   ", 2)
    assert got[25] == ("unique content 25", 1)
    assert got[40] == ("repeat me\nrepeat me\nunique content 40", 0)
    # original-case boilerplate removed via normalized key
    assert all("Cookie Banner" not in t for t, _ in got.values())


def test_remove_boilerplate_all_lines_boiled(spark):
    docs = spark.createDataFrame(
        [(i, "the same line") for i in range(10)],
        "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_removed)
           for r in remove_boilerplate(docs, min_docs=5).collect()}
    assert len(out) == 10 and all(v == ("", 1) for v in out.values())


def test_apply_join_matches_literal_path(line_docs):
    """Both sides of BOILER_COLLECT_MAX through remove_boilerplate:
    the driver-collected literal path (default gate) and the join
    fallback (collect_max=0, taken whenever any line is boilerplate)
    return the same rows."""
    lit = remove_boilerplate(line_docs, min_docs=20) \
        .orderBy("doc_id").toPandas()
    jn = remove_boilerplate(line_docs, 20, collect_max=0) \
        .orderBy("doc_id").toPandas()
    assert lit["n_removed"].sum() > 0
    pd.testing.assert_frame_equal(lit, jn[lit.columns])


def test_no_boilerplate_is_identity(spark):
    docs = spark.createDataFrame(
        [(i, f"only line {i}") for i in range(5)],
        "doc_id long, text string")
    out = remove_boilerplate(docs, min_docs=2).orderBy("doc_id")
    assert [r.text for r in out.collect()] == \
        [f"only line {i}" for i in range(5)]
    assert all(r.n_removed == 0 for r in out.collect())


# ---------------------------------------------------- paragraph dedup


def test_dedup_paragraphs_keep_first(spark):
    # para "shared" appears in docs 0 (pos 1), 1 (pos 0), 2 (pos 0, as
    # "  SHARED  " — same normalized key); only doc 0's copy survives
    # (doc_id order wins over position order across docs)
    docs = spark.createDataFrame(
        [(0, "alpha\n\nshared"),
         (1, "shared\n\nbeta"),
         (2, "  SHARED  \n\ngamma\n\n\n\ngamma"),
         (3, "shared")],
        "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_removed)
           for r in dedup_paragraphs(docs).collect()}
    assert out[0] == ("alpha\n\nshared", 0)
    assert out[1] == ("beta", 1)
    # doc 2: SHARED claimed by doc 0, first "gamma" survives, the
    # blank paragraph ("" key) always survives, second gamma removed
    assert out[2] == ("gamma\n\n", 2)
    assert out[3] == ("", 1)


def test_dedup_paragraphs_no_dups_is_identity(spark):
    docs = spark.createDataFrame(
        [(i, f"para a{i}\n\npara b{i}") for i in range(6)],
        "doc_id long, text string")
    out = dedup_paragraphs(docs).orderBy("doc_id")
    assert [(r.text, r.n_removed) for r in out.collect()] == \
        [(f"para a{i}\n\npara b{i}", 0) for i in range(6)]


def test_dedup_paragraphs_preserves_extra_columns(spark):
    docs = spark.createDataFrame(
        [(0, "en", "x\n\nx"), (1, "fr", "y")],
        "doc_id long, lang string, text string")
    out = {r.doc_id: (r.lang, r.text, r.n_removed)
           for r in dedup_paragraphs(docs).collect()}
    assert out[0] == ("en", "x", 1)
    assert out[1] == ("fr", "y", 0)


# ------------------------------------------------------------- packing

@pytest.fixture(scope="module")
def tok_docs(spark):
    # sparse doc_ids (routing must not assume density), one empty doc
    rows = [(i * 7 + 3, " ".join(f"t{j}" for j in range(5 + i * 3)))
            for i in range(30)]
    rows.append((1, ""))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute(pdf: pd.DataFrame, w: int) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    cum = pdf.n_tokens.cumsum()
    start = cum - pdf.n_tokens
    end = start + pdf.n_tokens.clip(lower=1) - 1
    return pd.DataFrame({
        "doc_id": pdf.doc_id, "n_tokens": pdf.n_tokens,
        "start_tok": start, "first_window": start // w,
        "last_window": end // w,
        "n_windows": end // w - start // w + 1})


def test_pack_plan_matches_bruteforce(tok_docs):
    got = pack_plan(tok_docs, window_size=16).orderBy("doc_id") \
        .toPandas()
    toks = tok_docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"),
                                    F.lit(r"[a-z0-9]+"), 0))
        .cast("long").alias("n_tokens")).toPandas()
    pd.testing.assert_frame_equal(
        got, _brute(toks, 16).reset_index(drop=True))


def test_pack_plan_bucket_invariance(tok_docs):
    a = pack_plan(tok_docs, window_size=16, docs_per_bucket=3) \
        .orderBy("doc_id").toPandas()
    b = pack_plan(tok_docs, window_size=16, docs_per_bucket=10 ** 9) \
        .orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_pack_plan_stream_is_gapless(tok_docs):
    got = pack_plan(tok_docs, window_size=16).orderBy("doc_id") \
        .toPandas()
    # consecutive docs abut: start of next == start + n_tokens of prev
    nxt = (got.start_tok + got.n_tokens).iloc[:-1].reset_index(drop=True)
    assert nxt.equals(got.start_tok.iloc[1:].reset_index(drop=True))
    # empty doc occupies exactly one (zero-token) window slot
    empty = got[got.n_tokens == 0].iloc[0]
    assert empty.first_window == empty.last_window


def test_pack_plan_rejects_bad_window(tok_docs):
    with pytest.raises(ValueError):
        pack_plan(tok_docs, window_size=0)


def test_pack_materialize_reassembles_stream(tok_docs):
    from irkit_spark.pipeline.packing import pack_materialize
    out = pack_materialize(tok_docs, window_size=16) \
        .orderBy("window_id").collect()
    # stitched windows == the doc_id-ordered token stream
    stream = [t for r in sorted(tok_docs.collect(),
                                key=lambda r: r.doc_id)
              for t in r.text.lower().split() if t]
    got = [t for r in out for t in r.tokens]
    assert got == stream
    # every window except the last is exactly full; ids are dense
    assert [r.window_id for r in out] == list(range(len(out)))
    assert all(r.n_tokens == 16 for r in out[:-1])
    assert 0 < out[-1].n_tokens <= 16
    # n_docs counts contributors (boundary docs count in both windows)
    assert all(r.n_docs >= 1 for r in out)


def test_curate_composition(spark):
    from irkit_spark.pipeline.curate import curate, curation_report
    rows = []
    for i in range(40):
        rows.append((i, " ".join(f"w{i}x{j}" for j in range(25))))
    rows.append((100, "short doc"))                      # len filter
    rows.append((101, " ".join(["dup dup"] * 15)))       # uniq filter
    rows.append((102, rows[0][1]))                       # exact dup of 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cur = curate(docs).collect()
    ids = sorted(r.doc_id for r in cur)
    assert ids == list(range(40))      # junk and the dup copy removed
    assert all(r.split in ("train", "val", "test") for r in cur)
    rep = curation_report(docs).collect()
    assert sum(r.n_docs for r in rep) == 40
    assert sum(r.n_tokens for r in rep) == 40 * 25
