"""Single-core costs of the `functions` layer, without Spark.

Each kernel runs on a sample cut from the run's own seeded pages; the
reported figure is the median of several repetitions, per unit of work
(per document for extract/tokenize, per posting for the codecs and
BM25).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from irkit_spark import config
from irkit_spark.functions.codecs import decode_blocks_batch, encode_blocks
from irkit_spark.functions.extract import extract_batch
from irkit_spark.functions.scoring import bm25, bm25_tf_norm
from irkit_spark.functions.tokenize import tokenize_batch

REPEATS = 5


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def function_costs(html: pd.Series) -> dict[str, float]:
    """Per-unit medians for extract, tokenize, encode, decode, bm25."""
    texts = extract_batch(html)
    _, tokens, lens = tokenize_batch(texts)
    n_docs = len(html)
    out = {
        "functions.extract.us_per_doc":
            _median_s(lambda: extract_batch(html)) / n_docs * 1e6,
        "functions.tokenize.us_per_doc":
            _median_s(lambda: tokenize_batch(texts)) / n_docs * 1e6,
    }
    # one posting run per distinct term, ids ascending, as the build
    # encodes them
    doc_of = np.repeat(np.arange(n_docs, dtype=np.uint64), lens)
    frame = pd.DataFrame({"term": tokens, "doc": doc_of})
    tf = frame.groupby(["term", "doc"], sort=True).size()
    runs = []
    avgdl = max(1.0, float(lens.mean()))
    for _, g in tf.groupby(level=0, sort=False):
        d = g.index.get_level_values(1).to_numpy(np.uint64)
        t = g.to_numpy(np.uint64)
        norms = bm25_tf_norm(t.astype(np.float64),
                             lens[d.astype(np.int64)].astype(np.float64),
                             avgdl)
        runs.append((d, t, norms))
    n_post = int(tf.size)
    codec, bs = config.DEFAULT_CODEC, config.BLOCK_SIZE
    encoded = [encode_blocks(d, t, nm, bs, codec) for d, t, nm in runs]
    out["functions.codecs.encode_ns_per_posting"] = _median_s(
        lambda: [encode_blocks(d, t, nm, bs, codec)
                 for d, t, nm in runs]) / n_post * 1e9
    out["functions.codecs.decode_ns_per_posting"] = _median_s(
        lambda: [decode_blocks_batch(b, codec) for b in encoded]
    ) / n_post * 1e9
    tfs = tf.to_numpy(np.float64)
    dls = lens[tf.index.get_level_values(1).to_numpy(np.int64)].astype(
        np.float64)
    dfs = np.full(n_post, n_docs / 4.0)
    out["functions.scoring.bm25_ns_per_posting"] = _median_s(
        lambda: bm25(tfs, dfs, dls, float(n_docs), avgdl)) / n_post * 1e9
    return out
