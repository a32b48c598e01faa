"""Seeded inputs for the benchmark: pages, query streams, ingest batches.

Everything here depends only on the seed, never on the wall clock or on
Spark partitioning, so two runs with one seed hand the engine identical
inputs. Pages follow the shape of the engine's `pages` table (url,
warc_ts, html, lang): html-wrapped body text drawn from a Zipf
vocabulary, log-normal lengths, and the edge cases the extractor must
survive (an unparsable page, empty bodies, single-token bodies).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000
ZIPF_S = 1.2
MEAN_LOG_LEN = 4.6075      # exp(mu + sigma^2 / 2) ~ 120 tokens per page
SIGMA_LOG_LEN = 0.6
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.5, 0.125, 0.125, 0.125, 0.125])
KS = (10, 100, 1000)
QUERY_SHAPE_SEED = 20240101

_HTML = ("<html><head><title>{title}</title>"
         "<script>skip(); var x = 1 < 2;</script>"
         "<style>body {{ color: red; }}</style></head>"
         "<body><!-- hidden --><p>{p1}</p>"
         "<p>{p2} &amp; tail&nbsp;end</p></body></html>")


class Inputs:
    """One seed's vocabulary, Zipf weights and generators."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        # which word is the head term changes with the seed
        self.vocab = np.array([f"term{i:05d}" for i in
                               self.rng.permutation(VOCAB_SIZE)],
                              dtype=object)
        p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
        self.p = p / p.sum()

    def _bodies(self, n: int) -> list[np.ndarray]:
        lens = np.maximum(1, self.rng.lognormal(
            MEAN_LOG_LEN, SIGMA_LOG_LEN, size=n).astype(np.int64))
        toks = self.vocab[self.rng.choice(VOCAB_SIZE, size=int(lens.sum()),
                                          p=self.p)]
        return np.split(toks, np.cumsum(lens)[:-1])

    def pages(self, n: int, first: int = 0) -> pd.DataFrame:
        """Pages first..first+n-1 (url, warc_ts, html, lang, doc_id)."""
        bodies = self._bodies(n)
        htmls = []
        for j, words in enumerate(bodies):
            i = first + j
            if i % 101 == 53:                  # unparsable page
                htmls.append(b"\xff\xfe<html>broken")
                continue
            if i % 97 == 13:                   # empty body
                words = words[:0]
            elif i % 89 == 7:                  # one token repeated
                words = np.repeat(words[:1], 30)
            half = len(words) // 2
            htmls.append(_HTML.format(
                title=f"page {i:07d}", p1=" ".join(words[:half]),
                p2=" ".join(words[half:])).encode())
        return self._frame(first, htmls)

    def near_copies(self, src: pd.DataFrame, n: int,
                    first: int) -> pd.DataFrame:
        """n near-copies of random rows of `src`: same html with one
        body word replaced, under fresh urls (a re-crawl of the page
        under another address)."""
        rows = self.rng.choice(len(src), size=n, replace=False)
        htmls = []
        for r in rows:
            html = src["html"].iloc[r].decode("utf-8", "replace")
            w = self.vocab[self.rng.integers(VOCAB_SIZE)]
            htmls.append(html.replace("<p>", f"<p>{w} ", 1).encode())
        return self._frame(first, htmls)

    def _frame(self, first: int, htmls: list[bytes]) -> pd.DataFrame:
        ids = np.arange(first, first + len(htmls))
        return pd.DataFrame({
            "url": [f"https://site{i % 200:04d}.example/p/{i:07d}"
                    for i in ids],
            "warc_ts": (np.datetime64("2024-01-01T00:00:00", "us")
                        + ids * np.timedelta64(17, "s")),
            "html": pd.Series(htmls, dtype="object"),
            "lang": self.rng.choice(LANGS, size=len(ids), p=LANG_P),
            "doc_id": ids.astype(np.int64),
        })

    def queries(self, n: int) -> list[tuple[str, int]]:
        """(query text, k): 1-5 Zipf terms, k cycling over KS; about
        one query in twenty carries an out-of-vocabulary term and one
        in fifty is all out-of-vocabulary.

        The stream's shape (term ranks, lengths, k, where the
        out-of-vocabulary terms go) is the same for every seed; the seed
        picks the words behind each rank and the corpus. A query's cost
        follows the ranks of its terms, so this keeps run-to-run
        differences down to the engine and the host."""
        rng = np.random.default_rng(QUERY_SHAPE_SEED)
        out = []
        for i in range(n):
            n_terms = int(rng.integers(1, 6))
            terms = list(self.vocab[rng.choice(
                VOCAB_SIZE, size=n_terms, p=self.p)])
            u = rng.random()
            if u < 0.02:
                terms = [f"zzoov{i}"]
            elif u < 0.07:
                terms.append(f"zzoov{i}")
            out.append((" ".join(terms), KS[i % len(KS)]))
        return out

    def phrases(self, n: int) -> list[str]:
        """Two-word phrases of head-to-mid terms (most occur somewhere
        as adjacent words, a few never do)."""
        hi = min(200, VOCAB_SIZE)
        return [" ".join(self.vocab[self.rng.integers(0, hi, size=2)])
                for _ in range(n)]
