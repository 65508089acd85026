"""L0: the package's numpy kernels on local batches of corpus documents,
single process, no Spark. Each rate is docs/s, median of three passes."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

N_DOCS = 4096
CORPUS_ROWS = 3700  # generator rows that yield at least N_DOCS pages with text
SLICE = 512  # docs per kernel call, as the signature stage slices batches


def _rate(fn, n: int, passes: int = 3) -> float:
    walls = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return n / float(np.median(walls))


def kernel_rates(html: pd.Series, texts: list[str]) -> dict[str, float]:
    from finddup_spark.config import DEFAULT_CONFIG as cfg
    from finddup_spark.extract import extract_text_series
    from finddup_spark.hashing import (
        band_hashes,
        oph_signatures_segmented,
        rolling_gram_hashes,
        shingle_hashes,
        simhash_batch,
        token_hash_stream,
        winnow,
    )

    n = len(texts)
    data = [t.encode("utf-8") for t in texts]
    toks = [token_hash_stream(b, cfg.seed)[0] for b in data]
    shingles = [shingle_hashes(t, cfg.shingle_k) for t in toks]
    slices = []
    for lo in range(0, n, SLICE):
        sh = shingles[lo:lo + SLICE]
        lengths = np.array([len(s) for s in sh], dtype=np.int64)
        flat = np.concatenate(sh)
        slices.append((flat, np.ones(len(flat)), lengths))
    sigs = [oph_signatures_segmented(f, ln, cfg.minhash_perms, cfg.seed)
            for f, _, ln in slices]
    grams = [rolling_gram_hashes(b, cfg.winnow_gram) for b in data]

    def each(fn, items):
        return lambda: [fn(x) for x in items]

    return {
        "extract_text_series": _rate(lambda: extract_text_series(html), len(html)),
        "token_hash_stream": _rate(each(lambda b: token_hash_stream(b, cfg.seed), data), n),
        "shingle_hashes": _rate(each(lambda t: shingle_hashes(t, cfg.shingle_k), toks), n),
        "oph_signatures_segmented": _rate(each(
            lambda s: oph_signatures_segmented(s[0], s[2], cfg.minhash_perms, cfg.seed),
            slices), n),
        "band_hashes": _rate(each(
            lambda s: band_hashes(s, cfg.bands, cfg.rows_per_band), sigs), n),
        "simhash_batch": _rate(each(lambda s: simhash_batch(*s), slices), n),
        "rolling_gram_hashes": _rate(each(
            lambda b: rolling_gram_hashes(b, cfg.winnow_gram), data), n),
        "winnow": _rate(each(lambda g: winnow(g, cfg.winnow_window), grams), n),
    }


def corpus_sample(pages_path: str) -> tuple[pd.Series, list[str]]:
    """First N_DOCS pages with text: (html, text)."""
    pdf = pd.read_parquet(pages_path, columns=["html", "text"])
    pdf = pdf[pdf.text.notna()].head(N_DOCS)
    return pdf.html.reset_index(drop=True), pdf.text.tolist()
