"""Order statistics and dedup-quality ratios used by the benchmark."""

from __future__ import annotations

import statistics

import numpy as np
import pandas as pd


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = 10) -> int:
    """Highest whole percentile p (50 at least) that leaves at least
    ``min_beyond`` of ``n`` samples above it. 0 when even the median
    leaves fewer than that (too few samples to report a tail)."""
    best = 0
    for p in range(50, 100):
        if n * (100 - p) / 100 >= min_beyond:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def dup_pair_precision(clusters_pdf: pd.DataFrame, truth_pdf: pd.DataFrame) -> float:
    """Share of produced co-clustered pairs whose two docs share a truth
    ``cluster_key > 0``. Counted group-wise, so no pair is materialized.
    1.0 when the clusters contain no pair at all."""
    got = clusters_pdf[["doc_id", "cluster_id"]]
    total = _pairs(got.groupby("cluster_id").size())
    if total == 0:
        return 1.0
    keyed = got.merge(truth_pdf[["doc_id", "cluster_key"]], on="doc_id", how="left")
    keyed = keyed[keyed.cluster_key > 0]
    good = _pairs(keyed.groupby(["cluster_id", "cluster_key"]).size())
    return good / total
