"""Structural job-count ceilings for the dedup entry points.

The round-4 cross_modal regression (un-persisted pair streams re-ran the
hot-bucket probes and branch unions per consumer, ~2x the job count) was
caught by wall-clock on a noisy host; these tests make the action/stage
budget regression-proof independent of host speed: each operator call
may not launch more Spark jobs than a ceiling set ~25-30% above the
measured steady-state count. A refactor that accidentally adds a
cluster action, drops a persist, or un-elides the hot-bucket branches
on a skew-free corpus blows the ceiling immediately.

Counts are read from the DAGScheduler's job-id counter, which covers
jobs submitted from ANY thread (several operators materialize tiers on
worker threads, which job-group-based counting would miss).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finddup_spark.operators.cc import connected_components
from finddup_spark.operators.dedup import (
    cross_modal_dedup,
    embedding_lsh_dedup,
    minhash_dedup,
    simhash_dedup,
)


def _jobs(spark) -> int:
    nj = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nj if isinstance(nj, int) else nj.get()


@pytest.fixture(scope="module")
def docs(spark):
    # skew-free near-dup corpus: distinct texts, a few exact dups — the
    # hot-bucket branches must stay ELIDED (their un-elision is one of
    # the regressions this suite exists to catch)
    rows = []
    for i in range(200):
        body = " ".join(f"w{i}t{j}" for j in range(30))
        rows.append((i, body))
        if i % 10 == 0:
            rows.append((1000 + i, body))  # exact dup
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((120, 16))
    rows = [(int(i), [float(x) for x in base[i % 120]]) for i in range(150)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


# ceilings = measured steady-state jobs (sf0.1 bench, 2026-08) + margin:
#   minhash 32, simhash 19, embedding_lsh 17, cross_modal 50
CASES = [
    ("minhash", 42),
    ("simhash", 26),
    ("embedding_lsh", 24),
    ("cross_modal", 64),
]


@pytest.mark.parametrize("name,ceiling", CASES)
def test_dedup_job_ceiling(spark, docs, vecs, name, ceiling):
    def run():
        if name == "minhash":
            return minhash_dedup(docs).count()
        if name == "simhash":
            return simhash_dedup(docs).count()
        if name == "embedding_lsh":
            return embedding_lsh_dedup(vecs, dim=16, threshold=0.95).count()
        return cross_modal_dedup(
            docs, vecs.select("vec_id", "embedding"), dim=16
        ).count()

    run()  # warm codegen/broadcast caches — the budget is steady-state
    j0 = _jobs(spark)
    n = run()
    used = _jobs(spark) - j0
    assert n > 0
    assert used <= ceiling, (
        f"{name}_dedup launched {used} Spark jobs (ceiling {ceiling}) — "
        "an action/persist/branch-elision regression"
    )


#: measured steady-state jobs (the test session: local[8], 8 shuffle
#: partitions, 2026-10): 9 — one contraction round, then the driver
CC_CEILING = 12


def test_distributed_cc_job_ceiling(spark):
    """The distributed CC path above ``driver_threshold``: each
    contraction round is planned from the last round's checkpoint, so a
    call costs a fixed handful of jobs. A regression to re-planning a
    deepening self-joined plan per round (large-star/small-star took
    25-41 jobs on a graph like this one) blows the ceiling."""
    import numpy as np

    rng = np.random.default_rng(3)
    pairs = []
    for base in (0, 100):  # two permuted 8-id paths
        ids = base + rng.permutation(8)
        pairs += list(zip(ids[:-1], ids[1:]))
    pairs += list(zip(*(200 + rng.permutation(40).reshape(2, 20))))  # a matching
    pairs += [(300, 300 + i) for i in range(1, 21)]  # a 20-leaf hub
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    ).cache()

    def run():
        return len(connected_components(
            edges, driver_threshold=len(pairs) // 2).toPandas())

    run()  # warm — the budget is steady-state
    j0 = _jobs(spark)
    n = run()
    used = _jobs(spark) - j0
    assert n == 16 + 40 + 21
    assert used <= CC_CEILING, (
        f"distributed connected_components launched {used} Spark jobs "
        f"(ceiling {CC_CEILING}) — a per-round plan regression"
    )
