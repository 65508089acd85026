"""The benchmark's workloads and the per-layer numbers read from a trace.

A workload prepares seeded inputs, runs timed iterations through the
package's public functions, checks the outputs outside the timed window
and, for a traced run, turns spans and Spark counters into per-layer
metrics. Every operation and check counts as attempted; one that raises
or fails counts as failed, and the run goes on.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .spans import Span, Tracer, driver_gap
from .stats import dup_pair_precision, median

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected_operators.json")
EMB_DIM = 64  # embedding width of the operator inputs


@dataclass
class Iteration:
    wall_s: float       # timed wall of the whole iteration
    pages_per_s: float  # pages per second of the workload's primary pass


@dataclass
class Run:
    """One benchmark process: the session, counters, tracer and tallies."""

    spark: object
    work: str
    cache: str
    seed: int
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)
    op_walls: list = field(default_factory=list)

    def __post_init__(self):
        from .sparkstats import SparkCounters

        self.counters = SparkCounters(self.spark)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op(self, name: str, fn):
        """Run one operation; a raise is recorded as a failure."""
        self.attempted += 1
        t0 = time.monotonic()
        try:
            with self.span(name):
                return fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")
            print(f"operation {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            self.op_walls.append((name, time.monotonic() - t0))

    def check(self, name: str, fn) -> None:
        """Run one correctness check: ``fn() -> (ok, detail)``."""
        self.attempted += 1
        try:
            ok, detail = fn()
        except Exception:
            ok, detail = False, traceback.format_exc(limit=4)
        self.checks[name] = {"ok": bool(ok), "detail": detail}
        if not ok:
            self.failed += 1
            print(f"check {name} failed: {detail}", file=sys.stderr)


def warm_up(spark, texts: list[str]) -> None:
    """One small signature job: starts the Python workers and loads the
    package in them, so the first timed call does not pay for it."""
    from finddup_spark.functions.signatures import compute_signatures

    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    compute_signatures(spark.createDataFrame(pdf)).count()


def frame_digest(df) -> tuple[int, str]:
    """(rows, order-independent digest): XOR of a 64-bit hash of every
    row, with floating values rounded to 6 decimals."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c, t = F.col(f"`{f.name}`"), f.dataType
        if isinstance(t, (FloatType, DoubleType)):
            c = F.round(c, 6)
        elif isinstance(t, ArrayType) and isinstance(t.elementType, (FloatType, DoubleType)):
            c = F.transform(c, lambda x: F.round(x, 6))
        cols.append(c)
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("x")
    ).collect()[0]
    return int(row.n), f"{(row.x or 0) & (2**64 - 1):016x}"


# -- per-layer helpers ---------------------------------------------------


def attribute(spans: list[Span], jobs) -> tuple[dict[int, list], int]:
    """(span_id -> jobs it ran, inclusive of its descendants; number of
    jobs no span owns). A job is owned by the span whose job group it
    carries. A job with no known group (submitted from a thread the tracer
    never tagged) goes to the deepest span that contains every span open
    when it was submitted: with stages open on several threads that is
    their common parent, not one of the sibling stages. A job no span
    contains is counted as left out."""
    by_group = {s.group: s for s in spans}
    by_id = {s.span_id: s for s in spans}

    def chain(s: Span) -> list[int]:
        """s and its ancestors, innermost first."""
        out = [s.span_id]
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
            out.append(s.span_id)
        return out

    own: dict[int, list] = {s.span_id: [] for s in spans}
    left_out = 0
    for j in jobs:
        s = by_group.get(j.group)
        if s is None:
            chains = [chain(x) for x in spans if x.start <= j.start <= (x.end or x.start)]
            inner = {sid for c in chains for sid in c[1:]}
            leaves = [c for c in chains if c[0] not in inner]
            common = [sid for sid in leaves[0] if all(sid in c for c in leaves)] if leaves else []
            if not common:
                left_out += 1
                continue
            s = by_id[common[0]]
        own[s.span_id].append(j)
    incl = {sid: list(v) for sid, v in own.items()}
    for s in spans:
        p = s.parent
        while p is not None and p in by_id:
            incl[p].extend(own[s.span_id])
            p = by_id[p].parent
    return incl, left_out


def span_counters(span: Span, jobs: list) -> dict:
    return {
        "wall_s": span.duration,
        "jobs": len(jobs),
        "task_s": sum(j.task_s for j in jobs),
        "shuffle_mb": sum(j.shuffle_mb for j in jobs),
        "spill_mb": sum(j.spill_mb for j in jobs),
        "driver_gap_s": driver_gap([(j.start, j.end) for j in jobs], span.start, span.end),
    }


def counter_jobs(span: Span) -> int:
    """Jobs submitted from any thread while the span was open."""
    return span.counters["job_end"] - span.counters["job_first"]


# -- workloads -----------------------------------------------------------


class PipelineWorkload:
    """Flagship: text re-extraction, then DedupPipeline(resume=False),
    then invalidate(edges) and a resume=True run on the same corpus."""

    name = "pipeline"

    def __init__(self, rows: int):
        self.rows = rows
        self.fresh = None

    def prepare(self, run: Run) -> dict:
        from .inputs import pages_corpus

        d, fp = pages_corpus(run.cache, run.seed, self.rows)
        self.pages_path = os.path.join(d, "pages.parquet")
        self.truth_path = os.path.join(d, "truth_clusters.parquet")
        self.n_pages = fp["rows"]["pages"]
        self.warm_texts = (
            pd.read_parquet(self.pages_path, columns=["text"]).text.dropna().head(32).tolist()
        )
        return fp

    def install_spans(self, tracer: Tracer) -> None:
        """Wrap each stage write and the CC call in a span, from here: no
        package file changes. Stages written on the pipeline's tier
        threads are parented to the span open when run() was called."""
        from finddup_spark.plans import pipeline as pl

        run_fn, write_stage, cc = (
            pl.DedupPipeline.run, pl.DedupPipeline._write_stage, pl.connected_components)
        run_span: dict[int, int | None] = {}

        def traced_run(self, *a, **kw):
            run_span[id(self)] = tracer.current()
            return run_fn(self, *a, **kw)

        def traced_stage(self, run, stage, *a, **kw):
            with tracer.span("pipeline." + stage.split("/")[-1], parent=run_span.get(id(self))):
                return write_stage(self, run, stage, *a, **kw)

        def traced_cc(*a, **kw):
            with tracer.span("cc.connected_components"):
                return cc(*a, **kw)

        pl.DedupPipeline.run = traced_run
        pl.DedupPipeline._write_stage = traced_stage
        pl.connected_components = traced_cc

    def _pages(self, spark):
        from pyspark.sql import functions as F

        from finddup_spark.extract import extract_text_series
        from finddup_spark.sources.tables import load_pages

        @F.pandas_udf("string")
        def extract_udf(html):
            return extract_text_series(html)

        pages = load_pages(spark, self.pages_path).drop("text")
        return pages.withColumn("text", extract_udf("html")).drop("html")

    def warm(self, run: Run) -> None:
        """Untimed fresh run on a quarter of the corpus: the first run in a
        new JVM pays for JIT compilation, code generation and worker
        imports (a cost per job, not per page), and on a shared host that
        cold run is the one most sensitive to other guests' load."""
        from finddup_spark.plans.pipeline import DedupPipeline

        out = os.path.join(run.work, "pipeline-warmup")
        pages = self._pages(run.spark).where("doc_id % 4 = 0")
        run.op("pipeline.warmup", lambda: DedupPipeline(run.spark, out, resume=False).run(pages))

    def iterate(self, run: Run, i: int) -> Iteration:
        from finddup_spark.plans.pipeline import DedupPipeline, invalidate

        self.out = os.path.join(run.work, f"pipeline-{i}")
        pages = self._pages(run.spark)
        t0 = time.monotonic()
        self.fresh = run.op(
            "pipeline.run", lambda: DedupPipeline(run.spark, self.out, resume=False).run(pages)
        )
        t1 = time.monotonic()
        self.fresh_clusters = self._clusters()
        invalidate(self.out, "edges")
        t2 = time.monotonic()
        run.op("pipeline.resume", lambda: DedupPipeline(run.spark, self.out, resume=True).run(pages))
        t3 = time.monotonic()
        return Iteration((t1 - t0) + (t3 - t2), self.n_pages / (t1 - t0))

    def _clusters(self) -> pd.DataFrame:
        path = os.path.join(self.out, "clusters")
        return pd.read_parquet(path).sort_values("doc_id").reset_index(drop=True)

    def verify(self, run: Run) -> None:
        from bench import dup_pair_recall

        truth = pd.read_parquet(self.truth_path)
        final = self._clusters()
        recall = dup_pair_recall(final, self.truth_path)
        precision = dup_pair_precision(final, truth)
        run.check("dup_pair_recall", lambda: (recall >= 0.99, recall))
        run.check("dup_pair_precision", lambda: (precision >= 0.99, precision))
        run.check("resume_matches_fresh", lambda: (
            self.fresh_clusters.equals(final), f"{len(final)} doc assignments"))

    def layers(self, run: Run, spans, incl) -> dict:
        from finddup_spark.operators.lsh import bucket_histogram

        out: dict[str, float] = {}
        fresh_span = run.tracer.by_name("pipeline.run")[-1]
        resume_span = run.tracer.by_name("pipeline.resume")[-1]
        for s in spans:
            if s.parent == fresh_span.span_id and s.name.startswith("pipeline."):
                c = span_counters(s, incl[s.span_id])
                for k in ("wall_s", "jobs", "task_s", "shuffle_mb"):
                    out[f"{s.name}.{k}"] = c[k]
        fc = span_counters(fresh_span, incl[fresh_span.span_id])
        out["pipeline.jobs"] = counter_jobs(fresh_span)
        out["pipeline.driver_gap_s"] = fc["driver_gap_s"]
        out["pipeline.resume_s"] = resume_span.duration
        out["pipeline.resume.jobs"] = counter_jobs(resume_span)

        rows = {s.name.split("/")[-1]: s.rows for s in self.fresh.stages}
        out["lsh.candidate_pairs.rows"] = rows["mh_pairs"]
        out["lsh.verify_pairs.rows"] = rows["mh_edges"]
        out["lsh.verify_yield"] = rows["mh_edges"] / max(1, rows["mh_pairs"])
        hist = bucket_histogram(run.spark.read.parquet(os.path.join(self.out, "bands")))
        out["lsh.max_bucket"] = hist.agg({"bucket_size": "max"}).collect()[0][0]
        out["substring.candidates.rows"] = rows["sub_pairs"]
        out["substring.verify.rows"] = rows["sub_edges"]
        out["substring.verify_yield"] = rows["sub_edges"] / max(1, rows["sub_pairs"])
        cc = [s for s in spans if s.name == "cc.connected_components"
              and s.start >= fresh_span.start and s.end <= fresh_span.end]
        out.update(_cc_layer(cc[-1], incl))
        return out


def _cc_layer(span: Span, incl) -> dict:
    c = span_counters(span, incl[span.span_id])
    return {"cc.wall_s": c["wall_s"], "cc.jobs": counter_jobs(span),
            "cc.task_s": c["task_s"], "cc.driver_gap_s": c["driver_gap_s"]}


def _suite(spark, d: str):
    """One standalone call of bench.py's suite per operator module, on the
    generated inputs. bench.py's other four calls (``simhash_dedup``,
    ``brute_force_topk``, ``embedding_lsh_dedup``, ``cross_modal_dedup``)
    run modules these five already cover and do not fit the run budget
    (see README)."""
    from finddup_spark.functions.textstats import text_stats
    from finddup_spark.operators.boilerplate import boilerplate_ratio
    from finddup_spark.operators.dedup import minhash_dedup
    from finddup_spark.operators.exact import exact_clusters
    from finddup_spark.operators.simsearch import lsh_topk

    def docs():
        return spark.read.parquet(f"{d}/documents.parquet")

    def emb():
        return spark.read.parquet(f"{d}/embeddings.parquet")

    return [
        ("exact.exact_clusters", lambda: exact_clusters(docs())),
        ("dedup.minhash_dedup", lambda: minhash_dedup(docs())),
        ("textstats.text_stats", lambda: text_stats(docs())),
        ("simsearch.lsh_topk", lambda: lsh_topk(emb(), dim=EMB_DIM, k=3)),
        ("boilerplate.boilerplate_ratio", lambda: boilerplate_ratio(docs(), k=5)),
    ]


class OperatorsWorkload:
    """Standalone operator calls: one bench.py suite call per operator
    module, the distributed (large-star/small-star) connected components on an
    adversarial graph, and incremental exact-dedup micro-batches."""

    name = "operators"
    # eight micro-batches of a 1,000-row corpus (~140 pages each; a batch
    # costs ~0.6-1.2 s of Spark jobs whatever its size), merged one after
    # another as a stream once the other calls are done
    n_batches, batch_rows = 8, 1000

    def __init__(self):
        self.results: dict[str, object] = {}  # call -> (rows, digest), or CC labels

    def prepare(self, run: Run) -> dict:
        from .inputs import micro_batches, operator_inputs, parquet_rows

        self.dir, fp = operator_inputs(run.cache, run.seed)
        bdir, bfp = micro_batches(run.cache, run.seed, self.batch_rows, self.n_batches)
        self.batch_paths = [os.path.join(bdir, f"batch_{b:03d}.parquet")
                            for b in range(self.n_batches)]
        self.n_edges = fp["rows"]["cc_edges"]
        self.batch_pages = [parquet_rows(p) for p in self.batch_paths]
        self.warm_texts = pd.read_parquet(
            f"{self.dir}/documents.parquet", columns=["text"]).text.head(32).tolist()
        return {"name": f"{fp['name']}+{bfp['name']}", "rows": {**fp["rows"], **bfp["rows"]},
                "sha256": hashlib.sha256((fp["sha256"] + bfp["sha256"]).encode()).hexdigest()}

    def warm(self, run: Run) -> None:
        pass  # a warm-up pass does not fit the run budget; see README

    def install_spans(self, tracer: Tracer) -> None:
        pass  # every call is already an operation span

    def iterate(self, run: Run, i: int) -> Iteration:
        from finddup_spark.operators.cc import connected_components
        from finddup_spark.streaming.incremental import merge_batch

        spark = run.spark
        edges = spark.read.parquet(f"{self.dir}/cc_edges.parquet")
        calls = [(name, lambda fn=fn: frame_digest(fn())) for name, fn in _suite(spark, self.dir)]
        calls.append(("cc.connected_components", lambda: connected_components(
            edges, driver_threshold=self.n_edges // 2).toPandas()))
        self.state = os.path.join(run.work, f"incremental-{i}", "state")
        self.assigned = os.path.join(run.work, f"incremental-{i}", "assignments")
        self.batch_ms = []
        t0 = time.monotonic()
        for name, fn in calls:
            self.results[name] = run.op(name, fn)
        for path in self.batch_paths:
            tb = time.monotonic()
            run.op("incremental.merge_batch", lambda path=path: merge_batch(
                spark, spark.read.parquet(path), self.state,
            ).write.mode("append").parquet(self.assigned))
            self.batch_ms.append((time.monotonic() - tb) * 1000)
        # the micro-batches are the primary pass: pages/s of incremental
        # merging over the batches after the first (which creates the state
        # and loads the merge path, 3-5x slower)
        rate = 1000 * sum(self.batch_pages[1:]) / sum(self.batch_ms[1:])
        return Iteration(time.monotonic() - t0, rate)

    def verify(self, run: Run) -> None:
        from finddup_spark.operators.cc import connected_components
        from finddup_spark.streaming.incremental import read_state

        spark = run.spark
        with open(EXPECTED_PATH) as f:
            expected = json.load(f)
        for name, _ in _suite(spark, self.dir):
            got = self.results[name]
            run.check(f"{name}.digest", lambda name=name, got=got: (
                got is not None and list(got) == expected[name], {"got": got}))

        def cc_ok():
            edges = spark.read.parquet(f"{self.dir}/cc_edges.parquet")
            want = connected_components(edges).toPandas()  # driver union-find
            key = ["doc_id", "cluster_id"]
            a = self.results["cc.connected_components"].sort_values(key).reset_index(drop=True)
            b = want.sort_values(key).reset_index(drop=True)
            return a.equals(b), f"{len(b)} labels"

        run.check("cc.matches_driver_path", cc_ok)

        def state_ok():
            state = read_state(spark, self.state).toPandas()
            texts = pd.concat([pd.read_parquet(p) for p in self.batch_paths]).text.dropna()
            want = {hashlib.sha256(t.encode("utf-8")).hexdigest() for t in texts}
            one_each = state.groupby("content_sha").cluster_id.nunique().max() == 1
            rows = len(state) == len(want) and set(state.content_sha) == want
            assigned = len(pd.read_parquet(self.assigned)) == len(texts)
            return one_each and rows and assigned, f"{len(state)} hashes, {len(texts)} docs"

        run.check("incremental.one_cluster_per_hash", state_ok)

    def layers(self, run: Run, spans, incl) -> dict:
        from finddup_spark.streaming.incremental import read_state

        out: dict[str, float] = {}
        for name, _ in _suite(run.spark, self.dir):
            s = run.tracer.by_name(name)[-1]
            out[f"{name}.wall_s"] = s.duration
            out[f"{name}.jobs"] = counter_jobs(s)
        out.update(_cc_layer(run.tracer.by_name("cc.connected_components")[-1], incl))
        batches = run.tracer.by_name("incremental.merge_batch")[-self.n_batches:]
        out["incremental.merge_batch.jobs"] = median([counter_jobs(s) for s in batches])
        out["incremental.merge_batch.task_s"] = sum(
            j.task_s for s in batches for j in incl[s.span_id])
        out["incremental.batch_p50_ms"] = median(self.batch_ms)
        out["incremental.state_rows"] = read_state(run.spark, self.state).count()
        return out
