#!/usr/bin/env python3
"""finddup_spark benchmark: one seeded workload per process.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, table

Run from the repository root. Inputs are generated from ``--seed`` into
``perfbench/.work/cache``; Spark scratch, stage outputs, result records and
span files go under ``perfbench/.work`` too. Human-readable lines come
first; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json, or with ``--trace 1`` its per-layer metrics).
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_SAMPLES = 3
# local[2] on the 4-vCPU benchmark host: two vCPUs stay free for the JVM's
# own threads (JIT, GC, scheduler) and the driver, which would otherwise
# compete with the task slots (see README, "Why local[2]")
CORES = 2


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sandbox(tmp: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``tmp`` (inside the checkout); returns Spark conf to pass along."""
    os.makedirs(tmp, exist_ok=True)
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["SPARK_LAUNCHER_OPTS"] = java
    return {
        "spark.driver.extraJavaOptions": java,
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def make_workload(args):
    from perfbench.workloads import OperatorsWorkload, PipelineWorkload

    if args.workload == "pipeline":
        return PipelineWorkload(rows=args.rows)
    return OperatorsWorkload()


def run_one(args, spec: dict) -> dict:
    import bench
    from finddup_spark.session import get_spark
    from perfbench.kernels import CORPUS_ROWS, corpus_sample, kernel_rates
    from perfbench.inputs import pages_corpus
    from perfbench.sparkstats import WorkerRss, cpu_jiffies, hwm_mb, jvm_pid, steal_pct
    from perfbench.spans import Tracer, driver_gap
    from perfbench.stats import median, percentile, tail_percentile
    from perfbench.workloads import Run, attribute, span_counters, warm_up

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    conf = sandbox(tmp)
    # fixed-work hardware canary, before the JVM exists (ungated: it shows
    # host drift between two sets of runs)
    host = bench.host_control(os.cpu_count() or 1)
    phases = {"canary": time.monotonic() - T_PROCESS}
    wl = make_workload(args)

    # set-up, several times: (re)start the session, check or build the
    # seeded inputs, warm the Python workers. Sample 1 launches the JVM.
    spark = None
    try:
        run, setup, warm = None, [], []
        for k in range(SETUP_SAMPLES):
            t0 = time.monotonic()
            if spark is not None:
                spark.stop()
            spark = get_spark(app_name=f"perfbench-{args.workload}", cores=CORES,
                              extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            t_session = time.monotonic()
            if k == 0:
                start_s = t_session - t0
            run = Run(spark, os.path.join(tmp, "out"), os.path.join(WORK, "cache"), args.seed)
            fingerprint = wl.prepare(run)
            t_warm = time.monotonic()
            warm_up(spark, wl.warm_texts)
            warm.append(time.monotonic() - t_warm)
            setup.append(time.monotonic() - t0)
        # untimed warm-up pass (not part of setup_s: it is the workload's
        # own work, run once so the timed passes find a warm JVM)
        t_warm = time.monotonic()
        wl.warm(run)
        warmup_pass_s = time.monotonic() - t_warm
        first_call_s = time.monotonic() - T_PROCESS
        phases.update(setup=sum(setup), warmup=warmup_pass_s)

        counters = run.counters
        sc = spark.sparkContext
        if args.trace:
            def enter(s):
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(s.group, s.name)
                s.counters["job_first"] = counters.job_id()
                return prev

            def leave(s, prev):
                s.counters["job_end"] = counters.job_id()
                sc.setLocalProperty("spark.jobGroup.id", prev)

            run.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", enter, leave)
            wl.install_spans(run.tracer)

        # timed iterations: whole iterations, another one only if it should
        # still end within --seconds (always at least one)
        iters = []
        job0, w0, cpu0 = counters.job_id(), time.time(), cpu_jiffies()
        t_start = time.monotonic()
        with WorkerRss(jvm_pid(spark)) as rss:
            while True:
                with run.span("iteration"):
                    iters.append(wl.iterate(run, len(iters)))
                elapsed = time.monotonic() - t_start
                if elapsed + iters[-1].wall_s > args.seconds:
                    break
        job_end, w1 = counters.job_id(), time.time()
        # host canary inside the timed window: CPU taken by other guests
        host["steal_pct"] = steal_pct(cpu0, cpu_jiffies())

        t_verify = time.monotonic()
        phases["timed"] = t_verify - t_start
        wl.verify(run)
        phases["verify"] = time.monotonic() - t_verify
        e2e = {
            "wall_s": median([i.wall_s for i in iters]),
            "pages_per_s": median([i.pages_per_s for i in iters]),
            "setup_s": median(setup),
            "worker_rss_mb": rss.median_mb,
        }
        layer: dict[str, float] = {}
        if args.trace:
            spans = run.tracer.spans
            jobs = counters.jobs(job0, job_end)
            incl, left_out = attribute(spans, jobs)
            for s in spans:
                s.counters.update(span_counters(s, incl[s.span_id]))
            try:
                layer.update(wl.layers(run, spans, incl))
            except Exception:  # a failed operation leaves its layer unmeasured
                run.failed += 1
                run.failures.append(f"per-layer metrics: {traceback.format_exc(limit=4)}")
            job_ms = [(j.end - j.start) * 1000 for j in jobs]
            tail = tail_percentile(len(job_ms))
            layer.update({
                "spark.jobs": job_end - job0,
                "spark.jobs_unrecorded": len(counters.missing) + left_out,
                "spark.task_s": sum(j.task_s for j in jobs),
                "spark.shuffle_mb": sum(j.shuffle_mb for j in jobs),
                "spark.driver_gap_s": driver_gap([(j.start, j.end) for j in jobs], w0, w1),
                "spark.job_p50_ms": median(job_ms),
                "spark.job_tail_ms": percentile(job_ms, tail) if tail else 0.0,
                "session.start_s": start_s,
                "session.warmup_s": median(warm),
                "session.first_call_s": first_call_s,
                "session.jvm_hwm_mb": hwm_mb(jvm_pid(spark)),
                "workers.max_rss_mb": rss.max_mb,
                "workers.count": len(rss.peaks),
                "host.alu_wall_n_s": host["alu_wall_n"],
                "host.stream_wall_n_s": host["stream_wall_n"],
                "host.steal_pct": host["steal_pct"],
                "trace_overhead_pct": 100 * run.tracer.overhead_s / sum(i.wall_s for i in iters),
            })
    finally:
        if spark is not None:
            t_stop = time.monotonic()
            stop_spark(spark)
            phases["stop"] = time.monotonic() - t_stop
        shutil.rmtree(tmp, ignore_errors=True)
    if args.trace:
        # L0 kernels: single process, no Spark, on corpus documents
        d, _ = pages_corpus(run.cache, args.seed, CORPUS_ROWS)
        rates = kernel_rates(*corpus_sample(os.path.join(d, "pages.parquet")))
        mods = {"extract_text_series": "extract"}
        for fn, rate in rates.items():
            layer[f"{mods.get(fn, 'hashing')}.{fn}.docs_per_s"] = rate

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{int(args.trace)}")
    if args.trace:
        run.tracer.dump(stem + ".spans.json")

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": int(args.trace),
        "cores": CORES, "iterations": len(iters),
        "inputs": fingerprint, "host_control": host,
        "setup_samples_s": setup, "warmup_pass_s": warmup_pass_s, "phases_s": phases,
        "worker_peaks_mb": sorted(rss.peaks.values()), "checks": run.checks, "failures": run.failures,
        "operation_walls_s": run.op_walls,
        "metrics": metrics, "unlisted_layer_metrics": {
            k: v for k, v in layer.items() if k not in metrics},
    }
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, m in metrics.items():
        print(f"{args.workload:10s} {name:48s} {m['value']:14.4f} {m['unit']}")
    for name, c in run.checks.items():
        print(f"{args.workload:10s} check {name:42s} {'ok' if c['ok'] else 'FAILED'}  {c['detail']}")
    print(f"{args.workload:10s} inputs {json.dumps(fingerprint)}")
    print(f"{args.workload:10s} host_control {json.dumps(host)}")
    return {
        "correct": run.failed == 0 and all(c["ok"] for c in run.checks.values()),
        "attempted": run.attempted, "failed": run.failed, "metrics": metrics,
    }


def run_all(args, spec: dict) -> int:
    """Each workload in its own process (own JVM); prints a summary."""
    rows, ok = [], True
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(int(args.trace))]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(out.stderr[-4000:], file=sys.stderr)
            rows.append((w["name"], None))
            ok = False
            continue
        print("\n".join(lines[:-1]))
        rows.append((w["name"], json.loads(lines[-1])))
    print("\nworkload     correct  failed/attempted")
    for name, res in rows:
        if res is None:
            print(f"{name:12s} did not finish")
        else:
            print(f"{name:12s} {str(res['correct']):8s} {res['failed']}/{res['attempted']}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=1000,
                    help="pipeline corpus generator rows (60000 -> 67,857 pages)")
    args = ap.parse_args()

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload != "all" and args.workload not in names:
        ap.error(f"--workload must be one of {names + ['all']}")
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import finddup_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args, spec)
    print(json.dumps(run_one(args, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
