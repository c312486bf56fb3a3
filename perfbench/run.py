"""Benchmark of the reserve engine: one command, one workload per run.

    python3 perfbench/run.py --workload reserve --seed 1 --seconds 5 --trace 0

Runs from the root of a source checkout on ``local[<nproc>]`` in this one
driver process. It generates the workload's inputs from ``--seed`` under
``.perfbench/``, times ``session.get_spark`` plus the first Python-kernel
job three times (``setup_s`` is their median), warms up, then runs jobs in
a closed loop for ``--seconds`` of job time, checking every result outside
the timed region. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` a traced phase runs between two untraced ones (ingest: one
traced gate call), and the metrics are the per-layer metrics, the tracing
overhead among them. The
line before it is a JSON ``detail`` object: the percentile behind
``job_tail_s`` and its sample count, the unit of work, the failed ratio,
and why any metric reads 0 (``not_measured``). A traced run also writes its spans
to ``.perfbench/trace-<workload>-<seed>.json``. The exit code is 1 when
any result is wrong.

``bench.py`` at the repository root is a different harness (the headline
per-slot numbers) and is not this benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

SETUP_SAMPLES = 3
MIN_JOBS = 3


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples beyond): the 11th-largest sample. Below 20
    samples that percentile would lie under the median, so the maximum is
    reported instead, as p100 with 0 beyond."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def start_spark(cores: int, work: str):
    from actuarial_reserve_modelling_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed heap size: peak RSS then follows what the run uses,
            # not when the JVM chose to grow its heap
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job of a run in the status store for the collector
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(cores: int, data_dir: str, work: str):
    """``session.get_spark`` plus the first Python-kernel job (a one-policy
    valuation, which forks the worker pool), SETUP_SAMPLES times; every
    session but the last is stopped. Returns the live session and the
    (get_spark, first kernel) samples."""
    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.functions.reserves import total_reserves

    samples = []
    for i in range(SETUP_SAMPLES):
        t0 = time.perf_counter()
        spark = start_spark(cores, work)
        t1 = time.perf_counter()
        total_reserves(load_table(spark, data_dir, "setup_policy"), n_trials=1_000).collect()
        samples.append((t1 - t0, time.perf_counter() - t1))
        if i < SETUP_SAMPLES - 1:
            spark.stop()
    return spark, samples


def stop_jvm() -> None:
    """End the JVM (and with it the Python worker daemon) and wait for it.
    PySpark starts it with a pipe on its stdin and the JVM exits when that
    pipe closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(jobs, setup_samples, peak_bytes) -> tuple[dict, dict]:
    walls = [j.wall_s for j in jobs]
    t_value, t_pct, t_beyond = tail(walls)
    m = {
        "setup_s": statistics.median(a + b for a, b in setup_samples),
        "job_p50_s": statistics.median(walls),
        "job_tail_s": t_value,
        "throughput_per_s": sum(j.units for j in jobs) / sum(walls),
        # a median, so a burst of JIT compilation in one job does not count
        "cpu_s_per_unit": statistics.median(j.cpu_s / j.units for j in jobs),
        "peak_rss_mb": peak_bytes / 2**20,
    }
    detail = {"job_tail_percentile": t_pct, "job_tail_samples_beyond": t_beyond,
              "jobs": len(jobs), "units_per_job": statistics.median(j.units for j in jobs),
              "job_walls_s": walls}
    return m, detail


def traced_layers(wl, status, tracer, untraced, traced, setup_samples) -> dict:
    layers = wl.layers(tracer, traced)
    # every span carries the Spark counters of the jobs fired inside it
    status.refresh()
    for s in tracer.spans:
        if "counters" not in s.attrs:
            groups = {d.group for d in [s, *tracer.descendants(s)]}
            s.attrs["counters"] = status.counters(status.jobs(groups))
    layers.update({
        "session.get_spark_s": statistics.median(a for a, _b in setup_samples),
        "session.first_kernel_s": statistics.median(b for _a, b in setup_samples),
    })
    if untraced:
        base = statistics.median(j.wall_s for j in untraced)
        over = statistics.median(j.wall_s for j in traced) - base
        layers["trace.overhead_s"] = over
        layers["trace.overhead_pct"] = 100.0 * over / base
    for name, t in tracer.self_times().items():
        layers[f"self.{name}_s"] = t
    return layers


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sizes: dict | None = None, tamper=None) -> tuple[dict, dict | None, dict]:
    """One benchmark run in the scratch directory ``work``, which it
    removes. Returns (end-to-end values, per-layer values or None when not
    traced, detail). ``tamper(wl)``, when given, may alter the prepared
    workload (the self-check plants a wrong answer through it)."""
    import gen
    from probes import SparkStatus, TreeSampler
    from spans import Tracer
    from workloads import SIZES, WORKLOADS

    cores = len(os.sched_getaffinity(0))  # what nproc reports
    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    wl = WORKLOADS[workload](data, seed, (sizes or SIZES)[workload])
    t0 = time.perf_counter()
    wl.generate()
    gen.portfolio(data, seed, 1, name="setup_policy")
    gen_s = time.perf_counter() - t0

    spark, setup_samples = setup(cores, data, work)
    try:
        status = SparkStatus(spark.sparkContext)
        wl.prepare(spark, status)
        if tamper:
            tamper(wl)
        off = Tracer(spark.sparkContext, enabled=False)
        on = Tracer(spark.sparkContext, enabled=True)
        # warm-up results are checked too: a wrong answer anywhere fails
        warm = wl.measure(off, 0.0, wl.warmup_jobs) if wl.warmup_jobs else []
        single = trace and not wl.untraced_phase_in_traced_run
        with TreeSampler() as sampler:
            wl.sampler = sampler
            jobs = wl.measure(on if single else off, seconds, MIN_JOBS)
        wl.sampler = None
        metrics, detail = end_to_end(jobs, setup_samples, sampler.peak_bytes)
        all_jobs, layers = warm + jobs, None
        if trace and single:
            layers = traced_layers(wl, status, on, None, jobs, setup_samples)
        elif trace:
            # untraced phases on both sides of the traced one, so that the
            # JVM still warming up does not read as (negative) overhead
            traced = wl.measure(on, seconds, MIN_JOBS)
            after = wl.measure(off, seconds, MIN_JOBS)
            all_jobs += traced + after
            layers = traced_layers(wl, status, on, jobs + after, traced, setup_samples)
        if trace:
            with open(os.path.join(STATE, f"trace-{workload}-{seed}.json"), "w") as fh:
                json.dump({"spans": on.dump(), "detail": wl.detail}, fh, default=str)
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    oks = [j.ok for j in all_jobs] + wl.extra_checks
    detail.update({
        "workload": workload, "seed": seed, "unit_of_work": wl.unit, "cores": cores,
        "sizes": wl.sizes, "input_gen_s": gen_s, "setup_samples_s": setup_samples,
        "attempted": len(oks), "failed": oks.count(False),
        "failed_ratio": oks.count(False) / len(oks), "workload_detail": wl.detail,
    })
    return metrics, layers, detail


def result(values: dict, detail: dict, spec: list[dict]) -> dict:
    """The result object: every metric of ``spec`` with its unit. A metric
    the run could not measure reads 0, and ``detail["not_measured"]``
    says why."""
    why = detail["workload_detail"].get("why_not_measured", {})
    detail["not_measured"] = {
        m["name"]: why.get(m["name"], "the workload does not call this layer")
        for m in spec if m["name"] not in values}
    return {
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in spec},
    }


def manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # before anything reads it
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    try:
        import actuarial_reserve_modelling_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    e2e, layers, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    spec = manifest()
    out = result(layers, detail, spec["per_layer"]) if args.trace else result(
        e2e, detail, spec["end_to_end"])
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
