"""The benchmark's workloads. Each one generates its inputs from the seed,
runs jobs in a closed loop (one client; the next job is submitted when
the previous one has finished), checks every result outside the timed
region, and, in a traced run, reports its layers from spans and Spark's
own metrics."""

from __future__ import annotations

import contextlib
import io
import os
import random
import re
import statistics
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import functions as F

from actuarial_reserve_modelling_spark import catalog
from actuarial_reserve_modelling_spark.functions.reserves import simulate_reserves, total_reserves
from actuarial_reserve_modelling_spark.operators.dedup import (
    dedup_clusters,
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    minhash_signatures,
    verify_jaccard,
)
from actuarial_reserve_modelling_spark.plans import registry
from actuarial_reserve_modelling_spark.streaming.pipeline import incremental_neardup_ingest

import checks
import gen
from probes import GateListener, SparkStatus, dir_usage, tree_cpu_s

# Input sizes per workload. TINY is what the self-check runs.
SIZES = {
    "reserve": {"policies": 24_000, "trials": 10_000, "analyst_scale": 0.1},
    "ingest": {"batches": 4, "docs_per_batch": 100, "exact_share": 0.15, "near_share": 0.15},
}
TINY = {
    "reserve": {"policies": 400, "trials": 1_000, "analyst_scale": 0.002},
    "ingest": {"batches": 4, "docs_per_batch": 40, "exact_share": 0.15, "near_share": 0.15},
}

ANALYST_QUERIES = (
    "a4_groupby_q1",
    "j1_broadcast_join_agg",
    "j2_left_outer_join",
    "j5_asof_join",
    "w1_ranking",
    "w3_running_agg",
    "w4_topk_per_group",
)
# the ingest gate's near-duplicate parameters (its defaults, the l2 path's
# 16 bands x 16 rows at tau 0.95)
TAU, BANDS, ROWS = 0.95, 16, 16
# Threshold compaction rewrites a tier partition holding more than this many
# files. The gate's default of 8 needs 10+ batches (~10 s each on 4 cores) before
# the first rewrite, more than a run can spend; at 1, batch 2 compacts.
AUTO_COMPACT = 1


@dataclass
class Job:
    wall_s: float
    cpu_s: float
    units: int
    ok: bool
    trace: int = 0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def closed_loop(tracer, seconds: float, min_jobs: int, run, check, units) -> list[Job]:
    """Run jobs back to back until ``seconds`` of job time and ``min_jobs``
    jobs are done. Only ``run`` is timed; CPU is sampled just outside it."""
    jobs: list[Job] = []
    busy = 0.0
    while busy < seconds or len(jobs) < min_jobs:
        trace = tracer.new_trace()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("job") as span:
            result = run()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if span is not None:
            span.attrs["cpu_s"] = cpu
        jobs.append(Job(wall, cpu, units(result), check(result), trace))
        busy += wall
    return jobs


def span_counters(tracer, status: SparkStatus, span) -> dict[str, float]:
    """Spark counters of every job fired inside ``span`` or its children,
    plus the process-tree CPU the span used minus JVM task CPU."""
    groups = {s.group for s in [span, *tracer.descendants(span)]}
    c = status.counters(status.jobs(groups))
    c["python_cpu_s"] = max(0.0, span.attrs.get("cpu_s", 0.0) - c["jvm_cpu_s"])
    return c


@contextlib.contextmanager
def cpu_span(tracer, name: str):
    """A span that also records the process-tree CPU it used, sampled
    just outside its timed region."""
    cpu0 = tree_cpu_s() if tracer.enabled else 0.0
    with tracer.span(name) as s:
        yield s
    if s is not None:
        s.attrs["cpu_s"] = tree_cpu_s() - cpu0


def median_of(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def job_counter_metrics(counters: list[dict[str, float]]) -> dict[str, float]:
    keys = ("jobs", "tasks", "jvm_cpu_s", "python_cpu_s", "gc_s", "input_bytes",
            "shuffle_bytes", "output_bytes", "task_skew")
    return {f"job.{k}": median_of(c[k] for c in counters) for k in keys}


class Workload:
    """Shared defaults: no warm-up jobs, a separate traced phase."""

    warmup_jobs = 0
    # a traced run measures an untraced phase and then a traced one; a
    # workload whose phase is too long for two says False and is traced once
    untraced_phase_in_traced_run = True
    sampler = None  # the run's TreeSampler while the measured phase runs

    def __init__(self, data_dir: str, seed: int, sizes: dict):
        self.dir, self.seed, self.sizes = data_dir, seed, sizes
        self.detail: dict = {}
        # verdicts of checks made outside the measured jobs
        self.extra_checks: list[bool] = []



class Reserve(Workload):
    """Each job is one ``total_reserves`` valuation of a seeded portfolio:
    the paper's scan -> seeded per-policy Monte Carlo kernel -> sum."""

    name, unit = "reserve", "policies"
    warmup_jobs = 2
    reference: float | None = None

    def generate(self) -> None:
        self.terms = gen.portfolio(self.dir, self.seed, self.sizes["policies"])

    def prepare(self, spark, status) -> None:
        self.spark, self.status = spark, status

    def run(self, tracer) -> float:
        with tracer.span("catalog.scan"):
            pf = catalog.load_table(self.spark, self.dir, "policies")
        with cpu_span(tracer, "reserves.total"):
            return total_reserves(pf, n_trials=self.sizes["trials"], seed=self.seed).collect()[0][0]

    def check(self, total: float) -> bool:
        """Within RESERVE_SIGMAS of the analytic mean, and bit-identical to
        the first job's total (same seed, same inputs)."""
        if self.reference is None:
            self.reference = total
        z = checks.reserve_z(total, self.terms, self.sizes["trials"])
        self.detail.setdefault("z", z)
        return total == self.reference and abs(z) < checks.RESERVE_SIGMAS

    def measure(self, tracer, seconds: float, min_jobs: int) -> list[Job]:
        jobs = closed_loop(tracer, seconds, min_jobs, lambda: self.run(tracer), self.check,
                           lambda _r: self.sizes["policies"])
        if tracer.enabled:
            self._recompose(tracer)
        return jobs

    def _recompose(self, tracer) -> None:
        # The kernel on its own (a re-composition: simulate_reserves run to
        # the noop sink), three times, outside the jobs' timing.
        for _ in range(3):
            tracer.new_trace()
            with tracer.span("reserves.kernel", recomposition=True):
                noop(simulate_reserves(catalog.load_table(self.spark, self.dir, "policies"),
                                       n_trials=self.sizes["trials"], seed=self.seed))

    def layers(self, tracer, jobs: list[Job]) -> dict[str, float]:
        self.status.refresh()
        totals = [s for s in tracer.spans if s.name == "reserves.total"]
        kernels = [s for s in tracer.spans if s.name == "reserves.kernel"]
        counters = [span_counters(tracer, self.status, s) for s in totals]
        total_s = median_of(s.end - s.start for s in totals)
        kernel_s = median_of(s.end - s.start for s in kernels)
        job_spans = [s for s in tracer.spans if s.name == "job"]
        return {
            "reserves.kernel_s": kernel_s,
            "reserves.agg_s": total_s - kernel_s,
            "reserves.cpu_us_per_policy": median_of(
                s.attrs["cpu_s"] / self.sizes["policies"] * 1e6 for s in totals),
            "reserves.tasks": median_of(c["tasks"] for c in counters),
            "reserves.task_skew": median_of(c["task_skew"] for c in counters),
            "reserves.busy_cores": median_of(
                c["run_s"] / (s.end - s.start) for c, s in zip(counters, totals)),
            **job_counter_metrics([span_counters(tracer, self.status, s) for s in job_spans]),
            **self._analyst_pass(tracer),
        }

    def _analyst_pass(self, tracer) -> dict[str, float]:
        """The plans and catalog layers: two warm-up rounds and one measured
        round of the analyst queries over seeded star tables, each query
        checked against its DuckDB oracle. In the traced run only: as a
        workload of its own, the analyst mix needs more warm-up than a run
        can afford to read steadily."""
        analyst = Analyst(self.dir, self.seed, {"scale": self.sizes["analyst_scale"]})
        analyst.generate()
        analyst.prepare(self.spark, self.status)
        analyst.measure(tracer, 0.0, analyst.warmup_jobs)
        measured = analyst.measure(tracer, 0.0, len(ANALYST_QUERIES))
        self.extra_checks += [v is None for v in analyst.verdict.values()]
        if "mismatch" in analyst.detail:
            self.detail["analyst_mismatch"] = analyst.detail["mismatch"]
        layers = analyst.layers(tracer, measured)
        return {k: v for k, v in layers.items() if k.startswith(("plans.", "catalog."))}


class Analyst(Workload):
    """The seven relational registry queries, in a seeded order, to the
    noop sink: JVM/Catalyst only, no Python kernel. Run as a pass inside a
    traced reserve run, not as a workload of its own."""

    name, unit = "analyst", "queries"
    # the query mix is still speeding up over its first rounds (codegen,
    # JIT): a fixed number of warm-up rounds puts every run at the same
    # point of that curve
    warmup_jobs = 2 * len(ANALYST_QUERIES)

    def __init__(self, data_dir: str, seed: int, sizes: dict):
        super().__init__(data_dir, seed, sizes)
        self.order = random.Random(seed)
        self.queue: list[str] = []
        self.verdict: dict[str, str | None] = {}

    def generate(self) -> None:
        gen.star_tables(self.dir, self.seed, self.sizes["scale"])

    def prepare(self, spark, status) -> None:
        self.spark, self.status = spark, status
        reg = registry.load_all()
        self.queries = {n: reg[n] for n in ANALYST_QUERIES}
        self.con = checks.duck({t: os.path.join(self.dir, f"{t}.parquet") for t in
                                ("customer", "nation", "orders", "lineitem", "events")})

    def _next(self) -> str:
        if not self.queue:
            self.queue = list(ANALYST_QUERIES)
            self.order.shuffle(self.queue)
        return self.queue.pop()

    def run(self, tracer) -> str:
        name = self._next()
        with tracer.span("plans.build", query=name):
            df = self.queries[name].spark_fn(self.spark, self.dir)
        with tracer.span("plans.exec", query=name):
            noop(df)
        return name

    def check(self, name: str) -> bool:
        """Each query's result is compared with its DuckDB oracle once per
        run; the verdict holds for every job of that query."""
        if name not in self.verdict:
            q = self.queries[name]
            self.verdict[name] = checks.analyst_matches(
                self.con, q.oracle, q.spark_fn(self.spark, self.dir))
            if self.verdict[name]:
                self.detail.setdefault("mismatch", {})[name] = self.verdict[name]
        return self.verdict[name] is None

    def measure(self, tracer, seconds: float, min_jobs: int) -> list[Job]:
        traced = _TracedLoads(tracer) if tracer.enabled else contextlib.nullcontext()
        with traced:
            return closed_loop(tracer, seconds, min_jobs, lambda: self.run(tracer), self.check,
                               lambda _r: 1)

    def layers(self, tracer, jobs: list[Job]) -> dict[str, float]:
        self.status.refresh()
        traces = {j.trace for j in jobs}
        spans = [s for s in tracer.spans if s.trace in traces]
        builds = [s for s in spans if s.name == "plans.build"]
        execs = [s for s in spans if s.name == "plans.exec"]
        build_c = [span_counters(tracer, self.status, s) for s in builds]
        exec_c = [span_counters(tracer, self.status, s) for s in execs]
        per_job_scan: dict[int, float] = {}
        for s in spans:
            if s.name == "catalog.scan":
                per_job_scan[s.trace] = per_job_scan.get(s.trace, 0.0) + s.end - s.start
        return {
            "catalog.scan_s": median_of(per_job_scan.values()),
            "catalog.input_bytes": median_of(c["input_bytes"] for c in exec_c),
            "plans.build_s": median_of(s.end - s.start for s in builds),
            "plans.build_jobs": sum(c["jobs"] for c in build_c),
            "plans.exec_s": median_of(s.end - s.start for s in execs),
            "plans.jobs_per_query": median_of(c["jobs"] for c in exec_c),
        }


class _TracedLoads:
    """Routes the analyst queries' ``load_table`` calls through a
    ``catalog.scan`` span for the duration of a traced phase. The query
    modules bind ``load_table`` by name, so the wrapper is installed on
    those modules and removed afterwards."""

    def __init__(self, tracer):
        from actuarial_reserve_modelling_spark.plans import relational, window_queries

        self.mods = (relational, window_queries)
        self.tracer = tracer

    def __enter__(self):
        original = catalog.load_table

        def load_table(spark, sf_dir, name):
            with self.tracer.span("catalog.scan", table=name):
                return original(spark, sf_dir, name)

        for m in self.mods:
            m.load_table = load_table
        return self

    def __exit__(self, *exc):
        for m in self.mods:
            m.load_table = catalog.load_table


_GATE_LINE = re.compile(r"ARM_GATE_TIMING \S+ batch=(\d+) (.*)")
# the gate's sequential timing labels, in order -> gate.phase metric names
_PHASES = {"compact": "compact", "exact_tier": "exact", "within_batch": "within",
           "cross_batch": "cross", "sink": "sink", "appends": "append"}
_TIERS = ("fp_index", "dedup_index")


def _plan_sections(plan: str) -> list[tuple[str, str]]:
    """(operator, detail text) of each numbered section of a formatted
    physical plan, in plan order."""
    out = []
    for block in re.split(r"\n\s*\n", plan):
        m = re.match(r"\s*\(\d+\) (.+)", block)
        if m:
            out.append((m.group(1).strip(), block))
    return out


class Ingest(Workload):
    """Each job is one micro-batch of the near-duplicate ingest gate
    (``incremental_neardup_ingest``, the t11 gate) over ordered batches of
    a seeded corpus with planted exact and near duplicates within and
    across batches. One gate call ingests all batches: the gate runs them
    as one streaming query, so the benchmark cannot act between batches.
    Batch 0 bootstraps the persisted tiers and is not a measured job; the
    threshold compaction (AUTO_COMPACT) rewrites partitions in the later
    batches."""

    name, unit = "ingest", "documents"
    calls = 0
    # a gate call takes ~35 s; its traced run makes one traced call (the
    # tracing inside the call is the gate's own ARM_GATE_TIMING lines)
    untraced_phase_in_traced_run = False

    def __init__(self, data_dir: str, seed: int, sizes: dict):
        super().__init__(data_dir, seed, sizes)
        why = ("a traced ingest run makes one traced gate call; compare its "
               "gate.batch_s with job_p50_s of an untraced run")
        self.detail["why_not_measured"] = {"trace.overhead_s": why, "trace.overhead_pct": why}

    def generate(self) -> None:
        n_b, per = self.sizes["batches"], self.sizes["docs_per_batch"]
        self.ids, self.texts = gen.corpus(self.seed, n_b, per, self.sizes["exact_share"],
                                          self.sizes["near_share"])
        self.path = os.path.join(self.dir, "documents.parquet")
        gen.write_docs(self.path, self.ids, self.texts, [i // per for i in range(n_b * per)])

    def prepare(self, spark, status) -> None:
        self.spark, self.status = spark, status
        self.listener = GateListener()
        spark.streams.addListener(self.listener)
        con = checks.duck({"documents": self.path})
        self.expected = checks.ingest_replay(con, self.sizes["batches"], TAU)
        self.expected_pairs = checks.near_dup_pairs(con, TAU)
        con.close()

    def _gate(self, tracer, work: str):
        docs = self.spark.read.parquet(self.path)
        frames = [docs.filter(F.col("batch") == b).select("doc_id", "text")
                  for b in range(self.sizes["batches"])]
        self.calls += 1
        out = io.StringIO()
        if tracer.enabled:
            os.environ["ARM_GATE_TIMING"] = "1"
        try:
            with contextlib.redirect_stdout(out):
                admitted = incremental_neardup_ingest(
                    self.spark, frames, cache_key=uuid.uuid4().hex, threshold=TAU,
                    bands=BANDS, rows_per_band=ROWS, auto_compact=AUTO_COMPACT, work_dir=work)
        finally:
            os.environ.pop("ARM_GATE_TIMING", None)
        return admitted, out.getvalue()

    def measure(self, tracer, seconds: float, min_jobs: int) -> list[Job]:
        # ``seconds`` does not shorten the call: the batch count is fixed so
        # that compaction happens, and sized so the call lasts about as long.
        work = os.path.join(self.dir, f"gate{self.calls}")
        first = len(self.listener.batches)
        tracer.new_trace()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("gate.call") as call:
            admitted, log = self._gate(tracer, work)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        n_b, per = self.sizes["batches"], self.sizes["docs_per_batch"]
        self.listener.wait_for(first + n_b)
        progress = self.listener.batches[first:first + n_b]
        got = {(int(r[0]), int(r[1])) for r in admitted.collect()}
        bad = {b for _d, b in got ^ self.expected}
        if bad:
            self.detail["wrong_batches"] = sorted(bad)
        files = size = 0
        for tier in _TIERS:
            f, s = dir_usage(os.path.join(work, tier))
            files, size = files + f, size + s
        self.detail.update({"call_wall_s": wall, "call_cpu_s": cpu, "kept_docs": len(got),
                            "tier_files": files, "tier_bytes": size})
        self.last = {"work": work, "progress": progress, "log": log, "call": call,
                     "got": got}
        # a batch's CPU: from the sampler's series over the listener's batch
        # window, or (no sampler running) the call's CPU shared by rows
        return [Job(p["batch_s"],
                    self.sampler.cpu_between(p["start"], p["start"] + p["batch_s"])
                    if self.sampler else cpu * p["rows"] / (n_b * per),
                    p["rows"], p["batch"] not in bad) for p in progress if p["batch"] > 0]

    def _batch_spans(self, tracer, progress, log) -> None:
        """gate.batch spans from the listener's progress events, with the
        gate's own timing lines laid out in order as their children."""
        marks = {}
        for line in log.splitlines():
            m = _GATE_LINE.match(line)
            if m:
                marks[int(m.group(1))] = dict(kv.split("=") for kv in m.group(2).split())
        offset = time.time() - time.perf_counter()
        call = self.last["call"]
        for p in progress:
            start = p["start"] - offset
            b = tracer.add("gate.batch", start, start + p["batch_s"], call, batch=p["batch"])
            t = start + p["batch_s"] - p["add_batch_s"]
            for label, name in _PHASES.items():
                d = float(marks.get(p["batch"], {}).get(label, 0.0))
                tracer.add(f"gate.phase.{name}", t, t + d, b, batch=p["batch"])
                t += d

    def layers(self, tracer, jobs: list[Job]) -> dict[str, float]:
        last = self.last
        self._batch_spans(tracer, last["progress"], last["log"])
        self.status.refresh()
        run_id = last["progress"][0]["run_id"]
        batches = [p for p in last["progress"] if p["batch"] > 0]
        kept = {}
        for d, b in last["got"]:
            kept[b] = kept.get(b, 0) + 1
        counters, reads, writes, rewrites, kept_bytes = [], [], [], [], 0
        for p, j in zip(batches, jobs):
            js = self.status.jobs({run_id}, f"batch = {p['batch']}")
            c = self.status.counters(js)
            c["python_cpu_s"] = max(0.0, j.cpu_s - c["jvm_cpu_s"])
            counters.append(c)
            for s in tracer.spans:
                if s.name == "gate.batch" and s.attrs["batch"] == p["batch"]:
                    s.attrs["counters"] = c
            r, w, cw = self._tier_io(js, last["work"])
            reads.append(r)
            writes.append(w)
            rewrites.append(cw)
        text_of = dict(zip(self.ids, self.texts))
        for d, b in last["got"]:
            if b > 0:
                kept_bytes += 8 + len(text_of[d].encode())
        phase = {}
        for s in tracer.spans:
            if s.name.startswith("gate.phase.") and s.attrs["batch"] > 0:
                phase.setdefault(s.name, []).append(s.end - s.start)
        rows = sum(p["rows"] for p in batches)
        admitted = sum(kept.get(p["batch"], 0) for p in batches)
        self.detail["compactions"] = sum(1 for x in rewrites if x > 0)
        return {
            "gate.batch_s": median_of(p["batch_s"] for p in batches),
            "gate.rows_in": median_of(p["rows"] for p in batches),
            "gate.admitted": median_of(kept.get(p["batch"], 0) for p in batches),
            "gate.admit_ratio": admitted / rows,
            **{f"{n}_s": median_of(v) for n, v in phase.items()},
            "tier.bytes_read_per_batch": median_of(reads),
            "tier.bytes_written_per_batch": median_of(writes),
            "tier.files": float(self.detail["tier_files"]),
            "tier.compact_bytes_rewritten": sum(rewrites),
            "tier.write_amp": sum(writes) / kept_bytes,
            "tier.bytes_per_kept_doc": self.detail["tier_bytes"] / len(last["got"]),
            **job_counter_metrics(counters),
            **self._curation_pass(tracer),
        }

    def _tier_io(self, jobs, work: str) -> tuple[float, float, float]:
        """Bytes one batch read from and wrote to the two tiers, and the
        bytes its compaction rewrote, from the scan and write nodes of the
        batch's SQL executions. A node is matched to a path through the
        plan text: scans and writes appear in the same left-to-right order
        in the node list (by node id) and in the formatted plan."""
        tiers = tuple(os.path.join(work, t) for t in _TIERS)
        read = wrote = rewrote = 0.0
        for e in self.status.sql(jobs):
            sections = _plan_sections(e.get("planDescription", ""))
            scans = [t for op, t in sections if op.startswith("Scan parquet")]
            nodes = sorted(e["nodes"], key=lambda n: n["id"])
            scan_nodes = [n for n in nodes if n["name"].startswith("Scan parquet")]
            if len(scans) == len(scan_nodes):
                for text, n in zip(scans, scan_nodes):
                    if any(t in text for t in tiers):
                        read += n["metrics"].get("size of files read", 0.0)
            else:
                self.detail["unmatched_scan_plans"] = self.detail.get("unmatched_scan_plans", 0) + 1
            writes = [t for op, t in sections if "InsertIntoHadoopFsRelationCommand" in op]
            for text, n in zip(writes, [n for n in nodes if "InsertIntoHadoop" in n["name"]]):
                args = next((ln for ln in text.splitlines() if ln.startswith("Arguments:")), "")
                if any(t in args.split(",")[0] for t in tiers):
                    b = n["metrics"].get("written output", 0.0)
                    wrote += b
                    if ", Overwrite," in args and n["metrics"].get("number of dynamic part"):
                        rewrote += b  # a partition rewrite: the compaction
        return read, wrote, rewrote

    def _curation_pass(self, tracer) -> dict[str, float]:
        """The l2 batch near-duplicate path over the whole corpus (pairs,
        then clusters), with its candidate and verified counts read from
        the SQL nodes of that very execution, checked against exact
        Jaccard. The stage times come from a re-composition: each public
        stage function run on its own to an eager checkpoint."""
        docs = self.spark.read.parquet(self.path).select("doc_id", "text")
        tracer.new_trace()
        with tracer.span("dedup.pairs") as sp:
            pairs = minhash_near_dup_pairs(docs, threshold=TAU, bands=BANDS,
                                           rows_per_band=ROWS).localCheckpoint(eager=True)
        with tracer.span("dedup.cluster") as sc_:
            reps = {int(r[0]): int(r[1])
                    for r in dedup_clusters(pairs.select("d1", "d2")).collect()}
        got = {(int(r[0]), int(r[1])) for r in pairs.select("d1", "d2").collect()}
        ok = got == self.expected_pairs and reps == checks.clusters(self.expected_pairs)
        self.extra_checks.append(ok)
        self.detail["curation_pass_correct"] = ok
        self.status.refresh()
        joins = [n for e in self.status.sql(self.status.jobs({sp.group}))
                 for n in e["nodes"] if "Join" in n["name"]]
        joins.sort(key=lambda n: -n["id"])  # deepest first: candidates join side 1
        cands = joins[0]["metrics"].get("number of output rows", 0.0) if joins else 0.0
        verified = joins[1]["metrics"].get("number of output rows", 0.0) if len(joins) > 1 else 0.0
        with tracer.span("dedup.sign", recomposition=True) as s1:
            sig = minhash_signatures(docs, num_hashes=BANDS * ROWS).localCheckpoint(eager=True)
        with tracer.span("dedup.candidates", recomposition=True) as s2:
            cand = lsh_candidate_pairs(sig, bands=BANDS, rows_per_band=ROWS).localCheckpoint(
                eager=True)
        with tracer.span("dedup.verify", recomposition=True) as s3:
            verify_jaccard(cand, docs, TAU).localCheckpoint(eager=True)
        return {
            "dedup.sign_s": s1.end - s1.start,
            "dedup.candidates_s": s2.end - s2.start,
            "dedup.verify_s": s3.end - s3.start,
            "dedup.cluster_s": sc_.end - sc_.start,
            "dedup.candidates": cands,
            "dedup.pairs": verified,
            "dedup.pairs_per_candidate": verified / cands if cands else 0.0,
        }


WORKLOADS = {w.name: w for w in (Reserve, Ingest)}
