"""Self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

For each workload: one traced run, asserting that every metric named in
BENCHMARK.json comes out with its unit and that the result is correct;
then one run with a planted wrong answer, asserting it is caught and
counted as a failure. Exits 0 when every assertion holds.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import run  # noqa: E402


def plant(wl) -> None:
    """Make one result of the workload wrong, after its oracle is built."""
    if wl.name == "reserve":
        honest = wl.run
        calls = []

        def run_job(tracer):
            calls.append(1)
            total = honest(tracer)
            return total * 1.001 if len(calls) == 2 else total

        wl.run = run_job
    elif wl.name == "ingest":
        honest = wl._gate

        def gate(tracer, work):
            admitted, log = honest(tracer, work)
            return admitted.filter("batch <> 1 OR doc_id % 2 = 0"), log

        wl._gate = gate


def main() -> int:
    from workloads import TINY, WORKLOADS

    spec = run.manifest()
    os.environ["TMPDIR"] = os.path.join(run.STATE, f"selfcheck-{os.getpid()}", "tmp")
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    problems = []
    for name in WORKLOADS:
        work = os.path.join(run.STATE, f"selfcheck-{os.getpid()}")
        e2e, layers, detail = run.run(name, 7, 2.0, True, work, sizes=TINY)
        for kind, values in (("end_to_end", e2e), ("per_layer", layers)):
            out = run.result(values, detail, spec[kind])
            if not out["correct"]:
                problems.append(f"{name}: wrong results {detail}")
            for m in spec[kind]:
                got = out["metrics"][m["name"]]
                if got["unit"] != m["unit"] or not isinstance(got["value"], float):
                    problems.append(f"{name}: {m['name']} emitted as {got}")
            missing = [n for n in out["metrics"] if n not in values]
            if kind == "end_to_end" and missing:
                problems.append(f"{name}: end-to-end metrics not measured: {missing}")
        print(f"{name}: per-layer metrics not measured: {sorted(detail['not_measured'])}")
        _e2e, _l, bad = run.run(name, 7, 2.0, False, work, sizes=TINY, tamper=plant)
        if bad["failed"] < 1:
            problems.append(f"{name}: planted wrong answer not caught: {bad}")
        print(f"{name}: planted wrong answer -> {bad['failed']} of {bad['attempted']} failed")
    for p in problems:
        print("SELFCHECK FAIL", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
