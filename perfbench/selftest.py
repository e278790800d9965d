"""Smoke-size self-test of the benchmark itself:

    python3 perfbench/selftest.py

Runs every workload at smoke size three times in one process: with the
true oracle (no operation may fail), with one expected value corrupted
(the oracle check must then fail operations, so fail_ratio rises above
0), and traced (every span the workload calls must be recorded, take
time and, unless it only touches files, run Spark jobs). It also checks
that ``BENCHMARK.json`` lists exactly the per-layer metrics a traced run
reports. Exits 1 if any of these does not hold.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench

sys.path.insert(0, bench.ROOT)
import workloads  # noqa: E402


def span_problems(name: str, tracer) -> list[str]:
    """Every span the workload calls must have been recorded, have taken
    time and, unless it only touches files, have run Spark jobs."""
    problems = []
    for span in workloads.WORKLOAD_SPANS[name]:
        recs = [s for s in tracer.spans if s["name"] == span]
        if not recs:
            problems.append(f"{name}: span {span} not recorded")
        elif not all(tracer.self_s(s) > 0 for s in recs):
            problems.append(f"{name}: span {span} took no time")
        elif (span not in workloads.JOBLESS_SPANS
              and not all(s["spark"]["jobs"] > 0 for s in recs)):
            problems.append(f"{name}: span {span} ran no Spark job")
    return problems


def main() -> int:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    problems = ([] if listed == workloads.per_layer_metrics() else
                ["BENCHMARK.json per_layer differs from the metrics a "
                 "traced run reports"])
    work = os.path.join(bench.ROOT, ".perfbench", f"selftest-{os.getpid()}")
    bench.prepare_environment(work)
    b = None
    try:
        for name in workloads.WORKLOADS:
            for corrupt, trace in ((False, False), (True, False),
                                   (False, True)):
                spark = b.spark if b else None
                b = workloads.Bench(name, 1, 0, trace, work,
                                    bench.spark_factory(work),
                                    workloads.SMOKE_SIZES[name], corrupt)
                b.spark = spark  # reuse the JVM; setup restarts the session
                workloads.WORKLOADS[name](b)
                ratio = b.failed / b.attempted
                print(f"{name} corrupt={corrupt} trace={trace}: "
                      f"{b.failed}/{b.attempted} failed")
                if (ratio > 0) != corrupt:
                    problems.append(f"{name} corrupt={corrupt}: fail_ratio "
                                    f"{ratio}")
                if trace:
                    problems += span_problems(name, b.tracer)
    finally:
        bench.stop_spark(b.spark if b else None)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
