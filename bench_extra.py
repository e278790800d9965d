#!/usr/bin/env python
"""Round-9 optimization harness (guide §1): per-query isolation with the
noop sink, .explain("formatted") capture, and interleaved A/B timing.

NOT the official bench — bench.py is frozen for measurement. This script
exists so plan claims in OPTIMIZATION_r09.md are reproducible:

  python bench_extra.py plans [out_dir]       # save explain() per query
  python bench_extra.py time [query ...]      # noop-sink min-of-N timing

The combat pipeline's per-layer split (detok / parse / fights / route /
write) is recorded by ``perfbench/run.py --trace 1``.

Timing methodology: each query is collected once to warm codegen/workers,
then timed REPS times with the noop sink (computes every column, discards
the result — avoids .collect()'s driver serialization and count()'s column
pruning); min is reported (steady-state estimator on a noisy shared host).
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (QUERY_BENCHES; no timing reuse)
from team_goldo_combat_log_parser_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
REPS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "3"))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def save_plans(spark, out_dir: str, suffix: str,
               names: list[str] | None = None) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in bench.QUERY_BENCHES.items():
        if names and name not in names:
            continue
        p = plan_of(fn(spark, SF_DIR))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(p)
        print(f"wrote {path} ({len(p.splitlines())} lines)")


def time_queries(spark, names: list[str] | None = None) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, fn in bench.QUERY_BENCHES.items():
        if names and name not in names:
            continue
        spark.sparkContext.setJobDescription(f"r09 warm {name}")
        fn(spark, SF_DIR).collect()
        best = float("inf")
        for i in range(REPS):
            spark.sparkContext.setJobDescription(f"r09 time {name} #{i}")
            t0 = time.perf_counter()
            noop(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}s (min of {REPS}, noop sink)")
    spark.sparkContext.setJobDescription(None)
    return out


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    spark = get_spark("bench_extra", cores=CPUS)
    if cmd == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r09"
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        names = sys.argv[4:] or None
        save_plans(spark, out_dir, suffix, names)
    elif cmd == "time":
        names = sys.argv[2:] or None
        print(json.dumps(time_queries(spark, names)))
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
