"""Benchmark of the combat-log pipeline and the sketch/ANN queries.

    python3 perfbench/run.py --workload arrivals --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout (see README.md next to this file).
Workloads, sized in workloads.SIZES:

* ``arrivals``: a preload backfill commit through ``runner.cli.main`` in a
  fresh session, then single logs land one at a time; each is committed by
  an incremental ``cli.main`` run and then picked up by
  ``run_stream_once`` on a persistent stream checkpoint;
* ``corpus_dedup``: passes of seven sketch/ANN queries over a generated
  high-vocabulary, 30% non-ASCII document corpus and clustered embeddings.

Every operation's output is checked against the golden oracles outside
the timed section; a mismatch or an exception counts the operation as
failed. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``; with ``--trace 1``, one more operation runs layer by layer
under spans, the span file is written to
``.perfbench/spans/<workload>-seed<n>.json`` and the metrics are the
per-layer ones). The lines before it name the workload's own metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and Spark's Python workers) and keeps the peak sum."""

    def __init__(self, interval: float = 1.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:  # proportional set size: pages shared by forked workers
                with open(f"/proc/{pid}/smaps_rollup") as fh:  # count once
                    total += sum(int(ln.split()[1]) * 1024 for ln in fh
                                 if ln.startswith("Pss:"))
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def host_cpu() -> list[int]:
    """The machine's CPU time counters (/proc/stat), for context only."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def spin_rate(seconds: float = 0.5) -> float:
    """Millions of empty loop turns per second on one thread: a CPU
    canary, printed as context only."""
    n, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        n += 1
    return n / seconds / 1e6


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, make the package importable by the workers, and size the
    driver heap to this machine (the session's default is 48g)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_kb // 4 // 2**20))}g",
    })


def spark_factory(work: str):
    from team_goldo_combat_log_parser_spark.session import get_spark

    return lambda: get_spark("perfbench", cores=CORES, extra_conf={
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session (if any), then the JVM, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the session is stopped; the JVM's shutdown hooks would only
            # delete scratch files, which go with the work directory
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


# the workload's own metrics, printed by name before the result line
NAMED = {
    "arrivals": [("backfill_lines_per_s", "backfill_lines_per_s",
                  "lines/s"), ("backfill_out_mb", "backfill_out_mb", "MB"),
                 ("commit_p50_s", "commit_s", "s"),
                 ("stream_p50_s", "stream_s", "s")],
    "corpus_dedup": [("dedup_pass_s", "op", "s")],
}


def report(workload: str, b, peak_rss_mb: float) -> dict:
    """Print the named metrics; return the result object."""
    fail_ratio = b.failed / b.attempted if b.attempted else 1.0
    lines = [(name, _median(b.timings.get(key, [])), unit,
              len(b.timings.get(key, [])))
             for name, key, unit in NAMED[workload]]
    lines += [("setup_s", _median(b.timings["setup"]), "s",
               len(b.timings["setup"])),
              ("first_op_s", _median(b.timings["first_op"]), "s", 1),
              ("peak_rss_mb", peak_rss_mb, "MB", 1),
              ("fail_ratio", fail_ratio, f"of {b.attempted} ops", 1)]
    for name, value, unit, n in lines:
        print(f"{workload}.{name} = {value:.6g} {unit} (n={n})")
    if b.tracer is not None:
        import workloads

        values = workloads.layer_values(b.tracer)
        values["trace.overhead_s"] = b.trace_overhead_s
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in workloads.per_layer_metrics().items()}
        for name, m in metrics.items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {
            "op_p50_s": {"value": _median(b.timings.get("op", [])),
                         "unit": "s"},
            "setup_s": {"value": _median(b.timings["setup"]), "unit": "s"},
        }
    return {"correct": b.failed == 0, "attempted": b.attempted,
            "failed": b.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["arrivals", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads  # fails here if the program is absent

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_environment(work)
    b = workloads.Bench(args.workload, args.seed, args.seconds,
                        bool(args.trace), work, spark_factory(work))
    rss = PeakRss()
    rss.start()
    cpu0, spin0 = host_cpu(), spin_rate()
    try:
        workloads.WORKLOADS[args.workload](b)
        rss.stop()
        result = report(args.workload, b, rss.peak / 1e6)
        # context, not metrics: the share of the machine's CPU time the
        # hypervisor gave to other guests while this run went on, and a
        # one-thread CPU canary before and after the run
        used = [y - x for x, y in zip(cpu0, host_cpu())]
        print(f"host: {100 * used[7] / max(1, sum(used)):.1f}% of CPU "
              f"time stolen, {100 * used[3] / max(1, sum(used)):.1f}% idle; "
              f"canary {spin0:.2f} then {spin_rate():.2f} M loops/s")
        if b.tracer is not None:
            spans_dir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            path = os.path.join(spans_dir,
                                f"{args.workload}-seed{args.seed}.json")
            b.tracer.write(path)
            print(f"spans written to {os.path.relpath(path, ROOT)}")
    finally:
        stop_spark(b.spark)
        shutil.rmtree(work, ignore_errors=True)
    if not b.timings.get("op") and b.tracer is None:
        print("no operation completed", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0

if __name__ == "__main__":
    sys.exit(main())
