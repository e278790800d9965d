"""The workloads, their oracle checks and their traced variants.

Every workload drives the program only through its public entry points:
``runner.cli.main``, ``streaming.stream_pipeline.run_stream_once`` and the
``operators.text`` / ``operators.similarity`` queries. A traced run also
wraps the names ``cli.main`` calls (see ``traced_cli``). Each operation is
timed on its own; its outputs are checked against an oracle afterwards,
outside the timed section. An exception or a mismatch counts the
operation as failed and the run goes on.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import itertools
import json
import math
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import inputs
from spans import Phases, Tracer

from team_goldo_combat_log_parser_spark.golden.oracle import run_oracle
from team_goldo_combat_log_parser_spark.runner import cli

SIZES = {
    # a preload backfill of ``preload`` logs in a fresh session, then
    # single logs land one at a time (logs of ``fights`` x ``rows`` events)
    "arrivals": {"preload": 6, "fights": 4, "rows": 500},
    # one pass of the seven sketch/ANN queries
    "corpus_dedup": {"docs": 800, "vectors": 500},
}
# the self-test's smoke sizes
SMOKE_SIZES = {
    "arrivals": {"preload": 2, "fights": 2, "rows": 60},
    "corpus_dedup": {"docs": 300, "vectors": 200},
}

# manifest key of each routed flag -> the oracle's name for that route
ORACLE_ROUTES = {f"r_{n}": n for n in ("enter", "damage_done",
                                         "damage_received", "fa", "heal",
                                         "exit", "threat")}
# manifest counts whose tables have one row per oracle table row
ORACLE_TABLES = ["pulls", "damage_done_skills", "damage_received_skills",
                 "heal", "threat"]

DEDUP_QUERIES = [
    ("text", "doc_minhash_lsh_pairs"), ("text", "doc_simhash_near_pairs"),
    ("text", "doc_clean_corpus"), ("similarity", "emb_cosine_topk"),
    ("similarity", "emb_lsh_ann"), ("similarity", "emb_ivf_ann"),
    ("similarity", "emb_cosine_near_dup"),
]
# queries whose cosine_e6 column the DuckDB oracle can miss by one at a
# floor boundary (it casts FLOAT to DECIMAL differently from Spark); such
# rows are re-derived exactly here, with Spark's documented arithmetic
COSINE_KEYS = {"emb_cosine_topk": (0, 2), "emb_cosine_near_dup": (0, 1)}

# the spans of one traced commit (see traced_cli), in the order cli.main
# reaches them; checkpoint.records opens inside cli.gc and cli.scan
COMMIT_SPANS = [
    "cli.gc", "checkpoint.records", "cli.scan", "grammar.detok",
    "grammar.parse", "sessionize.build_fights", "route.with_routes",
    "cli.write", "checkpoint.commit",
]
WORKLOAD_SPANS = {
    "arrivals": [*COMMIT_SPANS, "stream.batch"],
    "corpus_dedup": [f"{mod}.{q}" for mod, q in DEDUP_QUERIES],
}
SPAN_NAMES = [n for spans in WORKLOAD_SPANS.values() for n in spans]
# spans that only touch files through Python or the Hadoop FileSystem API
JOBLESS_SPANS = {"cli.gc", "checkpoint.records", "checkpoint.commit"}
SPAN_COUNTERS = {"run_ms": "ms", "cpu_ms": "ms", "shuffle_write_b": "B",
                 "jobs": "count", "tasks": "count"}
# per-layer counts: metric -> (spans, key in their counts, unit); a key
# missing from a span's counts is read from its Spark counters
LAYER_COUNTS = {
    "grammar.lines_in": (["grammar.detok"], "rows", "count"),
    "sessionize.marker_rows": (["sessionize.build_fights"], "markers",
                               "count"),
    "route.routed_rows": (["route.with_routes"], "routed", "count"),
    "route.unrouted_rows": (["route.with_routes"], "unrouted", "count"),
    "cli.write.out_b": (["cli.write"], "out_b", "B"),
    "checkpoint.sources_done": (["checkpoint.records"], "sources", "count"),
    "stream.trigger_ms": (["stream.batch"], "trigger_ms", "ms"),
    "stream.state_rows": (["stream.batch"], "state_rows", "count"),
    "stream.state_bytes": (["stream.batch"], "state_bytes", "B"),
    "stream.rows_in": (["stream.batch"], "rows_in", "count"),
    "text.pairs_out": (["text.doc_minhash_lsh_pairs",
                        "text.doc_simhash_near_pairs"], "rows", "count"),
    "similarity.pairs_out": (["similarity.emb_cosine_near_dup"], "rows",
                             "count"),
}


def per_layer_metrics() -> dict[str, str]:
    """Name -> unit of every per-layer metric a traced run reports."""
    out = {}
    for span in SPAN_NAMES:
        out[f"{span}.self_s"] = "s"
        out.update({f"{span}.{c}": u for c, u in SPAN_COUNTERS.items()})
    out.update({m: u for m, (_, _, u) in LAYER_COUNTS.items()})
    out["trace.overhead_s"] = "s"
    return out


def layer_values(tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics from the spans of one traced operation. Times and
    Spark counters add up over the spans of one name; a count is read from
    the last span of its name; a layer the workload never calls reads 0."""
    out = {}
    for name in SPAN_NAMES:
        spans = [s for s in tracer.spans if s["name"] == name]
        out[f"{name}.self_s"] = sum(tracer.self_s(s) for s in spans)
        for c in SPAN_COUNTERS:
            out[f"{name}.{c}"] = sum(s["spark"][c] for s in spans)
    last = {s["name"]: s for s in tracer.spans}
    for metric, (names, key, _) in LAYER_COUNTS.items():
        out[metric] = sum(last[n]["counts"].get(key, last[n]["spark"].get(
            key, 0)) for n in names if n in last)
    return out


class Bench:
    """One run: its Spark session, attempted and failed operations,
    timings, and (traced runs) the tracer."""

    def __init__(self, workload, seed, seconds, trace, work, spark_factory,
                 sizes=None, corrupt_oracle=False):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = work
        self.sizes = sizes or SIZES[workload]
        self.corrupt_oracle = corrupt_oracle
        self.spark_factory = spark_factory
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.timings: dict[str, list[float]] = {}
        self.tracer: Tracer | None = None
        self.trace_overhead_s = 0.0
        self.t0 = time.perf_counter()

    def time(self, key: str, t: float) -> None:
        self.timings.setdefault(key, []).append(t)
        print(f"[perfbench] {time.perf_counter() - self.t0:.1f}s: {key} "
              f"{t:.3f}", file=sys.stderr)

    def op(self, what: str, run, check):
        """Attempt one operation: ``run()`` is timed, then ``check(result)``
        returns its mismatches. Returns the seconds taken and the result,
        or (None, None) if ``run`` raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = run()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {what} raised:", file=sys.stderr)
            traceback.print_exc()
            return None, None
        dt = time.perf_counter() - t0
        try:
            errors = check(res)
        except Exception:
            errors = ["check raised: " + traceback.format_exc()]
        if errors:
            self.failed += 1
            print(f"[perfbench] {what} failed its oracle check: "
                  f"{errors[:5]}", file=sys.stderr)
        return dt, res

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def setup(self, generate, reps: int = 5) -> None:
        """Set up ``reps`` times: start a Spark session through the
        package's ``get_spark`` and generate this seed's inputs afresh.
        The first time also launches the JVM; each later time starts a
        new session in it, after stopping the previous one outside the
        timed part. setup_s is the median, so a session start in a
        running JVM plus the generation."""
        for _ in range(reps):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.spark_factory()
            generate()
            self.time("setup", time.perf_counter() - t0)

    def measure(self, one_op) -> None:
        """Repeat ``one_op()`` until ``seconds`` have been measured (at
        least once). In a traced run: one untraced operation, then one
        under a root span; the difference of their timed sections is the
        tracing overhead."""
        if self.trace:
            base = one_op()
            self.tracer = Tracer(self.spark, f"{os.getpid()}")
            with self.tracer.span("op"):
                traced = one_op()
            self.trace_overhead_s = (traced or 0.0) - (base or 0.0)
            return
        t0 = time.perf_counter()
        while True:
            one_op()
            if time.perf_counter() - t0 >= self.seconds:
                return

    def span(self, name: str):
        return (self.tracer.span(name) if self.tracer
                else contextlib.nullcontext({"counts": {}}))


# ---------------------------------------------------------------- combat


def _cli_main(args: list[str]) -> dict:
    """cli.main with its one-line JSON summary captured and returned."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(args)
    if rc != 0:
        raise RuntimeError(f"cli.main returned {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def expected(logs, corrupt: bool = False) -> dict:
    """Oracle expectations for one commit (or stream batch) over ``logs``."""
    o = run_oracle(sorted(logs))
    exp = {
        "routed": {f: o.route_counts[n] for f, n in ORACLE_ROUTES.items()},
        "counts": {t: len(o.table(t)) for t in ORACLE_TABLES},
        "pulls": o.table("pulls"),
        "damage": sum(p.amount_done for p in o.pulls),
        "lines": sum(len(lines) for _, lines in logs),
    }
    if corrupt:  # self-test: one pull too many must fail every check
        exp["counts"]["pulls"] += 1
        exp["pulls"] = exp["pulls"] | {("no such pull",)}
    return exp


def check_commit(spark, out: str, ck: str, summary: dict, exp: dict):
    """The manifest's routed and table counts, then the committed pulls
    rows and their total damage, against the oracle."""
    from pyspark.sql import functions as F

    if summary.get("status") != "committed":
        return [f"status {summary.get('status')}"]
    cid = summary["commit_id"]
    with open(os.path.join(ck, "manifest", f"{cid}.json")) as fh:
        rec = json.loads(fh.readline())
    errors = []
    routed = {k: int(v or 0) for k, v in rec["metrics"]["routed"].items()}
    if routed != exp["routed"]:
        errors.append(f"routed {routed} != oracle {exp['routed']}")
    for t, n in exp["counts"].items():
        if rec["sink_counts"].get(t) != n:
            errors.append(f"{t} count {rec['sink_counts'].get(t)} != {n}")
    rows = spark.read.parquet(f"{out}/pulls/commit={cid}").select(
        "log_id", "fight_seq",
        F.date_format("pull_start", "yyyy-MM-dd HH:mm:ss.SSS"),
        F.date_format("pull_stop", "yyyy-MM-dd HH:mm:ss.SSS"),
        "target", F.col("players_set").getItem(0), "total_damage",
    ).collect()
    # a multiset: a pull committed twice must not pass. Synthetic fights
    # never cross midnight, so the oracle's raw stop time is the pull's
    diff = _multiset_diff(rows, exp["pulls"])
    if diff:
        errors.append(f"{diff} pulls rows differ")
    damage = sum(r[-1] for r in rows)
    if damage != exp["damage"]:
        errors.append(f"total damage {damage} != oracle {exp['damage']}")
    return errors


def _multiset_diff(rows, want: set[tuple]) -> int:
    """How many rows differ between ``rows`` (counted with repeats) and
    the oracle's ``want``, in which every row occurs once."""
    got = Counter(tuple(r) for r in rows)
    return sum(((got - Counter(want)) + (Counter(want) - got)).values())


def commit(b: Bench, what: str, src: str, out: str, ck: str, exp: dict):
    """One batch commit, by cli.main, of whatever in ``src`` the manifest
    lacks; in a traced run, with a span around each layer."""
    def run():
        with traced_cli(b.tracer) if b.tracer else contextlib.nullcontext():
            return _cli_main(["--input", src, "--output", out,
                              "--checkpoint", ck])
    return b.op(what, run, lambda s: check_commit(b.spark, out, ck, s, exp))


@contextlib.contextmanager
def traced_cli(tr: Tracer):
    """While open, cli.main runs its own composition with a span around
    each layer: the names it calls in its module are wrapped.

    Spark is lazy, so as soon as run_pipeline has built its plan, the
    frames it persists are forced one at a time in their spans: the
    detokenized lines (grammar.detok), the fights (sessionize.build_fights:
    marker pre-filter, parse of the survivors, sessionize) and the routed
    events (route.with_routes: parse, assign_fights and with_routes,
    which the plan fuses). The writes then read them from the cache, as
    they would have. grammar.parse is the one extra pass: the parsed
    projection alone, through Spark's noop sink, over the line cache.
    cli.main computes each table inside its write, so the aggregates are
    in cli.write."""
    phase = Phases(tr)

    class Manifest(cli.Manifest):
        def records(self):
            with tr.span("checkpoint.records") as s:
                recs = super().records()
            s["counts"]["sources"] = sum(len(r.get("sources", []))
                                         for r in recs)
            return recs

        def commit(self, *args, **kwargs):
            phase("checkpoint.commit")
            return super().commit(*args, **kwargs)

    def gc_orphan_commits(*args, **kwargs):
        phase("cli.gc")
        return real["gc_orphan_commits"](*args, **kwargs)

    def read_tokens(*args, **kwargs):  # the scan runs to the plan's build
        phase("cli.scan")
        return real["read_tokens"](*args, **kwargs)

    def run_pipeline(*args, **kwargs):
        detok = phase("grammar.detok")
        res = real["run_pipeline"](*args, **kwargs)
        lines = res.extra["lines"]
        lines.count()
        phase("grammar.parse")
        res.parsed.write.format("noop").mode("overwrite").save()
        sess = phase("sessionize.build_fights")
        res.fights.count()
        route = phase("route.with_routes")
        res.routed.count()
        phase(None)
        # counts, read outside the spans
        detok["counts"]["rows"] = lines.count()
        sess["counts"]["markers"] = res.parsed.filter(
            "is_enter OR is_leave OR is_death").count()
        n_routed = res.routed.filter(" OR ".join(ORACLE_ROUTES)).count()
        route["counts"].update(routed=n_routed,
                               unrouted=res.routed.count() - n_routed)
        return res

    def write_table(*args, **kwargs):
        if phase.name != "cli.write":
            phase("cli.write")
        return real["write_table"](*args, **kwargs)

    wrapped = {"Manifest": Manifest, "gc_orphan_commits": gc_orphan_commits,
               "read_tokens": read_tokens, "run_pipeline": run_pipeline,
               "write_table": write_table}
    real = {n: getattr(cli, n) for n in wrapped}
    for n, f in wrapped.items():
        setattr(cli, n, f)
    try:
        yield
    finally:
        phase(None)
        for n, f in real.items():
            setattr(cli, n, f)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def _stream_rows(df, log_ids) -> list[tuple]:
    return df.filter(df.log_id.isin(log_ids)).select(
        "log_id", "fight_seq", "pull_start", "pull_stop", "target",
        "player", "total_damage").collect()


def arrivals(b: Bench) -> None:
    from team_goldo_combat_log_parser_spark.streaming.stream_pipeline import (
        run_stream_once)

    sz = b.sizes
    pre = inputs.combat_logs(b.seed, sz["preload"], sz["fights"], sz["rows"])
    land = os.path.join(b.work, "land")

    def generate():
        d = b.fresh("land")
        for i, (fname, lines) in enumerate(pre):
            inputs.write_log(os.path.join(d, f"{i:04d}.parquet"), fname,
                             lines)

    b.setup(generate)
    out, ck = b.fresh("out"), b.fresh("ck")
    s_out, s_ck = b.fresh("stream_out"), b.fresh("stream_ck")

    streamed = [0]  # oracle pulls of every log landed so far

    def stream(what, logs, exp):
        ids = [f.rsplit(".", 1)[0] for f, _ in logs]
        metrics: list[dict] = []
        streamed[0] += len(exp["pulls"])

        def run():
            with b.span("stream.batch") as s:
                df = run_stream_once(b.spark, land, s_ck, output_dir=s_out,
                                     metrics=metrics)
            if metrics:
                s["counts"].update(metrics[-1])
            return df

        def check(df):
            # this batch's logs, counted with repeats, and then the whole
            # sink, so that a batch re-emitting earlier logs fails too
            errors = []
            diff = _multiset_diff(_stream_rows(df, ids), exp["pulls"])
            if diff:
                errors.append(f"{diff} stream pulls differ")
            n = df.count()
            if n != streamed[0]:
                errors.append(f"stream sink holds {n} pulls, oracle "
                              f"{streamed[0]}")
            return errors
        return b.op(what, run, check)[0]

    # the preload is the nightly backfill: the session's first commit,
    # so it also pays every lazy one-time cost (JIT, codegen, workers)
    exp_pre = expected(pre, b.corrupt_oracle)
    dt, _ = commit(b, "preload commit", land, out, ck, exp_pre)
    b.time("first_op", dt or 0.0)
    if dt is not None:
        b.time("backfill_lines_per_s", exp_pre["lines"] / dt)
        b.time("backfill_out_mb", _dir_bytes(out) / 1e6)
    stream("preload stream batch", pre, exp_pre)
    landings = itertools.count(len(pre))

    def one_op():
        k = next(landings)
        log = inputs.combat_logs(b.seed, 1, sz["fights"], sz["rows"],
                                 first=k)
        exp = expected(log, b.corrupt_oracle)
        inputs.write_log(os.path.join(land, f"{k:04d}.parquet"), *log[0])
        t_commit, _ = commit(b, f"landing {k} commit", land, out, ck, exp)
        t_stream = stream(f"landing {k} stream batch", log, exp)
        if t_commit is None or t_stream is None:
            return None
        b.time("commit_s", t_commit)
        b.time("stream_s", t_stream)
        b.time("op", t_commit + t_stream)
        return t_commit + t_stream

    b.measure(one_op)


# ---------------------------------------------------------- corpus_dedup


def _rows_hash(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _spark_cosine_e6(u, v) -> int:
    """floor(cosine * 1e6) the way the Spark queries compute it: each
    element cast to decimal(18,9) (HALF_UP), exact decimal dot products,
    then double division and floor."""
    q = Decimal("1e-9")
    x = [Decimal(repr(float(a))).quantize(q, ROUND_HALF_UP) for a in u]
    y = [Decimal(repr(float(a))).quantize(q, ROUND_HALF_UP) for a in v]
    dot = sum(p * r for p, r in zip(x, y))
    n1, n2 = sum(p * p for p in x), sum(r * r for r in y)
    return math.floor(float(dot) / (math.sqrt(float(n1))
                                    * math.sqrt(float(n2))) * 1e6)


def check_dedup(name: str, got: list, want: list, vectors) -> list[str]:
    if got == want:
        return []
    if name in COSINE_KEYS and len(got) == len(want):
        i, j = COSINE_KEYS[name]
        for g, w in zip(got, want):
            if g[:-1] != w[:-1]:
                break
            if g[-1] != w[-1] and (abs(g[-1] - w[-1]) != 1 or g[-1] !=
                                   _spark_cosine_e6(vectors[g[i]],
                                                    vectors[g[j]])):
                break
        else:
            return []
    return [f"{name}: {len(got)} rows vs oracle {len(want)}, first diff "
            f"{next(((g, w) for g, w in zip(got, want) if g != w), None)}"]


def oracle_dedup(d: str, names: list[str]) -> dict[str, list]:
    import duckdb

    from team_goldo_combat_log_parser_spark.golden import sketch_oracle as so
    from team_goldo_combat_log_parser_spark.operators import (
        similarity, text)

    sql = {
        "doc_minhash_lsh_pairs": so.minhash_sql,
        "doc_simhash_near_pairs": so.simhash_sql,
        "doc_clean_corpus": lambda _: text.ORACLE_SQL["doc_clean_corpus"],
        "emb_cosine_topk":
            lambda _: similarity.ORACLE_SQL["emb_cosine_topk"],
        "emb_lsh_ann": so.lsh_ann_sql,
        "emb_ivf_ann": so.ivf_ann_sql,
        "emb_cosine_near_dup": so.cosine_near_dup_sql,
    }
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{d}/{t}.parquet')")
        return {n: sorted(tuple(r) for r in con.sql(sql[n](d)).fetchall())
                for n in names}
    finally:
        con.close()


def corpus_dedup(b: Bench) -> None:
    import pyarrow.parquet as pq

    from team_goldo_combat_log_parser_spark.operators import (
        similarity, text)

    sz = b.sizes
    d = os.path.join(b.work, "corpus")
    texts: list[str] = []

    def generate():
        b.fresh("corpus")
        texts[:] = inputs.documents(d, b.seed, sz["docs"])
        inputs.embeddings(d, b.seed, sz["vectors"])

    b.setup(generate)
    modules = {"text": text, "similarity": similarity}
    queries = [(mod, q, getattr(modules[mod], q)) for mod, q in DEDUP_QUERIES]
    want = oracle_dedup(d, [q for _, q, _ in queries])
    if b.corrupt_oracle:
        want["doc_clean_corpus"] = want["doc_clean_corpus"][1:]
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    vectors = dict(zip(emb["vec_id"], emb["embedding"]))
    print(f"inputs: {len(texts)} documents, "
          f"{sum(not t.isascii() for t in texts)} of them non-ASCII; "
          f"{len(vectors)} vectors")
    checked: dict[str, str] = {}

    def one_pass():
        total = 0.0
        for mod, name, fn in queries:
            def run():
                with b.span(f"{mod}.{name}") as s:
                    rows = fn(b.spark, d).collect()
                s["counts"]["rows"] = len(rows)
                return rows

            def check(rows):
                rows = sorted(tuple(r) for r in rows)
                if name in checked:  # later passes: same rows as checked
                    return ([] if _rows_hash(rows) == checked[name] else
                            [f"{name}: rows changed between passes"])
                checked[name] = _rows_hash(rows)
                return check_dedup(name, rows, want[name], vectors)
            dt, _ = b.op(f"query {name}", run, check)
            if dt is None:
                return None
            total += dt
        return total

    # the first pass fills lazy state (IVF model, Python workers) and is
    # the one checked against the oracle; later passes must hash-equal it
    b.time("first_op", one_pass() or 0.0)

    def one_op():
        dt = one_pass()
        if dt is not None:
            b.time("op", dt)
        return dt

    b.measure(one_op)


WORKLOADS = {"arrivals": arrivals, "corpus_dedup": corpus_dedup}
