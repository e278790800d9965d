"""Structured Streaming variant of the combat pipeline.

Fight boundaries are explicit events (EnterCombat/ExitCombat/Death), not
time gaps, so ``session_window`` doesn't apply; instead the per-log parser
state machine runs under ``applyInPandasWithState`` keyed by ``log_id``:
the state carries (in_combat, player, fight_seq, pull start, target,
total_damage) across micro-batches and a finished pull's header row is
emitted the moment its exit marker is processed. What opens and closes a
fight is ``sessionize.fight_edge``, the rule batch applies too.

The stream emits the pull header only (``PULL_OUT_SCHEMA``: the
reference's Pull entity without its per-fight ``data`` blob). The
per-fight breakdowns — damage done and received per skill, heal, threat,
``pull_json`` — are the batch tables, checked against the oracle.

The line grammar lives in one place, ``grammar.parse_lines``: the stream
runs the same native parse as batch (the mapInArrow detok and every
typed/flag expression) and hands the stateful operator only the typed
columns the fold reads. The stateful operator parses nothing itself, so
batch and stream read every amount alike.

Scope notes (extension surface, not reference parity — the reference is
batch-only):
 * line order: the parser is a row-at-a-time state machine, so a per-log
   LINE-ORDER BUFFER in the state delivers rows to it strictly by
   line_no, however the source splits or orders them — across files,
   micro-batches, or the Arrow chunks (``maxRecordsPerBatch`` rows) one
   group reaches Python in. Exact (sequence-based, not
   time-watermark-based: line_no is contiguous per log, so "can I
   advance?" is decidable without a lateness heuristic), at the cost of
   buffering rows that arrive ahead of a gap. A line that never arrives
   stalls that log's emission; ``reorder_max_buffer`` bounds the buffer
   so a lost line surfaces as a loud error, not an executor OOM.
 * cross-log duplicate-pull suppression (Datastore probe) is a global
   lookup, out of scope for per-log state; run the batch dedup downstream.
"""

from __future__ import annotations

import json
from collections import namedtuple
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import grammar
from ..plans import sessionize
from ..sources.datagen import TOKEN_TABLE_SCHEMA

PULL_OUT_SCHEMA = T.StructType([
    T.StructField("log_id", T.StringType()),
    T.StructField("fight_seq", T.IntegerType()),
    T.StructField("pull_start", T.StringType()),
    T.StructField("pull_stop", T.StringType()),
    T.StructField("target", T.StringType()),
    T.StructField("player", T.StringType()),
    T.StructField("total_damage", T.LongType()),
])

STATE_SCHEMA = T.StructType([T.StructField("blob", T.StringType())])

# the parse_lines columns the fold reads, in reorder-buffer row order
# (line_no first: the buffer keys on row[0])
_FOLD_COLS = (
    "line_no", "log_date", "time_str", "src_raw", "tgt_raw", "src_player",
    "tgt_name", "amount", "is_enter", "is_leave", "is_death", "is_damage",
    "m_immune")
_Row = namedtuple("_Row", _FOLD_COLS)

REORDER_MAX_BUFFER = 100_000


def _fold(st: dict, r: _Row) -> dict | None:
    """Advance one row through the per-log parser state; returns a finished
    pull dict when the row closes a fight (semantics mirror golden/oracle)."""
    edge = sessionize.fight_edge(st["in_combat"], st["player"], r)
    if not st["in_combat"]:
        if edge:
            st.update(in_combat=True, player=r.src_player, seq=st["seq"] + 1,
                      start=f"{r.log_date} {r.time_str}", target=None, dmg=0)
        return None
    player = st["player"]
    if r.is_damage and player in r.src_raw and not r.m_immune:
        st["target"] = r.tgt_name
        st["dmg"] += r.amount
    if edge:
        st.update(in_combat=False, player=None)
        return dict(fight_seq=st["seq"], pull_start=st["start"],
                    pull_stop=f"{r.log_date} {r.time_str}",
                    target=st["target"], player=player,
                    total_damage=st["dmg"])
    return None


def _make_state_fn(max_buffer: int):
    """The per-log state function. It loads the parser state once, puts
    every row into a per-log buffer keyed by line_no and feeds ``_fold``
    strictly in sequence (line_no is contiguous from 0 per log), so any
    chunking or cross-batch order — a log split over Arrow chunks, a late
    marker, a shuffled replay — produces EXACTLY the ordered result.
    Rows ahead of a gap wait in the state.

    Built as a closure so the bound ships with the pickled function to
    the executors."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        log_id = key[0]
        if state.exists:
            st = json.loads(state.get[0])
            if "_next" not in st:
                # resuming such a state would wait for line 0 forever
                raise ValueError(
                    f"parser state for {log_id} has no line position: the "
                    "checkpoint predates the line-order buffer; start a "
                    "fresh checkpoint")
        else:
            st = {"in_combat": False, "player": None, "seq": 0,
                  "start": None, "target": None, "dmg": 0,
                  "_buf": [], "_next": 0}
        done: list[dict] = []

        def feed(row) -> None:
            pull = _fold(st, _Row._make(row))
            if pull:
                pull["log_id"] = log_id
                done.append(pull)

        buf: dict[int, list] = {}
        # a bare row list — line_no is row[0], so no str-keyed dict
        # copies hit the blob (SCALE.md "Reorder-buffer state cost")
        for row in st.pop("_buf"):
            if len(row) != len(_FOLD_COLS):
                raise ValueError(
                    f"reorder buffer for {log_id} holds a row of "
                    f"{len(row)} fields, expected {len(_FOLD_COLS)}: "
                    "the checkpoint predates this row layout; "
                    "start a fresh checkpoint")
            buf[row[0]] = row
        next_line = st.pop("_next")
        for pdf in pdfs:
            # sorted, so a chunk's in-sequence rows go straight to the
            # parser instead of waiting in the buffer
            rows = pdf.sort_values("line_no")[list(_FOLD_COLS)]
            for row in rows.itertuples(index=False, name=None):
                if row[0] < next_line:
                    # already delivered to the parser — an at-least-once
                    # source replaying a row; keeping it would park it in
                    # the buffer forever and eventually trip the bound
                    continue
                buf[row[0]] = row
                # drain incrementally: in-order rows flow straight through
                # the parser, so only rows genuinely ahead of a gap occupy
                # memory and only THOSE count against the bound — a fully
                # in-order batch larger than max_buffer is fine
                while next_line in buf:
                    feed(buf.pop(next_line))
                    next_line += 1
                if len(buf) > max_buffer:
                    raise RuntimeError(
                        f"reorder buffer for {log_id} exceeds {max_buffer} "
                        f"rows waiting on line {next_line} — line lost "
                        "upstream?")
        st["_buf"] = list(buf.values())
        st["_next"] = next_line
        state.update((json.dumps(st),))
        if done:
            yield pd.DataFrame(done)[[f.name for f in PULL_OUT_SCHEMA.fields]]

    return fn


def stream_pulls(tokens_stream: DataFrame,
                 reorder_max_buffer: int = REORDER_MAX_BUFFER) -> DataFrame:
    """Streaming token table -> stream of finished pulls, each log read
    in line order through the per-log buffer (see module docstring)."""
    parsed = grammar.parse_lines(tokens_stream)
    # a null-free long column arrives in pandas as exact int64 (one null
    # would make it float64, which rounds past 2^53); a null amount adds
    # nothing to total_damage either way
    slim = parsed.withColumn(
        "amount", F.coalesce("amount", F.lit(0))).select("log_id", *_FOLD_COLS)
    return slim.groupBy("log_id").applyInPandasWithState(
        _make_state_fn(reorder_max_buffer), PULL_OUT_SCHEMA,
        STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout)


def stream_batch_metrics(query) -> list[dict]:
    """Per-batch ops metrics from a streaming query's progress log: rows
    in, rows dropped for a source without a log date and pulls out (the
    ``goldo_input`` and ``goldo_pulls`` observations attached by
    ``run_stream_once``), state-store row counts, and trigger latency —
    the numbers a production deployment alerts on.

    Reads ``recentProgress``, a BOUNDED driver-side buffer
    (``spark.sql.streaming.numRecentProgressUpdates``, default 100): a
    caller that runs more batches than that between reads loses the
    oldest ones. ``run_stream_once`` reads it once its availableNow
    query has terminated."""
    rows = []
    for p in query.recentProgress:
        # always via the JSON form: the live object holds Row values
        # (no .get) inside observedMetrics; the JSON is plain dicts
        d = json.loads(p.json) if hasattr(p, "json") else p
        om = d.get("observedMetrics") or {}
        so = d.get("stateOperators") or []
        rows.append({
            "batch_id": d.get("batchId"),
            "rows_in": int(d.get("numInputRows") or 0),
            "rejected_rows": int((om.get("goldo_input") or {})
                                 .get("rejected_rows") or 0),
            "pulls_out": int((om.get("goldo_pulls") or {})
                             .get("pulls_out") or 0),
            "state_rows": sum(int(s.get("numRowsTotal") or 0) for s in so),
            "state_bytes": sum(int(s.get("memoryUsedBytes") or 0)
                               for s in so),
            "state_rows_updated": sum(int(s.get("numRowsUpdated") or 0)
                                      for s in so),
            "trigger_ms": (d.get("durationMs") or {}).get("triggerExecution"),
        })
    return rows


def run_stream_once(spark, input_dir: str, checkpoint_dir: str,
                    output_dir: str,
                    reorder_max_buffer: int = REORDER_MAX_BUFFER,
                    metrics: list | None = None) -> DataFrame:
    """Drive the stream over all currently-available input (availableNow
    trigger) into the parquet sink at ``output_dir`` and return the
    sink's contents. A later invocation with the same checkpoint
    processes only new files and restores the per-log parser state
    (tested with a mid-fight split in
    test_streaming_state_survives_restart_mid_fight)."""
    stream = spark.readStream.schema(TOKEN_TABLE_SCHEMA).parquet(input_dir)
    # a source without a log date would fail every micro-batch it lands
    # in (and the replay after it): drop its rows before the parse, as
    # cli.main does, and count them per batch
    dated = grammar.has_log_date(F.col("source"))
    stream = stream.observe(
        "goldo_input", F.count_if(~dated).alias("rejected_rows")).filter(dated)
    pulls = stream_pulls(stream, reorder_max_buffer=reorder_max_buffer)
    # observed metric rides each micro-batch's progress event — no extra
    # action, no second pass (pass ``metrics=[]`` to receive them)
    pulls = pulls.observe("goldo_pulls",
                          F.count(F.lit(1)).alias("pulls_out"))
    q = (pulls.writeStream.outputMode("append").format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    if metrics is not None:
        metrics.extend(stream_batch_metrics(q))
    # the declared schema reads an empty sink (no file yet) as 0 rows
    return spark.read.schema(PULL_OUT_SCHEMA).parquet(output_dir)
