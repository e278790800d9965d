"""Structured Streaming variant of the combat pipeline.

Fight boundaries are explicit events (EnterCombat/ExitCombat/Death), not
time gaps, so ``session_window`` doesn't apply; instead the per-log parser
state machine runs under ``applyInPandasWithState`` keyed by ``log_id``:
the state carries (in_combat, player, healer, fight_seq, accumulators)
across micro-batches and a finished pull row is emitted the moment its
exit marker is processed.

The line grammar lives in one place, ``grammar.parse_lines``: the stream
runs the same native parse as batch (the mapInArrow detok and every
typed/flag expression) and hands the stateful operator only the typed
columns the fold reads. The stateful operator parses nothing itself, so
batch and stream read every amount, threat and damage type alike.

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

PULL_OUT_SCHEMA = T.StructType([
    T.StructField("log_id", T.StringType()),
    T.StructField("fight_seq", T.IntegerType()),
    T.StructField("pull_start", T.StringType()),
    T.StructField("pull_stop", T.StringType()),
    T.StructField("target", T.StringType()),
    T.StructField("player", T.StringType()),
    T.StructField("total_damage", T.LongType()),
    T.StructField("player_heal", T.LongType()),
    T.StructField("threat", T.LongType()),
    T.StructField("dmg_rcvd", T.LongType()),
    # per-healer heal credits (direct + absorb) as a JSON object — the
    # streaming mirror of the batch heal_per_healer table for this fight
    T.StructField("heal_map", T.StringType()),
    # per-skill damage-done as a JSON object {skill: [hit, dodged, missed,
    # total_damage]} — the streaming mirror of batch damage_done_skills
    # (A2); same zero-split semantics (dodged iff the DODGE id, else
    # missed) and the same trailing-space skill keys
    T.StructField("dd_map", T.StringType()),
    # per-(attacker, skill) damage-received as nested JSON
    # {attacker: {skill: [hit, dodged, shielded, missed, resisted,
    # total_damage, dmg_type]}} — the streaming mirror of batch
    # damage_received_skills (A4) incl. mitigation precedence (miss >
    # resist > dodge/parry/deflect; shielded only on landed hits) and
    # first-seen dmg_type from rows with a non-zero amount
    T.StructField("dr_map", T.StringType()),
])

STATE_SCHEMA = T.StructType([T.StructField("blob", T.StringType())])

# the parse_lines columns the fold reads, in reorder-buffer row order
# (line_no first: the buffer keys on row[0])
_FOLD_COLS = (
    "line_no", "log_date", "time_str", "src_raw", "tgt_raw", "src_player",
    "src_name", "tgt_name", "skill", "amount", "dmg_type", "absorbed",
    "threat", "has_threat", "is_enter", "is_leave", "is_death", "is_damage",
    "is_heal_eff", "is_fa", "tgt_has_at", "skill_has_revive", "m_miss",
    "m_absorb", "m_resist", "m_dodge", "m_dodge_single", "m_shield",
    "m_immune")
_Row = namedtuple("_Row", _FOLD_COLS)
# nullable longs cross as coalesce(x, 0) plus an ``x_ok`` flag: one null
# turns an Arrow long column float64 in pandas, which rounds past 2^53
_NULLABLE = ("amount", "absorbed", "threat")

REORDER_MAX_BUFFER = 100_000


def _fold(st: dict, r: _Row) -> dict | None:
    """Advance one row through the per-log parser state; returns a finished
    pull dict when the row closes a fight (semantics mirror golden/oracle)."""
    if not st["in_combat"] and r.is_enter:
        st.update(in_combat=True, player=r.src_player, seq=st["seq"] + 1,
                  start=f"{r.log_date} {r.time_str}", target=None,
                  dmg=0, heal=0, threat=0, dmg_rcvd=0,
                  heal_by={r.src_player: 0}, dd_by={}, dr_by={})
        return None
    if not st["in_combat"]:
        if r.is_fa and r.tgt_has_at:
            st["healer"] = r.src_player
        return None
    player = st["player"]
    n = r.amount
    if r.is_damage and player in r.src_raw and not r.m_immune:
        st["target"] = r.tgt_name
        entry = st["dd_by"].setdefault(r.skill, [0, 0, 0, 0])
        if n:
            st["dmg"] += n
            entry[0] += 1          # hit
            entry[3] += n          # total_damage
        elif n == 0:
            # amount==0 splits dodged-vs-missed on the DODGE id only,
            # same as batch m_dodge_single (main.py:163-167)
            entry[1 if r.m_dodge_single else 2] += 1
    if r.is_damage and player in r.tgt_raw:
        # damage-received accounting + absorb-to-healer credit (the batch
        # heal_per_healer / damage_received_players semantics)
        if not (r.m_miss or r.m_resist or r.m_dodge) and n is not None:
            st["dmg_rcvd"] += n
        # per-(attacker, skill) breakdown, batch damage_received_skills
        # precedence: miss > resist > dodged; shielded on landed hits only
        d = st["dr_by"].setdefault(r.src_name, {}).setdefault(
            r.skill, [0, 0, 0, 0, 0, 0, None])
        if r.m_miss:
            d[3] += 1
        elif r.m_resist:
            d[4] += 1
        elif r.m_dodge:
            d[1] += 1
        else:
            d[0] += 1
            if r.m_shield:
                d[2] += 1
            if n is not None:
                d[5] += n
        if d[6] is None and n:
            d[6] = r.dmg_type
        if (r.m_absorb and not r.m_miss and r.absorbed is not None
                and n is not None and r.absorbed <= n):
            k = st["healer"] if st["healer"] is not None else "null"
            st["heal_by"][k] = st["heal_by"].get(k, 0) + r.absorbed
    if r.is_fa and r.tgt_has_at:
        st["healer"] = r.src_player
    if r.is_heal_eff and player in r.src_raw and not r.skill_has_revive:
        h = n or 0
        st["heal"] += h
        st["heal_by"][player] = st["heal_by"].get(player, 0) + h
    if (r.is_death or r.is_leave) and player in r.tgt_raw:
        out = dict(fight_seq=st["seq"], pull_start=st["start"],
                   pull_stop=f"{r.log_date} {r.time_str}",
                   target=st["target"], player=player,
                   total_damage=st["dmg"], player_heal=st["heal"],
                   threat=st["threat"], dmg_rcvd=st["dmg_rcvd"],
                   heal_map=json.dumps(st["heal_by"], sort_keys=True),
                   dd_map=json.dumps(st["dd_by"], sort_keys=True),
                   dr_map=json.dumps(st["dr_by"], sort_keys=True))
        st.update(in_combat=False, player=None, healer=None)
        return out
    if r.has_threat and player in r.src_raw and r.threat is not None:
        st["threat"] += r.threat
    return None


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    """One input chunk -> fold rows of Python scalars: exact ints, None
    for a null long, and JSON-ready for the reorder buffer."""
    for c in _NULLABLE:
        pdf[c] = pdf[c].astype(object).where(pdf[f"{c}_ok"], None)
    return list(pdf[list(_FOLD_COLS)].itertuples(index=False, name=None))


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
            st = {"in_combat": False, "player": None, "healer": None,
                  "seq": 0, "start": None, "target": None, "dmg": 0,
                  "heal": 0, "threat": 0, "_buf": [], "_next": 0}
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
                    "the checkpoint predates the typed row layout; "
                    "start a fresh checkpoint")
            buf[row[0]] = row
        next_line = st.pop("_next")
        for pdf in pdfs:
            # sorted, so a chunk's in-sequence rows go straight to the
            # parser instead of waiting in the buffer
            for row in _rows(pdf.sort_values("line_no")):
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
    slim = parsed.select(
        "log_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) if c in _NULLABLE else c
          for c in _FOLD_COLS],
        *[F.col(c).isNotNull().alias(f"{c}_ok") for c in _NULLABLE])
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


def reorder_buffer_depths(spark, checkpoint_dir: str) -> dict[str, int]:
    """Per-log undrained-row count, read from the checkpointed state via
    Spark's ``statestore`` reader — the observability hook for "how far
    behind is each log's gap?" without touching a running query. Every
    log in the state reports a depth, 0 once drained.

    The depth is computed inside the DataFrame (``get_json_object`` +
    ``json_array_length``, both JVM-side) and only the per-log summary is
    collected — the state table is as big as the key space, and decoding
    every 100k-row buffer blob in driver Python would be the exact
    driver-side loop the rest of the engine avoids."""
    df = spark.read.format("statestore").load(checkpoint_dir)
    rows = df.select(
        F.col("key.log_id").alias("log_id"),
        F.json_array_length(
            F.get_json_object("value.groupState.blob", "$._buf"))
        .alias("depth")).collect()
    return {r["log_id"]: r["depth"] for r in rows}


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
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    stream = spark.readStream.schema(schema).parquet(input_dir)
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
    return spark.read.parquet(output_dir)
