"""Structured Streaming variant of the combat pipeline.

Fight boundaries are explicit events (EnterCombat/ExitCombat/Death), not
time gaps, so ``session_window`` doesn't apply; instead the per-log parser
state machine runs under ``applyInPandasWithState`` keyed by ``log_id``:
the state carries (in_combat, player, healer, fight_seq, accumulators)
across micro-batches and a finished pull row is emitted the moment its
exit marker is processed.

Scope notes (extension surface, not reference parity — the reference is
batch-only):
 * default mode: rows are processed in line_no order within each batch;
   cross-batch order relies on an ordered source (file source reads
   files in order). ``stream_pulls(..., reorder=True)`` lifts that
   assumption: a per-log REORDER BUFFER in the state delivers rows to
   the parser strictly by line_no no matter how batches interleave —
   exact (sequence-based, not time-watermark-based: line_no is
   contiguous per log, so "can I advance?" is decidable without a
   lateness heuristic), at the cost of buffering rows that arrive ahead
   of a gap. A line that never arrives stalls that log's emission;
   ``reorder_max_buffer`` bounds the buffer so a lost line surfaces as
   a loud error, not an executor OOM.
 * cross-log duplicate-pull suppression (Datastore probe) is a global
   lookup, out of scope for per-log state; run the batch dedup downstream.

Everything before the stateful operator is the same stateless parse used
in batch (the mapInArrow detok and all grammar expressions run unchanged
on a streaming DataFrame).
"""

from __future__ import annotations

import json
from collections import namedtuple
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

import re

from ..constants import (
    ABSORB,
    DAMAGE,
    DEATH,
    DEFLECT,
    DODGE,
    ENTER_COMBAT,
    FORCE_ARMOR,
    HEAL,
    LEAVE_COMBAT,
    MISS,
    NO_DAMAGE,
    PARRY,
    RESIST,
    REVIVE,
    SHIELD,
)
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


def _first_int(amount: str) -> int:
    n = _first_int_opt(amount)
    return n if n is not None else 0


def _first_int_opt(amount: str) -> int | None:
    tok = amount[1:].split(None, 1)
    if not tok:
        return None
    digits = ""
    for ch in tok[0]:
        if ch.isdigit():
            digits += ch
        else:
            break
    return int(digits) if digits else None


def _absorbed_opt(amount: str) -> int | None:
    """The absorbed value: first integer after the second '(' (same group
    the batch grammar's ^\\(([^(]*)\\((\\d+) regex captures)."""
    i = amount.find("(", 1)
    if i < 0:
        return None
    digits = ""
    for ch in amount[i + 1:]:
        if ch.isdigit():
            digits += ch
        else:
            break
    return int(digits) if digits else None


def _fold(st: dict, r) -> dict | None:
    """Advance one row through the per-log parser state; returns a finished
    pull dict when the row closes a fight (semantics mirror golden/oracle)."""
    eff, amt = r.effect_raw, r.amount_raw
    if not st["in_combat"] and ENTER_COMBAT in eff:
        st.update(in_combat=True, player=r.src_raw[2:], seq=st["seq"] + 1,
                  start=f"{r.log_date} {r.time_raw[1:]}", target=None,
                  dmg=0, heal=0, threat=0, dmg_rcvd=0,
                  heal_by={r.src_raw[2:]: 0}, dd_by={}, dr_by={})
        return None
    if not st["in_combat"]:
        if FORCE_ARMOR in eff and "@" in r.tgt_raw:
            st["healer"] = r.src_raw[2:]
        return None
    player = st["player"]
    out = None
    if DAMAGE in eff and player in r.src_raw and NO_DAMAGE not in amt:
        st["target"] = r.tgt_raw[1:].split("{", 1)[0]
        n = _first_int_opt(amt)
        skill = r.skill_raw[1:].split("{", 1)[0]
        entry = st["dd_by"].setdefault(skill, [0, 0, 0, 0])
        if n:
            st["dmg"] += n
            entry[0] += 1          # hit
            entry[3] += n          # total_damage
        elif n == 0:
            # amount==0 splits dodged-vs-missed on the DODGE id only,
            # same as batch m_dodge_single (main.py:163-167)
            entry[1 if DODGE in amt else 2] += 1
    if DAMAGE in eff and player in r.tgt_raw:
        # damage-received accounting + absorb-to-healer credit (the batch
        # heal_per_healer / damage_received_players semantics)
        miss = MISS in amt
        resist_raw = RESIST in amt
        dodge_raw = DODGE in amt or PARRY in amt or DEFLECT in amt
        mitigated = miss or resist_raw or dodge_raw
        n = _first_int_opt(amt)
        if not mitigated and n is not None:
            st["dmg_rcvd"] += n
        # per-(attacker, skill) breakdown, batch damage_received_skills
        # precedence: miss > resist > dodged; shielded on landed hits only
        attacker = r.src_raw[1:].split("{", 1)[0]
        skill = r.skill_raw[1:].split("{", 1)[0]
        d = st["dr_by"].setdefault(attacker, {}).setdefault(
            skill, [0, 0, 0, 0, 0, 0, None])
        if miss:
            d[3] += 1
        elif resist_raw:
            d[4] += 1
        elif dodge_raw:
            d[1] += 1
        else:
            d[0] += 1
            if SHIELD in amt:
                d[2] += 1
            if n is not None:
                d[5] += n
        if d[6] is None and n:
            m = re.match(r"^\(\S+\s+(\S+)", amt)
            d[6] = m.group(1) if m else ""
        if ABSORB in amt and MISS not in amt:
            absorbed = _absorbed_opt(amt)
            if absorbed is not None and n is not None and absorbed <= n:
                k = st["healer"] if st["healer"] is not None else "null"
                st["heal_by"][k] = st["heal_by"].get(k, 0) + absorbed
    if FORCE_ARMOR in eff and "@" in r.tgt_raw:
        st["healer"] = r.src_raw[2:]
    if HEAL in eff and player in r.src_raw and REVIVE not in r.skill_raw:
        h = _first_int(amt)
        st["heal"] += h
        st["heal_by"][player] = st["heal_by"].get(player, 0) + h
    exited = False
    if (DEATH in eff or LEAVE_COMBAT in eff) and player in r.tgt_raw:
        out = dict(fight_seq=st["seq"], pull_start=st["start"],
                   pull_stop=f"{r.log_date} {r.time_raw[1:]}",
                   target=st["target"], player=player,
                   total_damage=st["dmg"], player_heal=st["heal"],
                   threat=st["threat"], dmg_rcvd=st["dmg_rcvd"],
                   heal_map=json.dumps(st["heal_by"], sort_keys=True),
                   dd_map=json.dumps(st["dd_by"], sort_keys=True),
                   dr_map=json.dumps(st["dr_by"], sort_keys=True))
        st.update(in_combat=False, player=None, healer=None)
        exited = True
    if not exited and "<" in amt and player in r.src_raw:
        # Mirror the batch path's null tolerance (grammar.py:
        # regexp_extract('<([^>]*)>') + try_cast): a truncated '<...'
        # without '>' or a non-numeric threat contributes nothing
        # instead of crashing the stream on one malformed line.
        m = re.search(r"<([^>]*)>", amt)
        # fullmatch (not bare int()): Python int accepts '4_5' underscores
        # that a Spark cast rejects — keep the two paths' domains identical.
        # ASCII classes, not \s/\d: Python's are Unicode-aware (U+00A0,
        # Arabic-Indic digits...) while Spark's string->int cast trims only
        # ASCII whitespace and accepts only ASCII digits
        if m and re.fullmatch(r"[ \t\r\n]*[+-]?[0-9]+[ \t\r\n]*", m.group(1)):
            st["threat"] += int(m.group(1))
    return out


def _stateful_fn(key: tuple, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    log_id = key[0]
    if state.exists:
        st = json.loads(state.get[0])
        # state blobs written by an older schema may predate the per-fight
        # maps; mid-fight resume then continues with empty maps
        st.setdefault("heal_by", {})
        st.setdefault("dd_by", {})
        st.setdefault("dr_by", {})
    else:
        st = {"in_combat": False, "player": None, "healer": None, "seq": 0,
              "start": None, "target": None, "dmg": 0, "heal": 0, "threat": 0}
    done: list[dict] = []
    for pdf in pdfs:
        for r in pdf.sort_values("line_no").itertuples(index=False):
            pull = _fold(st, r)
            if pull:
                pull["log_id"] = log_id
                done.append(pull)
    state.update((json.dumps(st),))
    if done:
        yield pd.DataFrame(done)[[f.name for f in PULL_OUT_SCHEMA.fields]]


# row layout inside the reorder buffer (json-serialized into the state)
_ROW_FIELDS = ["line_no", "log_date", "time_raw", "src_raw", "tgt_raw",
               "skill_raw", "effect_raw", "amount_raw"]
_BufRow = namedtuple("_BufRow", _ROW_FIELDS)

REORDER_MAX_BUFFER = 100_000


def _make_reorder_fn(max_buffer: int):
    """Order-tolerant variant of _stateful_fn: rows enter a per-log buffer
    keyed by line_no and are fed to the parser strictly in sequence
    (line_no is contiguous from 0 per log), so arbitrary cross-batch
    reordering — a late marker, a shuffled replay — produces EXACTLY the
    ordered result. Rows ahead of a gap wait in the state; the parser
    state machine itself is unchanged (_fold). Built as a closure so the
    buffer bound ships with the pickled function to the executors."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        log_id = key[0]
        if state.exists:
            st = json.loads(state.get[0])
            st.setdefault("heal_by", {})
            st.setdefault("dd_by", {})
            st.setdefault("dr_by", {})
        else:
            st = {"in_combat": False, "player": None, "healer": None,
                  "seq": 0, "start": None, "target": None, "dmg": 0,
                  "heal": 0, "threat": 0}
        raw_buf = st.pop("_buf", [])
        if isinstance(raw_buf, dict):
            # pre-round-5 checkpoint blob: {str(line_no): row}
            buf = {int(k): v for k, v in raw_buf.items()}
        else:
            # compact encoding: a bare row list — line_no is row[0], so
            # the dict keys (and their str() copies) never hit the blob;
            # ~30% off encode+decode at the 100k bound (measured in
            # SCALE.md "Reorder-buffer state cost")
            buf = {int(v[0]): v for v in raw_buf}
        next_line = st.pop("_next", 0)
        done: list[dict] = []

        def drain() -> None:
            nonlocal next_line
            while next_line in buf:
                row = _BufRow(*buf.pop(next_line))
                pull = _fold(st, row)
                if pull:
                    pull["log_id"] = log_id
                    done.append(pull)
                next_line += 1

        for pdf in pdfs:
            for r in pdf[_ROW_FIELDS].itertuples(index=False):
                ln = int(r.line_no)
                if ln < next_line:
                    # already delivered to the parser — an at-least-once
                    # source replaying a row; keeping it would park it in
                    # the buffer forever and eventually trip the bound
                    continue
                buf[ln] = [ln, *r[1:]]
                # drain incrementally: in-order rows flow straight through
                # the parser, so only rows genuinely ahead of a gap occupy
                # memory and only THOSE count against the bound — a fully
                # in-order batch larger than max_buffer is fine
                drain()
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


def stream_pulls(tokens_stream: DataFrame, reorder: bool = False,
                 reorder_max_buffer: int = REORDER_MAX_BUFFER) -> DataFrame:
    """Streaming token table -> stream of finished pulls. reorder=True
    tolerates out-of-order arrival across micro-batches (see module
    docstring) at the cost of a per-log line buffer in the state."""
    parsed = grammar.split_fields(
        grammar.detokenize_lines(tokens_stream, keep_tokens=False))
    parsed = grammar.with_identity_columns(parsed)
    slim = parsed.select("log_id", "line_no", "log_date", "time_raw",
                         "src_raw", "tgt_raw", "skill_raw", "effect_raw",
                         "amount_raw")
    fn = _make_reorder_fn(reorder_max_buffer) if reorder else _stateful_fn
    return slim.groupBy("log_id").applyInPandasWithState(
        fn, PULL_OUT_SCHEMA, STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout)


def _progress_metrics_row(d: dict) -> dict:
    """Shape ONE progress event (plain-dict JSON form) into the ops
    metric row both the pull path (``stream_batch_metrics``) and the
    push path (``GoldoMetricsListener``) emit."""
    om = (d.get("observedMetrics") or {}).get("goldo_pulls", {})
    so = d.get("stateOperators") or []
    return {
        "batch_id": d.get("batchId"),
        "rows_in": int(d.get("numInputRows") or 0),
        "pulls_out": int((om or {}).get("pulls_out") or 0),
        "state_rows": sum(int(s.get("numRowsTotal") or 0) for s in so),
        "state_bytes": sum(int(s.get("memoryUsedBytes") or 0) for s in so),
        "state_rows_updated": sum(int(s.get("numRowsUpdated") or 0)
                                  for s in so),
        "trigger_ms": (d.get("durationMs") or {}).get("triggerExecution"),
    }


def stream_batch_metrics(query) -> list[dict]:
    """Per-batch ops metrics from a streaming query's progress log: rows
    in, pulls out (the ``goldo_pulls`` observation attached by
    ``run_stream_once``), state-store row counts, and trigger latency —
    the numbers a production deployment alerts on.

    Pull-based: reads ``recentProgress``, a BOUNDED driver-side buffer
    (``spark.sql.streaming.numRecentProgressUpdates``, default 100) — a
    poller that falls behind loses batches. ``GoldoMetricsListener`` is
    the push-based variant without that window."""
    rows = []
    for p in query.recentProgress:
        # always via the JSON form: the live object holds Row values
        # (no .get) inside observedMetrics; the JSON is plain dicts
        d = json.loads(p.json) if hasattr(p, "json") else p
        rows.append(_progress_metrics_row(d))
    return rows


class GoldoMetricsListener(StreamingQueryListener):
    """Push-based metrics: Spark delivers every progress event to
    ``onQueryProgress`` as it is emitted, so no batch is ever lost to
    the bounded ``recentProgress`` window — the shape a production
    deployment feeds its metrics bus from. Register with
    ``spark.streams.addListener(listener)``; detach with
    ``removeListener`` (or use it as a context manager bound to a
    session). Collected rows are in ``.metrics`` (same dict shape as
    ``stream_batch_metrics``); lifecycle events land in ``.events``."""

    def __init__(self, spark=None):
        self.metrics: list[dict] = []
        self.events: list[tuple[str, str]] = []  # (kind, query name/id)
        self._spark = spark

    # -- context-manager attach/detach (needs the session passed in)
    def __enter__(self):
        if self._spark is None:
            raise ValueError("pass the SparkSession to use the context "
                             "manager form")
        self._spark.streams.addListener(self)
        return self

    def __exit__(self, *exc):
        self._spark.streams.removeListener(self)
        return False

    def onQueryStarted(self, event):
        self.events.append(("started", event.name or str(event.id)))

    def onQueryProgress(self, event):
        d = json.loads(event.progress.json)
        self.metrics.append(_progress_metrics_row(d))

    def onQueryIdle(self, event):
        self.events.append(("idle", str(event.id)))

    def onQueryTerminated(self, event):
        self.events.append(("terminated", str(event.id)))


def reorder_buffer_depths(spark, checkpoint_dir: str) -> dict[str, int]:
    """Per-log undrained-row count (reorder mode), read from the
    checkpointed state via Spark's ``statestore`` reader — the
    observability hook for "how far behind is each log's gap?" without
    touching a running query. Empty dict for non-reorder checkpoints
    (no ``_buf`` in the blob).

    The depth is computed inside the DataFrame (``get_json_object`` +
    ``json_array_length``, both JVM-side) and only the per-log summary is
    collected — the state table is as big as the key space, and decoding
    every 100k-row buffer blob in driver Python would be the exact
    driver-side loop the rest of the engine avoids."""
    df = spark.read.format("statestore").load(checkpoint_dir)
    rows = (
        df.select(
            F.col("key.log_id").alias("log_id"),
            F.json_array_length(
                F.get_json_object("value.groupState.blob", "$._buf"))
            .alias("depth"))
        .filter(F.col("depth").isNotNull())
        .collect()
    )
    return {r["log_id"]: r["depth"] for r in rows}


def run_stream_once(spark, input_dir: str, checkpoint_dir: str,
                    query_name: str = "pulls_stream",
                    output_dir: str | None = None,
                    reorder: bool = False,
                    reorder_max_buffer: int = REORDER_MAX_BUFFER,
                    metrics: list | None = None) -> DataFrame:
    """Drive the stream over all currently-available input (availableNow
    trigger). Default sink is memory (smoke path; NOT checkpoint-
    recoverable). Pass ``output_dir`` for a parquet sink — the deployable
    shape, and the one that resumes from the checkpoint: a later
    invocation with the same checkpoint processes only new files and
    restores the per-log parser state (tested with a mid-fight split in
    test_streaming_state_survives_restart_mid_fight)."""
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    stream = spark.readStream.schema(schema).parquet(input_dir)
    pulls = stream_pulls(stream, reorder=reorder,
                         reorder_max_buffer=reorder_max_buffer)
    # observed metric rides each micro-batch's progress event — no extra
    # action, no second pass (pass ``metrics=[]`` to receive them)
    pulls = pulls.observe("goldo_pulls",
                          F.count(F.lit(1)).alias("pulls_out"))
    if output_dir is not None:
        q = (pulls.writeStream.outputMode("append").format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if metrics is not None:
            metrics.extend(stream_batch_metrics(q))
        return spark.read.parquet(output_dir)
    q = (pulls.writeStream.outputMode("append").format("memory")
         .queryName(query_name).option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    if metrics is not None:
        metrics.extend(stream_batch_metrics(q))
    return spark.sql(f"SELECT * FROM {query_name}")
