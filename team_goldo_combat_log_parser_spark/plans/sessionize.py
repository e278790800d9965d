"""Fight sessionization: explicit Enter/Exit/Death boundary events.

The reference flips an ``in_combat`` flag row-at-a-time (main.py:122-147,
263-289). Distributed equivalent:

1. Filter the *marker* rows (effect contains EnterCombat / ExitCombat /
   Death ids) — a tiny fraction of the corpus, pushed down to the scan.
2. Run the boundary state machine per log with ``applyInPandas``. The
   Python loop touches only marker rows (O(#fights), not O(#rows)), so
   this stage is negligible at any scale and parallelizes across logs —
   at 10^12 sequences there are millions of logs, each with few markers.
3. Join fights back to events on ``log_id`` (+ line-range predicate).
   The fights side is orders of magnitude smaller than events; we
   broadcast it below a size threshold, else hash-join on log_id.

Semantics preserved from the reference:
 * only the first EnterCombat while out of combat opens a fight
   (dispatch condition ('in_combat', False), main.py:37);
 * a fight's player_id is the Enter row's from[2:] (main.py:124);
 * the fight closes at the first Death/ExitCombat row whose *to* field
   contains that player_id as a substring (main.py:47-50, 313);
 * a fight still open at end-of-log is never persisted (main.py:263 runs
   only on an exit row) — we emit it with finished=false;
 * duplicate-pull suppression (main.py:128-134): a finished fight whose
   (start_ts, player_id) equals an already-written pull is ignored. In a
   batch over many logs this is "first finished fight in (log_id,
   fight_seq) order wins" — a window dedup.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FIGHTS_SCHEMA = (
    "log_id string, fight_seq int, player_id string, "
    "start_line long, end_line long, start_ts timestamp, stop_ts timestamp, "
    "finished boolean"
)


def fight_edge(in_combat: bool, player: str | None, r) -> bool:
    """The one rule that bounds a fight, for batch and stream: does row
    ``r`` flip ``in_combat``? Out of combat, an EnterCombat row opens a
    fight; in combat, a Death/ExitCombat row whose *to* field contains
    the fight's player closes it."""
    if not in_combat:
        return bool(r.is_enter)
    return bool(r.is_leave or r.is_death) and player in r.tgt_raw


def _fight_state_machine(pdf: pd.DataFrame) -> pd.DataFrame:
    """Boundary pairing for one log's marker rows (already tiny)."""
    pdf = pdf.sort_values("line_no")
    out: list[tuple] = []
    log_id = pdf["log_id"].iloc[0]
    in_combat = False
    seq = 0
    player = start_line = start_ts = None
    for r in pdf.itertuples(index=False):
        if not fight_edge(in_combat, player, r):
            continue
        if in_combat:
            out.append((log_id, seq, player, start_line, r.line_no,
                        start_ts, r.ts, True))
        else:
            seq += 1
            player = r.src_player
            start_line, start_ts = r.line_no, r.ts
        in_combat = not in_combat
    if in_combat:
        out.append((log_id, seq, player, start_line, None, start_ts, None, False))
    return pd.DataFrame(out, columns=["log_id", "fight_seq", "player_id",
                                      "start_line", "end_line", "start_ts",
                                      "stop_ts", "finished"])


def build_fights(parsed: DataFrame) -> DataFrame:
    """Marker rows -> fights table with duplicate-pull flags."""
    markers = parsed.filter(
        F.col("is_enter") | F.col("is_leave") | F.col("is_death")
    ).select("log_id", "line_no", "ts", "is_enter", "is_leave", "is_death",
             "src_player", "tgt_raw")
    fights = markers.groupBy("log_id").applyInPandas(
        _fight_state_machine, schema=FIGHTS_SCHEMA)
    # duplicate pull: an earlier *finished* fight already wrote the same
    # (start_ts, player_id) key; order = (log_id, fight_seq) processing order.
    # count *finished* fights strictly earlier in the same key partition:
    # only written pulls participate in the Datastore-style probe, so an
    # unfinished (never-written) fight must not shadow a later one.
    w = (Window.partitionBy("start_ts", "player_id")
         .orderBy("log_id", "fight_seq")
         .rowsBetween(Window.unboundedPreceding, -1))
    prior_written = F.coalesce(
        F.sum(F.when(F.col("finished"), 1)).over(w), F.lit(0))
    return fights.withColumn(
        "is_duplicate", F.col("finished") & (prior_written >= 1))


def assign_fights(parsed: DataFrame, fights: DataFrame) -> DataFrame:
    """Left-join each event to its enclosing fight (if any).

    Equi-key log_id drives the hash join; the line-range predicate is a
    residual filter. The fights table is broadcast: fights are ~1e-3 of
    rows, so it fits an executor.
    """
    f = F.broadcast(fights.select(
        F.col("log_id").alias("f_log_id"),
        "fight_seq",
        F.col("player_id").alias("fight_player"),
        "start_line", "end_line", "start_ts", "stop_ts",
        "finished", "is_duplicate",
    ))
    cond = (
        (parsed["log_id"] == f["f_log_id"])
        & (parsed["line_no"] >= f["start_line"])
        & (parsed["line_no"] <= F.coalesce(f["end_line"], F.lit(2**62)))
    )
    return parsed.join(f, cond, "left").drop("f_log_id")
