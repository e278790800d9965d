"""End-to-end DAG: token table -> parse -> sessionize -> route -> aggregate.

One cached routed DataFrame feeds every sink and aggregate, so the
detokenize hop and the parse projection execute once per input row
regardless of how many outputs are materialized (SURVEY.md par.4 item 3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DEATH, ENTER_COMBAT, LEAVE_COMBAT
from ..functions import grammar
from . import aggregate as agg
from .route import sink_filters, with_routes
from .sessionize import assign_fights, build_fights


@dataclass
class PipelineResult:
    parsed: DataFrame
    fights: DataFrame
    routed: DataFrame
    sinks: dict[str, DataFrame]
    damage_done_skills: DataFrame
    damage_received_skills: DataFrame
    heal: DataFrame
    threat: DataFrame
    pulls: DataFrame
    rates: DataFrame
    extra: dict = field(default_factory=dict)

    def unpersist(self) -> None:
        self.routed.unpersist()
        self.fights.unpersist()
        if "lines" in self.extra:
            self.extra["lines"].unpersist()


def run_pipeline(
    spark: SparkSession,
    token_df: DataFrame,
    broadcast_fights: bool = True,
    cache: bool = True,
    cache_lines: bool = True,
) -> PipelineResult:
    """cache_lines (default True): persist ONLY the detokenized line (one
    narrow string column, ~10x smaller than the parsed projection), so
    the Arrow detok runs once and both the markers pass and the routed
    pass re-derive the typed columns from the cache with pure JVM
    codegen (the cheap half of the parse). Settled by a 6-pair ABBA A/B
    under the official bench harness in quiet-gated host windows
    (BENCH/CACHE_AB.md): median on/off time ratio 0.79 at local[32] (on
    faster in 5/6 rounds, both orders; ~76k vs ~60k routed ev/s),
    neutral at 4x1-core executors (38.4s both variants) where Python
    workers are fewer and cache writes contend instead. Persisting the
    full parsed projection lost to both (cache-write bandwidth is the
    scarce resource, not CPU). ``cache=False`` persists nothing."""
    src = token_df
    lines_cached = None
    if cache and cache_lines:
        lines_cached = (grammar.detokenize_lines(token_df, keep_tokens=False)
                        .select("doc_id", "source", "line").persist())
        src = lines_cached
    parsed_full = grammar.parse_lines(src)

    # The projection is the slim downstream set: every predicate that only
    # needs a raw string is already a boolean flag, so the wide raw columns
    # (line, effect/amount/skill/time) never leave this select. The fights
    # (markers) pass and the routed pass each scan this plan, re-deriving
    # the typed columns from the line cache (or the token scan).
    slim_cols = [
        "log_id", "line_no", "ts", "src_raw", "tgt_raw",
        "src_player", "src_name", "tgt_name", "skill",
        "spell_id", "effect_id",
        "amount", "crit", "dmg_type", "absorbed", "threat", "has_threat",
        "is_enter", "is_leave", "is_death", "is_damage", "is_heal_eff",
        "is_fa", "is_event_verb", "is_apply_verb", "is_remove_verb",
        "m_miss", "m_absorb", "m_resist", "m_dodge", "m_dodge_single",
        "m_shield", "m_immune", "skill_has_revive", "tgt_has_at",
    ]
    parsed = parsed_full.select(*slim_cols)

    # Round 9 (guide par.2.3/par.1.2 — don't compute what you throw away):
    # the markers pass only keeps rows whose EFFECT field contains one of
    # three distinctive brace-wrapped ids, i.e. ~0.1% of events, yet it
    # paid the full field split + typed projection for every row. A
    # raw-line `contains` pre-filter is a strict SUPERSET of the marker
    # predicate (the effect field is a substring of the line), costs three
    # substring scans instead of a regex split, and pushes down to the
    # line cache / token scan — the split now runs on survivors only.
    # The exact flag filter in build_fights still decides membership, so
    # results are identical by construction (filter(superset) then
    # filter(exact) == filter(exact); pinned in test_e2e_oracle).
    pre = (F.col("line").contains(ENTER_COMBAT)
           | F.col("line").contains(LEAVE_COMBAT)
           | F.col("line").contains(DEATH))
    fights = build_fights(parsed_full.filter(pre).select(*slim_cols))
    if cache:
        fights = fights.cache()

    assigned = assign_fights(parsed, fights, broadcast_fights=broadcast_fights)
    routed = with_routes(assigned)
    if cache:
        routed = routed.persist()

    sinks = sink_filters(routed)
    dd_sk = agg.damage_done_skills(routed)
    dd_pl = agg.damage_done_players(routed)
    dr_sk = agg.damage_received_skills(routed)
    dr_pl = agg.damage_received_players(routed)
    heal = agg.heal_per_healer(routed, fights)
    threat = agg.threat_per_player(routed, fights)
    pulls = agg.build_pulls(fights, dd_pl)
    rates = agg.rates(pulls, dd_pl, heal, dr_pl)

    extra = {"damage_done_players": dd_pl, "damage_received_players": dr_pl}
    if lines_cached is not None:
        extra["lines"] = lines_cached
    return PipelineResult(
        parsed=parsed, fights=fights, routed=routed, sinks=sinks,
        damage_done_skills=dd_sk, damage_received_skills=dr_sk,
        heal=heal, threat=threat, pulls=pulls, rates=rates,
        extra=extra,
    )


# NOTE: sink materialization lives in runner/cli.py (`run` + Observation
# row counts — ONE job per sink, no write-then-recount re-execution).

def token_equality_violations(token_df: DataFrame) -> int:
    """Per-row invariant (BASELINE.json): retokenize(detokenize(tokens))
    must equal tokens. Returns the number of violating rows (expect 0)."""
    df = grammar.detokenize_lines(token_df)
    df = df.withColumn("tokens2", grammar.retokenize_udf(F.col("line")))
    return df.filter(F.col("tokens") != F.col("tokens2")).count()
