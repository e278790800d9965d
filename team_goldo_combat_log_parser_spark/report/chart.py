"""E3 drill-down composite: the reference's /chart/<id> page as one query.

The reference (main.py:375-557) point-looks-up a single Pull entity,
decodes its ``data`` JSON blob, and assembles nine gviz DataTables from
it: the per-(player, skill) damage table (sorted player, skill — O2), the
per-(player, attacker, skill) received table (sorted player, attacker,
skill — O3), pie+bar pairs for damage/DPS, heal/HPS, received/DTPS, and
the threat pie — every number derived from the decoded blob, never from
the raw log.  This module reproduces exactly that read path: filter the
pull_json output to ONE (log_id, fight_seq), ``from_json``-decode the
blob, and explode/aggregate the decoded struct into one long-format
DataFrame that carries all nine tables (section column = which gviz
table the row belongs to); the frame itself is the report, served as the
``combat_chart`` registry query.

Scale shape: the blob join/filter is a partition-prunable point lookup
(at 100 TB the pulls table is partitioned by log_date, so the scan
touches one day); everything after the lookup operates on ONE decoded
row — explodes of arrays already reduced to fight granularity upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# from_json schema for the pull `data` blob (shared with combat_pull_json)
PULL_JSON_SCHEMA = (
    "pull_start string, pull_stop string, target string, "
    "players_set array<string>, "
    "damage_done array<struct<player string, skill string, hit bigint, "
    "dodged bigint, missed bigint, total_damage bigint>>, "
    "damage_received array<struct<player string, attacker string, "
    "skill string, hit bigint, dodged bigint, shielded bigint, "
    "missed bigint, resisted bigint, total_damage bigint, dmg_type string>>, "
    "heal array<struct<healer string, heal bigint>>, "
    "threat array<struct<player string, threat bigint>>")

# unified long-format layout: one row set per gviz table ("section")
CHART_COLUMNS = [
    "section", "player", "attacker", "skill",
    "hit", "dodged", "missed", "shielded", "resisted",
    "total_damage", "dmg_type", "amount", "rate_e6",
    "target", "pull_start", "duration_ms",
]


def _pad(df: DataFrame) -> DataFrame:
    """Null-pad a section frame to the unified CHART_COLUMNS layout."""
    types = {
        "section": "string", "player": "string", "attacker": "string",
        "skill": "string", "hit": "long", "dodged": "long",
        "missed": "long", "shielded": "long", "resisted": "long",
        "total_damage": "long", "dmg_type": "string", "amount": "long",
        "rate_e6": "long", "target": "string", "pull_start": "string",
        "duration_ms": "long",
    }
    cols = [F.col(c) if c in df.columns
            else F.lit(None).cast(types[c]).alias(c)
            for c in CHART_COLUMNS]
    return df.select(*cols)


def _rate_e6(amount: Column, secs: Column) -> Column:
    """floor(x * 1e6) of the reference's per-second rate — engine-neutral
    (same IEEE double divide + floor in DuckDB; round() tie-breaks
    differ)."""
    return F.floor(amount.cast("double") / secs * F.lit(1e6)).cast("long")


def chart_frame(pull_json_df: DataFrame, log_id: str,
                fight_seq: int) -> DataFrame:
    """One /chart/<id> composite: point lookup -> decode -> nine tables.

    Returns the long-format union ordered (section, player, attacker,
    skill) — the reference's gviz order_by for the two big tables, and a
    deterministic total order for everything else."""
    one = pull_json_df.filter(
        (F.col("log_id") == log_id) & (F.col("fight_seq") == fight_seq))
    d = one.select(F.from_json("data", PULL_JSON_SCHEMA).alias("d"))

    start_ts = F.to_timestamp("d.pull_start")
    stop_ts = F.to_timestamp("d.pull_stop")
    # cast-to-double seconds: the exact pattern combat_rates proved
    # hash-identical to DuckDB's epoch() arithmetic
    secs = F.nullif(stop_ts.cast("double") - start_ts.cast("double"),
                    F.lit(0.0))
    base = d.select(
        "d", secs.alias("secs"),
        F.col("d.target").alias("target"),
        F.date_format(start_ts, "yyyy-MM-dd HH:mm:ss.SSS")
        .alias("pull_start"),
        (F.unix_millis(stop_ts) - F.unix_millis(start_ts))
        .alias("duration_ms"))

    header = base.select(
        F.lit("0_header").alias("section"), "target", "pull_start",
        "duration_ms")

    # gviz skill table (main.py:390-411): per (player, skill), the
    # 'amount' pseudo-key skipped == exactly the per-skill rows
    skills = (base.select(F.explode("d.damage_done").alias("x"))
              .select(F.lit("1_skills").alias("section"),
                      "x.player", "x.skill", "x.hit", "x.dodged",
                      "x.missed", "x.total_damage"))

    # gviz damage-received table (main.py:413-444)
    received = (base.select(F.explode("d.damage_received").alias("x"))
                .select(F.lit("2_received").alias("section"),
                        "x.player", "x.attacker", "x.skill", "x.hit",
                        "x.dodged", "x.shielded", "x.missed", "x.resisted",
                        "x.total_damage", "x.dmg_type"))

    # pie damage + bar DPS (main.py:466-471): per-player amount == the sum
    # of that player's per-skill totals (the reference accumulates both
    # from the same rows), so the pies derive from the decoded blob too
    dmg_pl = (base.select("secs", F.explode("d.damage_done").alias("x"))
              .groupBy("x.player")
              .agg(F.sum("x.total_damage").alias("amount"),
                   F.first("secs").alias("secs"))
              .select(F.lit("3_damage_players").alias("section"),
                      F.col("player"), "amount",
                      _rate_e6(F.col("amount"), F.col("secs"))
                      .alias("rate_e6")))

    heal_pl = (base.select("secs", F.explode("d.heal").alias("x"))
               .select(F.lit("4_heal_players").alias("section"),
                       F.col("x.healer").alias("player"),
                       F.col("x.heal").alias("amount"),
                       _rate_e6(F.col("x.heal"), F.col("secs"))
                       .alias("rate_e6")))

    dr_pl = (base.select("secs", F.explode("d.damage_received").alias("x"))
             .groupBy("x.player")
             .agg(F.sum("x.total_damage").alias("amount"),
                  F.first("secs").alias("secs"))
             .select(F.lit("5_received_players").alias("section"),
                     F.col("player"), "amount",
                     _rate_e6(F.col("amount"), F.col("secs"))
                     .alias("rate_e6")))

    threat_pl = (base.select(F.explode("d.threat").alias("x"))
                 .select(F.lit("6_threat_players").alias("section"),
                         F.col("x.player").alias("player"),
                         F.col("x.threat").alias("amount")))

    out = _pad(header)
    for part in (skills, received, dmg_pl, heal_pl, dr_pl, threat_pl):
        out = out.unionByName(_pad(part))
    return out.orderBy("section", F.asc_nulls_first("player"),
                       F.asc_nulls_first("attacker"),
                       F.asc_nulls_first("skill"))
