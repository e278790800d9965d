"""End-to-end parity: Spark pipeline vs the sequential oracle on the
reference's real 3,109-line sample log, a seeded synthetic raid corpus,
and a hand-built adversarial corpus (duplicates, open fights, midnight
rollover, revive exclusion, pre-combat Force Armor)."""

import datetime as dt

from team_goldo_combat_log_parser_spark.golden.oracle import run_oracle
from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
from team_goldo_combat_log_parser_spark.sources import datagen as dg


def _ts(s: str) -> dt.datetime:
    return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")


FMT = "%Y-%m-%d %H:%M:%S.%f"


def oracle_pulls(oracle) -> set[tuple]:
    out = set()
    for key in oracle.table("pulls"):
        log_id, seq, start, stop, target, player, total = key
        start_t, stop_t = _ts(start), _ts(stop)
        if stop_t < start_t:
            stop_t += dt.timedelta(days=1)  # midnight rollover (main.py:276-277)
        out.add((log_id, seq, start_t.strftime(FMT)[:-3],
                 stop_t.strftime(FMT)[:-3], target, player, total))
    return out


def spark_pulls(res) -> set[tuple]:
    from pyspark.sql import functions as F
    rows = res.pulls.select(
        "log_id", "fight_seq",
        F.date_format("pull_start", "yyyy-MM-dd HH:mm:ss.SSS").alias("s"),
        F.date_format("pull_stop", "yyyy-MM-dd HH:mm:ss.SSS").alias("e"),
        "target", F.col("players_set").getItem(0).alias("player"),
        "total_damage").collect()
    return {tuple(r) for r in rows}


def assert_parity(spark, logs):
    oracle = run_oracle(logs)
    res = run_pipeline(spark, dg.token_df(spark, logs))
    try:
        assert spark_pulls(res) == oracle_pulls(oracle)

        got = {tuple(r) for r in res.damage_done_skills.collect()}
        assert got == oracle.table("damage_done_skills")

        got = {tuple(r) for r in res.damage_received_skills.collect()}
        assert got == oracle.table("damage_received_skills")

        got = {tuple(r) for r in res.heal.collect()}
        assert got == oracle.table("heal")

        got = {tuple(r) for r in res.threat.collect()}
        assert got == oracle.table("threat")

        got = {tuple(r) for r in res.extra["damage_received_players"].collect()}
        want_full = oracle.table("damage_received_players")
        # spark emits a row only when >=1 received event occurred
        assert got <= want_full
        assert all(w in got or w[3] == 0 for w in want_full)

        # routed-row counts per handler
        from pyspark.sql import functions as F
        flags = ["r_enter", "r_damage_done", "r_damage_received", "r_fa",
                 "r_heal", "r_exit", "r_threat"]
        agg = res.routed.select(
            *[F.sum(F.col(f).cast("int")).alias(f) for f in flags]).collect()[0]
        names = dict(zip(flags, ["enter", "damage_done", "damage_received",
                                 "fa", "heal", "exit", "threat"]))
        for f in flags:
            assert (agg[f] or 0) == oracle.route_counts[names[f]], \
                f"route count mismatch for {f}"
    finally:
        res.unpersist()


def test_sample_file(spark):
    assert_parity(spark, [dg.sample_file_log()])


def test_synth_corpus(spark):
    logs = dg.synth_corpus(dg.GenConfig(n_logs=3, fights_per_log=3,
                                        rows_per_fight=120, seed=7))
    assert_parity(spark, logs)


def test_adversarial_corpus(spark):
    assert_parity(spark, dg.adversarial_logs())


def test_adversarial_specifics(spark):
    logs = dg.adversarial_logs()
    res = run_pipeline(spark, dg.token_df(spark, logs), cache=False)
    pulls = {(r["log_id"], r["fight_seq"]): r for r in res.pulls.collect()}
    # open fight at EOF is never persisted
    assert ("combat_2012-08-01_20_00_00_advA", 3) not in pulls
    # duplicate pull suppressed: advB fight 1 shares key with advA fight 1
    assert ("combat_2012-08-01_20_00_00_advB", 1) not in pulls
    assert ("combat_2012-08-01_20_00_00_advB", 2) in pulls
    # midnight rollover: stop is +1 day
    c = pulls[("combat_2012-08-02_23_58_00_advC", 1)]
    assert c["pull_stop"].day == c["pull_start"].day + 1
    # revive-skill heal excluded; direct heal 250 + absorb credit 400
    heal = {(r["log_id"], r["fight_seq"], r["healer"]): r["heal"]
            for r in res.heal.collect()}
    assert heal[("combat_2012-08-01_20_00_00_advA", 1, "Zan'ik")] == 250
    assert heal[("combat_2012-08-01_20_00_00_advA", 1, "Orarah")] == 400


def test_cache_lines_plans_agree(spark):
    """Both physical strategies — persist the detokenized lines and parse
    from them (default) or re-parse from the token scan in both passes
    (cache_lines=False) — must produce identical pulls, heal and threat
    tables."""
    from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
    from team_goldo_combat_log_parser_spark.sources import datagen as dg

    tokens = dg.token_df(spark, dg.adversarial_logs())
    a = run_pipeline(spark, tokens)  # default: line-only cache
    c = run_pipeline(spark, tokens, cache_lines=False)  # re-parse twice
    for ta, tc in ((a.pulls, c.pulls), (a.heal, c.heal),
                   (a.threat, c.threat)):
        ra = sorted(map(str, ta.collect()))
        rc = sorted(map(str, tc.collect()))
        assert ra == rc
    a.unpersist(); c.unpersist()
