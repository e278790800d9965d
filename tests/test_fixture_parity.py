"""Golden parity with the reference unit suite (reference tests_goldo.py:47-208).

Each reference test feeds 1-6 log lines to the dispatch path mid-combat;
here each case wraps the same lines in an Enter/Exit pair, runs the full
Spark pipeline, and asserts the identical golden aggregate values —
including the trailing-space skill keys ("Storm ") and the multi-handler
rows (damage + threat from one line).
"""

from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
from team_goldo_combat_log_parser_spark.sources import datagen as dg

PLAYER = dg.PLAYER  # Lor'dan

ENTER = dg.enter_combat_line("21:00:00.000", PLAYER)
EXIT_ = dg.exit_combat_line("23:59:00.000", PLAYER)

FIX = dg.fixture_lines()


def run_case(spark, lines):
    log = ("combat_2012-06-06_20_33_20_case.txt", [ENTER, *lines, EXIT_])
    return run_pipeline(spark, dg.token_df(spark, [log]), cache=False)


def one_map(df, key_cols, val_col):
    rows = df.collect()
    return {tuple(r[k] for k in key_cols): r[val_col] for r in rows}


def test_damage_done_and_threat(spark):
    res = run_case(spark, [FIX["damage_done"]])
    pulls = res.pulls.collect()
    assert len(pulls) == 1
    assert pulls[0]["total_damage"] == 2602
    threat = one_map(res.threat, ["player"], "threat")
    assert threat[(PLAYER,)] == 6505


def test_damage_done_missed(spark):
    res = run_case(spark, [FIX["damage_done_missed"]])
    m = one_map(res.damage_done_skills, ["skill"], "missed")
    assert m[("Storm ",)] == 1
    assert res.pulls.collect()[0]["total_damage"] == 0


def test_damage_done_dodged(spark):
    res = run_case(spark, [FIX["damage_done_dodged"]])
    m = one_map(res.damage_done_skills, ["skill"], "dodged")
    assert m[("Storm ",)] == 1
    assert res.pulls.collect()[0]["total_damage"] == 0


def test_damage_received(spark):
    res = run_case(spark, [FIX["damage_recvd"]])
    m = one_map(res.damage_received_skills, ["attacker", "skill"], "total_damage")
    assert m[("Tunneling Tentacle ", "Slap ")] == 5083


def test_damage_received_shielded_counts_as_hit(spark):
    res = run_case(spark, [FIX["damage_shielded"]])
    rows = res.damage_received_skills.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["attacker"] == "Tunneling Tentacle " and r["skill"] == "Slap "
    assert r["shielded"] == 1
    assert r["hit"] == 1
    assert r["total_damage"] == 2776


def test_absorb_attribution(spark):
    lines = [FIX["apply_force_armor"], FIX["absorbed_full"],
             FIX["absorbed_shield_eq"], FIX["absorbed_dodge"],
             FIX["absorbed_shield_part"], FIX["absorbed_dodge"]]
    res = run_case(spark, lines)
    dr = one_map(res.damage_received_skills, ["attacker", "skill"], "total_damage")
    assert dr[("The Terror From Beyond ", "Monsterous Swipe ")] == 17697
    heal = one_map(res.heal, ["healer"], "heal")
    assert heal[("Meyrah",)] == 13973  # 8973 + 4362 + 638; 22703-style pure-shield excluded
    assert heal[(PLAYER,)] == 0  # zero-seeded pull player


def test_damage_received_missed(spark):
    res = run_case(spark, [FIX["damage_recvd_missed"]])
    r = res.damage_received_skills.collect()[0]
    assert (r["missed"], r["hit"], r["total_damage"]) == (1, 0, 0)


def test_damage_received_dodged(spark):
    res = run_case(spark, [FIX["damage_recvd_dodged"]])
    r = res.damage_received_skills.collect()[0]
    assert (r["dodged"], r["hit"], r["total_damage"]) == (1, 0, 0)


def test_damage_received_deflect_buckets_into_dodged(spark):
    res = run_case(spark, [FIX["damage_recvd_deflected"]])
    r = res.damage_received_skills.collect()[0]
    assert r["attacker"] == "Vilus Garr " and r["skill"] == "Pistol Shot "
    assert (r["dodged"], r["hit"], r["total_damage"]) == (1, 0, 0)


def test_damage_received_parry_buckets_into_dodged(spark):
    res = run_case(spark, [FIX["damage_recvd_parried"]])
    r = res.damage_received_skills.collect()[0]
    assert r["attacker"] == "Kell Dragon " and r["skill"] == "Spines "
    assert (r["dodged"], r["hit"], r["total_damage"]) == (1, 0, 0)


def test_heal_and_threat_from_one_row(spark):
    res = run_case(spark, [FIX["heal_recvd"]])
    heal = one_map(res.heal, ["healer"], "heal")
    assert heal[(PLAYER,)] == 4480
    threat = one_map(res.threat, ["player"], "threat")
    assert threat[(PLAYER,)] == 5600


def test_threat_accumulates(spark):
    res = run_case(spark, [FIX["damage_done"], FIX["damage_done_2"]])
    threat = one_map(res.threat, ["player"], "threat")
    assert threat[(PLAYER,)] == 13010


def test_negative_threat(spark):
    res = run_case(spark, [FIX["damage_done"], FIX["damage_done_2"],
                           FIX["negative_threat"]])
    threat = one_map(res.threat, ["player"], "threat")
    assert threat[(PLAYER,)] == -1479327


def test_resist(spark):
    res = run_case(spark, [FIX["resist"]])
    r = res.damage_received_skills.collect()[0]
    assert r["attacker"] == "Dread Guard Dispatcher "
    assert r["skill"] == "Force Lightning "
    assert (r["resisted"], r["total_damage"]) == (1, 0)
