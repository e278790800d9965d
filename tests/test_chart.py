"""E3 chart composite and E2 /results listing (reference main.py:333-557),
read straight from the registry queries that serve them."""

import io
from contextlib import redirect_stdout

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _chart_df(spark):
    return entry_mod.queries()["combat_chart"](spark, SF_DIR)


def test_chart_sections_complete(spark):
    """The fixture pull must populate every gviz table the reference's
    chart page renders — header, both big tables, and the four per-player
    chart row sets."""
    rows = _chart_df(spark).collect()
    sections = {r["section"] for r in rows}
    assert sections == {"0_header", "1_skills", "2_received",
                        "3_damage_players", "4_heal_players",
                        "5_received_players", "6_threat_players"}
    hdr = [r for r in rows if r["section"] == "0_header"]
    assert len(hdr) == 1 and hdr[0]["target"] and hdr[0]["duration_ms"] > 0
    # per-player damage == sum of that player's skill rows (the reference
    # accumulates 'amount' and the per-skill totals from the same rows)
    per_skill = sum(r["total_damage"] for r in rows
                    if r["section"] == "1_skills")
    per_player = sum(r["amount"] for r in rows
                     if r["section"] == "3_damage_players")
    assert per_skill == per_player > 0


def _results_df(spark):
    return entry_mod.queries()["combat_results"](spark, SF_DIR)


def test_results_listing_gviz(spark):
    """The reference's /results gviz listing, as ``combat_results`` serves
    it: pull_start DESC, and the sort lives in the engine plan (visible as
    a Sort node), not in a renderer's Python."""
    df = _results_df(spark)
    starts = [r["pull_start_paris"] for r in df.collect()]
    assert starts == sorted(starts, reverse=True) and len(starts) >= 2
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Sort" in plan and "pull_start_paris" in plan, plan


def test_results_listing_pagination(spark):
    """``combat_results_page`` is exactly the newest 5 rows of the full
    listing: same total order, truncated."""
    full = [tuple(r) for r in _results_df(spark).collect()]
    paged_q = entry_mod.queries()["combat_results_page"](spark, SF_DIR)
    got = [tuple(r) for r in paged_q.collect()]
    assert got == full[:5] and len(got) == 5
