"""Runner (resumable checkpoint manifest) and Structured Streaming tests."""

import glob
import io
import json
import os
import subprocess
import sys
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from team_goldo_combat_log_parser_spark.runner.checkpoint import (
    Manifest, filter_unprocessed)
from team_goldo_combat_log_parser_spark.sources import datagen as dg
from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
from team_goldo_combat_log_parser_spark.streaming.stream_pipeline import (
    run_stream_once)

from .conftest import REPO_ROOT


def test_manifest_resume(spark, tmp_path):
    logs = dg.synth_corpus(dg.GenConfig(n_logs=3, fights_per_log=2,
                                        rows_per_fight=40, seed=3))
    tokens = dg.token_df(spark, logs)
    m = Manifest(str(tmp_path / "ckpt"))

    # first run: everything new
    todo = filter_unprocessed(tokens, m)
    assert todo.count() == tokens.count()
    first_two = [logs[0][0], logs[1][0]]
    m.commit(first_two, {"damage": 10}, metrics={"run": 1})

    # resume: only the third log remains
    todo = filter_unprocessed(tokens, m)
    remaining = {r["source"] for r in todo.select("source").distinct().collect()}
    assert remaining == {logs[2][0]}

    # second commit closes it out; manifest accumulates
    m.commit([logs[2][0]], {"damage": 5})
    assert filter_unprocessed(tokens, m).count() == 0
    assert len(m.records()) == 2
    assert m.processed_sources() == {log[0] for log in logs}


def test_cli_end_to_end(tmp_path):
    """Drive the spark-submit entrypoint as a real subprocess, twice —
    the second invocation must be a no-op (resume from manifest)."""
    code = (
        f"import sys; sys.path.insert(0, {str(REPO_ROOT)!r}); "
        "from team_goldo_combat_log_parser_spark.session import get_spark; "
        "from team_goldo_combat_log_parser_spark.sources import datagen as dg; "
        "s = get_spark('cli-prep', cores=2); "
        "logs = dg.adversarial_logs(); "
        f"dg.write_token_table(s, logs, '{tmp_path}/tokens', 2)"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=300)
    env_args = ["--input", f"{tmp_path}/tokens", "--output", f"{tmp_path}/out",
                "--checkpoint", f"{tmp_path}/ckpt"]
    runner = (f"import sys; sys.path.insert(0, {str(REPO_ROOT)!r}); "
              "from team_goldo_combat_log_parser_spark.session import get_spark; "
              "get_spark('cli', cores=2); "
              "from team_goldo_combat_log_parser_spark.runner.cli import main; "
              "sys.exit(main(sys.argv[1:]))")
    r1 = subprocess.run([sys.executable, "-c", runner, *env_args],
                        capture_output=True, text=True, timeout=600)
    out1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert out1["status"] == "committed" and out1["new_sources"] == 3
    assert out1["counts"]["pulls"] == 4  # advA:2, advB:1 (dup dropped), advC:1

    r2 = subprocess.run([sys.executable, "-c", runner, *env_args],
                        capture_output=True, text=True, timeout=600)
    out2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert out2["status"] == "up-to-date"

    # crash-replay exactly-once: delete the manifest record (simulating a
    # crash AFTER the writes but BEFORE the manifest commit) — the replay
    # must derive the SAME commit id from the same source set and
    # overwrite the orphaned directory, leaving exactly one commit dir
    for rec in glob.glob(f"{tmp_path}/ckpt/manifest/*.json"):
        os.remove(rec)
    r3 = subprocess.run([sys.executable, "-c", runner, *env_args],
                        capture_output=True, text=True, timeout=600)
    out3 = json.loads(r3.stdout.strip().splitlines()[-1])
    assert out3["status"] == "committed"
    assert out3["commit_id"] == out1["commit_id"], "replay must reuse the id"
    assert out3["counts"] == out1["counts"]
    commit_dirs = glob.glob(f"{tmp_path}/out/pulls/commit=*")
    assert len(commit_dirs) == 1, commit_dirs


def test_sink_partitioned_by_log_date(spark, tmp_path):
    """Sinks are written partitioned by log_date (day prefix of log_id):
    a reader filtering one day must hit a partition filter, not a scan of
    every file — the 100 TB raid-night drill-down depends on it."""
    from team_goldo_combat_log_parser_spark.runner.cli import write_table

    res = run_pipeline(spark, dg.token_df(spark, dg.adversarial_logs()),
                       cache=False)
    write_table(res.sinks["damage"], str(tmp_path / "out"), "sink_damage",
                "ctest")
    days = sorted(os.path.basename(p).split("=")[1] for p in glob.glob(
        f"{tmp_path}/out/sink_damage/commit=ctest/log_date=*"))
    assert days == ["2012-08-01", "2012-08-02"], days

    back = spark.read.parquet(f"{tmp_path}/out/sink_damage")
    q = back.filter(F.col("log_date") == "2012-08-01")
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "log_date" in pf[0], plan
    assert q.count() == back.count() - back.filter(
        F.col("log_date") == "2012-08-02").count()


def test_cli_log_date_from_any_prefix(spark, tmp_path):
    """The sinks' log_date partition uses the parse's rule (the second
    '_' field of the file name), not a fixed-width slice of a 7-character
    'combat_' prefix: a 'swtor_' log lands under log_date=2012-08-01."""
    from team_goldo_combat_log_parser_spark.runner import cli

    lines = dict(dg.adversarial_logs())["combat_2012-08-01_20_00_00_advA.txt"]
    log = ("swtor_2012-08-01_20_00_00_x.txt", lines)
    dg.write_token_table(spark, [log], str(tmp_path / "tokens"), 1)
    out = tmp_path / "out"
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["--input", str(tmp_path / "tokens"),
                       "--output", str(out),
                       "--checkpoint", str(tmp_path / "ckpt")])
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rc == 0 and summary["counts"]["pulls"] == 2
    for table in ("pulls", "sink_damage"):
        days = {os.path.basename(p) for p in
                glob.glob(f"{out}/{table}/commit=*/log_date=*")}
        assert days == {"log_date=2012-08-01"}, (table, days)


def test_cli_rejects_sources_without_log_date(spark, tmp_path):
    """A source whose name has no '_' date field, or one that is not a
    day, is left out and named; the good log next to it still commits."""
    from team_goldo_combat_log_parser_spark.runner import cli

    name = "combat_2012-08-01_20_00_00_advA.txt"
    lines = dict(dg.adversarial_logs())[name]
    bad = ["raidlog.txt", "combat_notadate_x.txt"]
    dg.write_token_table(spark, [(name, lines)] + [(b, lines) for b in bad],
                         str(tmp_path / "tokens"), 1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["--input", str(tmp_path / "tokens"),
                       "--output", str(tmp_path / "out"),
                       "--checkpoint", str(tmp_path / "ckpt")])
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rc == 0 and summary["status"] == "committed"
    assert summary["new_sources"] == 1 and summary["counts"]["pulls"] == 2
    assert summary["rejected_sources"] == sorted(bad)
    with open(tmp_path / "ckpt" / "manifest"
              / f"{summary['commit_id']}.json") as fh:
        assert json.loads(fh.readline())["sources"] == [name]


def _land(spark, logs, in_dir, ck, out):
    """Append ``logs`` to the landing dir and commit them with cli.main;
    returns the printed summary."""
    from team_goldo_combat_log_parser_spark.runner import cli

    dg.token_df(spark, logs).coalesce(1).write.mode("append").parquet(in_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["--input", in_dir, "--output", out,
                         "--checkpoint", ck]) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def test_warm_landing_reuses_generated_code(spark, tmp_path):
    """A landing's generated classes stay in Spark's code cache, so the
    next landing of the same shape compiles almost none. At the default
    100-entry cache every landing recompiles ~210 classes."""
    logs = dg.synth_corpus(dg.GenConfig(n_logs=2, fights_per_log=2,
                                        rows_per_fight=40, seed=29))
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    paths = [str(tmp_path / d) for d in ("in", "ckpt", "out")]
    _land(spark, logs[:1], *paths)
    before = compiles.getCount()
    summary = _land(spark, logs[1:], *paths)
    assert summary["status"] == "committed" and summary["new_sources"] == 1
    assert compiles.getCount() - before <= 20


def test_failed_write_commits_nothing(spark, tmp_path, monkeypatch):
    """One table write failing inside the concurrent writes fails the run
    before the manifest commit; the replay then commits every table once,
    under the same commit id."""
    from team_goldo_combat_log_parser_spark.runner import cli

    real = cli.write_table

    def write_table(df, output, name, commit_id):
        if name == "heal":
            raise RuntimeError("disk full")
        real(df, output, name, commit_id)

    in_dir, ck, out = (str(tmp_path / d) for d in ("in", "ckpt", "out"))
    logs = dg.adversarial_logs()
    monkeypatch.setattr(cli, "write_table", write_table)
    with pytest.raises(RuntimeError, match="disk full"):
        _land(spark, logs, in_dir, ck, out)
    assert Manifest(ck).records() == []
    monkeypatch.undo()

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["--input", in_dir, "--output", out,
                         "--checkpoint", ck]) == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["status"] == "committed" and summary["new_sources"] == 3
    assert [r["commit_id"] for r in Manifest(ck).records()] == [
        summary["commit_id"]]
    assert list(summary["counts"])[-6:] == [
        "pulls", "damage_done_skills", "damage_received_skills", "heal",
        "threat", "rates"]
    for table in summary["counts"]:
        assert os.listdir(f"{out}/{table}") == [
            f"commit={summary['commit_id']}"], table


def test_empty_landing_dir_is_up_to_date(spark, tmp_path):
    """An empty landing dir is nothing to do, not a failed schema
    inference: cli.main reports up-to-date and the stream returns an
    empty pull-header table."""
    from team_goldo_combat_log_parser_spark.runner import cli
    from team_goldo_combat_log_parser_spark.streaming.stream_pipeline import (
        PULL_OUT_SCHEMA)

    in_dir = tmp_path / "tokens"
    in_dir.mkdir()
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["--input", str(in_dir),
                       "--output", str(tmp_path / "out"),
                       "--checkpoint", str(tmp_path / "ckpt")])
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rc == 0 and summary["status"] == "up-to-date"
    got = run_stream_once(spark, str(in_dir), str(tmp_path / "ck"),
                          output_dir=str(tmp_path / "s_out"))
    assert got.schema == PULL_OUT_SCHEMA and got.count() == 0


def test_streaming_skips_sources_without_log_date(spark, tmp_path):
    """The stream drops a source without a log date before the parse and
    counts its rows as rejected_rows; the good log landed in the same
    file still streams, equal to batch, and a replay adds nothing."""
    name = "combat_2012-08-01_20_00_00_advA.txt"
    lines = dict(dg.adversarial_logs())[name]
    bad = ["raidlog.txt", "combat_notadate_x.txt"]
    in_dir, ck = str(tmp_path / "tokens"), str(tmp_path / "ck")
    out = str(tmp_path / "out")
    dg.write_token_table(spark, [(name, lines)] + [(b, lines) for b in bad],
                         in_dir, 1)
    m1: list = []
    got = run_stream_once(spark, in_dir, ck, output_dir=out,
                          metrics=m1).collect()
    key = ("log_id", "fight_seq", "pull_start", "total_damage")
    want = run_pipeline(spark, dg.token_df(spark, [(name, lines)]),
                        cache=False).pulls.select(
        "log_id", "fight_seq",
        F.date_format("pull_start", "yyyy-MM-dd HH:mm:ss.SSS")
        .alias("pull_start"), "total_damage").collect()
    assert len(want) == 2
    assert (sorted(tuple(r[k] for k in key) for r in got)
            == sorted(tuple(r) for r in want))
    assert sum(b["rejected_rows"] for b in m1) == len(bad) * len(lines)
    again = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))


def test_streaming_pulls_match_batch(spark, tmp_path):
    logs = dg.synth_corpus(dg.GenConfig(n_logs=3, fights_per_log=3,
                                        rows_per_fight=60, seed=11))
    dg.write_token_table(spark, logs, str(tmp_path / "tokens"), 3)

    sink = run_stream_once(spark, str(tmp_path / "tokens"),
                           str(tmp_path / "ckpt"),
                           output_dir=str(tmp_path / "out"))
    # the sink's files hold the pull header and nothing else
    assert spark.read.parquet(str(tmp_path / "out")).columns == [
        "log_id", "fight_seq", "pull_start", "pull_stop", "target", "player",
        "total_damage"]
    stream_rows = sink.collect()
    batch = run_pipeline(spark, dg.token_df(spark, logs), cache=False)
    batch_pulls = {(r["log_id"], r["fight_seq"]): r for r in batch.pulls.collect()}

    assert len(stream_rows) == len(batch_pulls)
    for r in stream_rows:
        b = batch_pulls[(r["log_id"], r["fight_seq"])]
        assert r["total_damage"] == b["total_damage"]
        assert r["target"] == b["target"]
        assert r["player"] == b["players_set"][0]


def test_streaming_state_survives_restart_mid_fight(spark, tmp_path):
    """The per-log parser state must carry across micro-batch AND query
    restarts: feed a log split MID-FIGHT as two parquet files processed by
    two availableNow runs sharing one checkpoint. The second run must
    close the open fight using state recovered from the checkpoint, and
    the combined pulls must equal the batch pipeline on the full log."""
    from team_goldo_combat_log_parser_spark.constants import ENTER_COMBAT
    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=2,
                                       rows_per_fight=60, seed=13))[0]
    lines = log[1]
    enters = [i for i, ln in enumerate(lines) if ENTER_COMBAT in ln]
    assert len(enters) == 2
    split = enters[1] + 5  # a few rows INTO fight 2: it is open at the cut
    rows = corpus_rows([log])
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def write_part(part_rows, mode):
        (spark.createDataFrame(part_rows, schema=TOKEN_TABLE_SCHEMA)
         .coalesce(1).write.mode(mode).parquet(in_dir))

    write_part(rows[:split], "overwrite")
    r1 = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    write_part(rows[split:], "append")
    r_all = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    seen = {(r["log_id"], r["fight_seq"]) for r in r1}
    r2 = [r for r in r_all if (r["log_id"], r["fight_seq"]) not in seen]

    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    want = {(r["log_id"], r["fight_seq"]): r["total_damage"]
            for r in batch.pulls.collect()}
    got = {(r["log_id"], r["fight_seq"]): r["total_damage"]
           for r in r_all}
    assert got == want, (got, want)
    # fight 1 closed in run 1; fight 2 must close in run 2 from restored
    # state (its enter marker was consumed by run 1)
    assert {r["fight_seq"] for r in r1} == {1}
    assert {r["fight_seq"] for r in r2} == {2}


def test_streaming_log_split_across_arrow_chunks(spark, tmp_path):
    """One micro-batch carries a log from two files, and Arrow hands the
    log's group to Python in chunks of maxRecordsPerBatch rows: the fold
    must still read the log strictly in line order across chunks."""
    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=3,
                                       rows_per_fight=60, seed=47))[0]
    rows = corpus_rows([log])
    assert len(rows) == 194
    in_dir = str(tmp_path / "in")
    cut = len(rows) // 3
    for part, mode in ((rows[:cut], "overwrite"), (rows[cut:], "append")):
        (spark.createDataFrame(part, schema=TOKEN_TABLE_SCHEMA)
         .coalesce(1).write.mode(mode).parquet(in_dir))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        got = run_stream_once(spark, in_dir, str(tmp_path / "ck"),
                              output_dir=str(tmp_path / "out")).collect()
    finally:
        spark.conf.set(key, old)
    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    want = {r["fight_seq"]: (r["total_damage"], r["target"])
            for r in batch.pulls.collect()}
    assert len(want) == 3
    assert {r["fight_seq"]: (r["total_damage"], r["target"])
            for r in got} == want


def test_streaming_tolerates_malformed_threat(spark, tmp_path):
    """VERDICT r3 wrong #4: a truncated '<...' without '>' or a
    non-numeric threat must not crash the stream, which parses every line
    with the batch grammar (regexp_extract + try_cast null tolerance)."""
    p = "Mal'formed"
    pa = dg.actor_player(p)
    boss = dg.actor_npc("Training Dummy", 999000111, 1)
    lines = [
        dg.enter_combat_line("10:00:00.000", p),
        dg.mk_line("10:00:01.000", pa, boss, dg.STORM, dg.APPLY_DAMAGE,
                   dg.amt_hit(100, "kinetic", threat=100)),
        # truncated: '<' with no closing '>'
        dg.mk_line("10:00:02.000", pa, boss, dg.STORM, dg.APPLY_DAMAGE,
                   "(50) <45"),
        # non-numeric threat body
        dg.mk_line("10:00:03.000", pa, boss, dg.STORM, dg.APPLY_DAMAGE,
                   "(60) <abc>"),
        # underscore int literal: Python int() would accept, casts must not
        dg.mk_line("10:00:04.000", pa, boss, dg.STORM, dg.APPLY_DAMAGE,
                   "(70) <4_5>"),
        dg.exit_combat_line("10:00:10.000", p),
    ]
    log = ("combat_2012-09-01_10_00_00_malformed.txt", lines)
    dg.write_token_table(spark, [log], str(tmp_path / "tokens"), 1)

    stream_rows = run_stream_once(spark, str(tmp_path / "tokens"),
                                  str(tmp_path / "ckpt"),
                                  output_dir=str(tmp_path / "out")).collect()
    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    assert len(stream_rows) == 1
    r = stream_rows[0]
    assert r["total_damage"] == 100 + 50 + 60 + 70
    assert r["total_damage"] == batch.pulls.collect()[0]["total_damage"]


def _stream_and_batch(spark, tmp_path, log):
    dg.write_token_table(spark, [log], str(tmp_path / "tokens"), 1)
    stream_rows = run_stream_once(spark, str(tmp_path / "tokens"),
                                  str(tmp_path / "ckpt"),
                                  output_dir=str(tmp_path / "out")).collect()
    return stream_rows, run_pipeline(spark, dg.token_df(spark, [log]),
                                     cache=False)


def _one_fight(p, boss, amounts):
    """Enter, then each amount as player->boss AND boss->player, exit."""
    pa = dg.actor_player(p)
    lines = [dg.enter_combat_line("10:00:00.000", p)]
    for amt in amounts:
        for src, tgt in ((pa, boss), (boss, pa)):
            lines.append(dg.mk_line(f"10:00:{len(lines):02d}.000", src, tgt,
                                    dg.STORM, dg.APPLY_DAMAGE, amt))
    lines.append(dg.exit_combat_line("10:00:59.000", p))
    return lines


def test_streaming_latin1_amounts_match_batch(spark, tmp_path):
    """One grammar for batch and stream: ISO-8859-1 amount bodies where a
    Unicode-aware Python reading and Spark's ASCII regex classes disagree
    ('²' is a Python digit, U+00A0 a Python space, a missing '(' is not
    skipped by the regex) must give the stream the batch pull. An amount
    of 2^53+1 has no float64 form: it must reach the fold as an exact
    int, as the batch long sum reads it."""
    p = "Lat'in"
    boss = dg.actor_npc("Training Dummy", 999000111, 1)
    kin = dg.DMG_TYPE_IDS["kinetic"]
    log = ("combat_2012-09-01_10_00_00_latin1.txt", _one_fight(p, boss, [
        dg.amt_hit(100, "kinetic"),
        f"(1\xb2 kinetic {{{kin}}})",
        f"(12\xa0kinetic {{{kin}}})",
        f"x12 kinetic {{{kin}}}",
        f"(9007199254740993 kinetic {{{kin}}})",
    ]))
    stream_rows, batch = _stream_and_batch(spark, tmp_path, log)
    assert len(stream_rows) == 1
    r = stream_rows[0]
    b = batch.pulls.collect()
    assert len(b) == 1
    assert (r["total_damage"], r["target"], r["player"]) == (
        b[0]["total_damage"], b[0]["target"], b[0]["players_set"][0])
    # '(1²' reads as 1, '(12\xa0' as 12, 'x12' as no amount
    assert r["total_damage"] == 9007199254740993 + 100 + 1 + 12


class _FakeState:
    """The slice of GroupState the state function uses."""

    def __init__(self, blob=None):
        self.blob = blob

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, value):
        self.blob = value[0]


def _typed_frame(lines):
    """A parse_lines-shaped chunk, built by hand: each line is a dict of
    the fields it sets; every other string is "" and every flag False."""
    import pandas as pd

    from team_goldo_combat_log_parser_spark.streaming import (
        stream_pipeline as sp)

    strings = ("src_raw", "tgt_raw", "src_player", "tgt_name")
    rows = []
    for i, fields in enumerate(lines):
        row = dict.fromkeys(sp._FOLD_COLS, False)
        row.update(dict.fromkeys(strings, ""), amount=0, log_id="L",
                   line_no=i, log_date="2012-09-01",
                   time_str=f"10:00:{i:02d}.000")
        row.update(fields)
        rows.append(row)
    return pd.DataFrame(rows)


def test_state_fn_orders_chunks_and_rejects_old_state():
    """Spark-free: a shuffled complete chunk gives the ordered pulls. A
    checkpointed buffer row in the pre-typed 8-field raw layout, or a
    state with no line position, raises a ValueError naming the log
    instead of feeding garbage to the fold or waiting for line 0."""
    import pytest as _pytest

    from team_goldo_combat_log_parser_spark.streaming.stream_pipeline import (
        _make_state_fn)

    pl, boss = "@Fa'ke", "Dummy {1}:1"
    enter = dict(is_enter=True, src_raw=pl, tgt_raw=pl, src_player="Fa'ke")
    hit = dict(is_damage=True, src_raw=pl, tgt_raw=boss, tgt_name="Dummy ")
    hurt = dict(is_damage=True, src_raw=boss, tgt_raw=pl, amount=7)
    leave = dict(is_leave=True, src_raw=pl, tgt_raw=pl)
    lines = [enter, {**hit, "amount": 9007199254740993}, hurt,
             {**hit, "amount": 5}, leave, enter, {**hit, "amount": 0}, leave]
    pdf = _typed_frame(lines).sample(frac=1.0, random_state=3)

    def run(blob=None):
        st = _FakeState(blob)
        out = list(_make_state_fn(100)(("L",), iter([pdf.copy()]), st))
        return [r for o in out for r in o.to_dict("records")]

    assert [(r["fight_seq"], r["total_damage"], r["target"])
            for r in run()] == [(1, 9007199254740998, "Dummy "),
                                (2, 0, "Dummy ")]
    old_row = [3, "2012-09-01", "[10:00:03.000", pl, boss, "Storm {1}",
               "ApplyEffect {836045448945501}", "(5)"]
    st = {"in_combat": False, "player": None, "seq": 0, "start": None,
          "target": None, "dmg": 0}
    with _pytest.raises(ValueError, match="L .*fresh checkpoint"):
        run(json.dumps({**st, "_buf": [old_row], "_next": 0}))
    with _pytest.raises(ValueError, match="L .*fresh checkpoint"):
        run(json.dumps(st))


def test_gc_orphan_commits(spark, tmp_path):
    """A crashed run's commit dir whose source set (and so commit id)
    differs from the replay's must be GC'd at startup — the manifest is
    the source of truth (ADVICE r3)."""
    from team_goldo_combat_log_parser_spark.runner.cli import (
        gc_orphan_commits)

    m = Manifest(str(tmp_path / "ckpt"))
    m.commit(["srcA"], {"pulls": 1})
    valid_id = m.new_commit_id(["srcA"])
    out = tmp_path / "out"
    for table in ("pulls", "sink_damage"):
        for cid in (valid_id, "cdeadbeef0rphan1"):
            d = out / table / f"commit={cid}" / "log_date=2012-08-01"
            d.mkdir(parents=True)
            (d / "part-0.parquet").write_bytes(b"x")
    removed = gc_orphan_commits(spark, str(out), m)
    assert removed == ["pulls/commit=cdeadbeef0rphan1",
                       "sink_damage/commit=cdeadbeef0rphan1"]
    for table in ("pulls", "sink_damage"):
        assert (out / table / f"commit={valid_id}").exists()
        assert not (out / table / "commit=cdeadbeef0rphan1").exists()
    # idempotent on a clean tree
    assert gc_orphan_commits(spark, str(out), m) == []


def test_streaming_reorder_buffer_out_of_order_batches(spark, tmp_path):
    """The line-order buffer must reproduce the ordered-batch result when
    batches arrive OUT OF ORDER: batch 1 delivers a shuffled LATER slice
    of the log (including both exit markers), batch 2 the missing first
    lines.
    Run 1 must emit nothing (gap at line 0 stalls the parser); run 2 must
    drain the buffer and close every fight with batch-parity totals."""
    import random

    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=2,
                                       rows_per_fight=50, seed=17))[0]
    rows = corpus_rows([log])
    cut = 5  # a few lines INTO fight 1: its exit marker arrives early
    late = rows[cut:]
    random.Random(7).shuffle(late)
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def write_part(part_rows, mode):
        (spark.createDataFrame(part_rows, schema=TOKEN_TABLE_SCHEMA)
         .coalesce(1).write.mode(mode).parquet(in_dir))

    write_part(late, "overwrite")
    r1 = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    assert r1 == []  # nothing can close while line 0..4 are missing
    write_part(rows[:cut], "append")
    r_all = run_stream_once(spark, in_dir, ck, output_dir=out).collect()

    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    want = {(r["log_id"], r["fight_seq"]):
            (r["total_damage"], r["target"]) for r in batch.pulls.collect()}
    got = {(r["log_id"], r["fight_seq"]): (r["total_damage"], r["target"])
           for r in r_all}
    assert got == want, (got, want)
    players = {(r["log_id"], r["fight_seq"]): r["players_set"][0]
               for r in batch.pulls.collect()}
    assert {(r["log_id"], r["fight_seq"]): r["player"]
            for r in r_all} == players


def test_streaming_reorder_incremental_drain(spark, tmp_path):
    """Partial progress under a gap: run 1 delivers a complete prefix
    (fight 1 closes and is emitted immediately) plus a tail BEYOND a gap
    (buffered, nothing emitted for it); run 2 fills the gap and fight 2
    closes from drained state."""
    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=2,
                                       rows_per_fight=50, seed=19))[0]
    rows = corpus_rows([log])
    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    pulls = {r["fight_seq"]: r["total_damage"] for r in batch.pulls.collect()}
    # find where fight 1 ends so the prefix provably closes it
    from team_goldo_combat_log_parser_spark.constants import ENTER_COMBAT
    second_enter = [i for i, ln in enumerate(log[1])
                    if ENTER_COMBAT in ln][1]
    prefix_end = second_enter + 3       # fight 1 closed, fight 2 open
    gap_end = prefix_end + 10           # the hole run 2 will fill
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def write_part(part_rows, mode):
        (spark.createDataFrame(part_rows, schema=TOKEN_TABLE_SCHEMA)
         .coalesce(1).write.mode(mode).parquet(in_dir))

    write_part(rows[:prefix_end] + rows[gap_end:], "overwrite")
    r1 = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    assert {r["fight_seq"] for r in r1} == {1}  # prefix closed fight 1
    assert r1[0]["total_damage"] == pulls[1]
    write_part(rows[prefix_end:gap_end], "append")
    r_all = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    got = {r["fight_seq"]: r["total_damage"] for r in r_all}
    assert got == pulls, (got, pulls)


def test_streaming_reorder_buffer_bound_fires(spark, tmp_path):
    """A permanently-missing line must surface as a loud error once the
    buffer bound is exceeded — never as silent unbounded state growth."""
    import pytest as _pytest

    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=1,
                                       rows_per_fight=40, seed=23))[0]
    rows = corpus_rows([log])[1:]  # line 0 lost forever
    (spark.createDataFrame(rows, schema=TOKEN_TABLE_SCHEMA)
     .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "in")))
    with _pytest.raises(Exception, match="reorder buffer .* exceeds 10"):
        run_stream_once(spark, str(tmp_path / "in"), str(tmp_path / "ck"),
                        output_dir=str(tmp_path / "out"),
                        reorder_max_buffer=10)


def test_streaming_reorder_inorder_batch_larger_than_bound(spark, tmp_path):
    """ADVICE r4 (medium): a fully IN-ORDER backlog larger than
    max_buffer must NOT trip the lost-line error — rows drain
    incrementally during ingest, so only rows genuinely waiting behind a
    gap count against the bound (and occupy memory)."""
    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=1,
                                       rows_per_fight=40, seed=29))[0]
    rows = corpus_rows([log])
    assert len(rows) > 10
    (spark.createDataFrame(rows, schema=TOKEN_TABLE_SCHEMA)
     .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "in")))
    got = run_stream_once(spark, str(tmp_path / "in"), str(tmp_path / "ck"),
                          output_dir=str(tmp_path / "out"),
                          reorder_max_buffer=10).collect()
    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    want = {r["fight_seq"]: r["total_damage"] for r in batch.pulls.collect()}
    assert {r["fight_seq"]: r["total_damage"] for r in got} == want


def test_streaming_reorder_drops_replayed_duplicates(spark, tmp_path):
    """An at-least-once source redelivering already-processed lines must
    neither double-count them nor park them in the buffer forever (where
    they would eventually trip the bound): rows below the delivery
    watermark are dropped on ingest."""
    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=2,
                                       rows_per_fight=50, seed=31))[0]
    rows = corpus_rows([log])
    cut = len(rows) // 2
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def write_part(part_rows, mode):
        (spark.createDataFrame(part_rows, schema=TOKEN_TABLE_SCHEMA)
         .coalesce(1).write.mode(mode).parquet(in_dir))

    write_part(rows[:cut], "overwrite")
    run_stream_once(spark, in_dir, ck, output_dir=out,
                    reorder_max_buffer=20).collect()
    # replay a chunk of already-delivered lines alongside the remainder
    write_part(rows[cut - 15:], "append")
    r_all = run_stream_once(spark, in_dir, ck, output_dir=out,
                            reorder_max_buffer=20).collect()
    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    want = {r["fight_seq"]: r["total_damage"] for r in batch.pulls.collect()}
    got = {r["fight_seq"]: r["total_damage"] for r in r_all}
    assert got == want, (got, want)


def test_streaming_reorder_restart_with_buffered_rows(spark, tmp_path):
    """VERDICT r4 item 3, the pointed restart shape: batch 2 of 3 is
    missing a gap line, the query STOPS with rows waiting in _buf (state
    checkpointed), and the restarted query delivers the gap — pulls must
    match the ordered run exactly, proving the buffer itself survives
    checkpoint round-trips."""
    from team_goldo_combat_log_parser_spark.constants import ENTER_COMBAT
    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=3,
                                       rows_per_fight=40, seed=37))[0]
    rows = corpus_rows([log])
    second_enter = [i for i, ln in enumerate(log[1])
                    if ENTER_COMBAT in ln][1]
    prefix_end = second_enter + 3   # fight 1 closed, fight 2 open
    gap_start, gap_end = prefix_end + 4, prefix_end + 9
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def write_part(part_rows, mode):
        (spark.createDataFrame(part_rows, schema=TOKEN_TABLE_SCHEMA)
         .coalesce(1).write.mode(mode).parquet(in_dir))

    write_part(rows[:prefix_end], "overwrite")
    r1 = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    assert {r["fight_seq"] for r in r1} == {1}
    # batch 2 of 3: everything after the prefix EXCEPT the gap lines —
    # fights 2 and 3 cannot close; their rows wait in the buffer
    write_part(rows[prefix_end:gap_start] + rows[gap_end:], "append")
    r2 = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    assert {r["fight_seq"] for r in r2} == {1}  # nothing new emitted
    # restart 3: the gap arrives; buffered rows must drain from restored
    # state and close fights 2 and 3
    write_part(rows[gap_start:gap_end], "append")
    r3 = run_stream_once(spark, in_dir, ck, output_dir=out).collect()
    batch = run_pipeline(spark, dg.token_df(spark, [log]), cache=False)
    want = {r["fight_seq"]: r["total_damage"] for r in batch.pulls.collect()}
    got = {r["fight_seq"]: r["total_damage"] for r in r3}
    assert got == want and set(want) == {1, 2, 3}, (got, want)


def test_gc_refuses_empty_manifest_with_committed_data(spark, tmp_path):
    """ADVICE r4 (medium): an EMPTY manifest (fresh or mislocated
    --checkpoint) over an output dir holding multiple commits is a
    misconfiguration, not a GC opportunity — refuse loudly unless forced.
    A single orphan commit (the legitimate crashed-first-run shape) is
    still GC'd."""
    import pytest as _pytest

    from team_goldo_combat_log_parser_spark.runner.cli import (
        gc_orphan_commits)

    out = tmp_path / "out"
    for table in ("pulls", "sink_damage"):
        for cid in ("c111", "c222"):
            d = out / table / f"commit={cid}" / "log_date=2012-08-01"
            d.mkdir(parents=True)
            (d / "part-0.parquet").write_bytes(b"x")
    empty = Manifest(str(tmp_path / "fresh_ckpt"))
    with _pytest.raises(RuntimeError, match="refusing to GC"):
        gc_orphan_commits(spark, str(out), empty)
    # nothing was deleted by the refusal
    assert (out / "pulls" / "commit=c111").exists()
    assert (out / "pulls" / "commit=c222").exists()
    # forced: the operator confirmed the paths — full GC proceeds
    removed = gc_orphan_commits(spark, str(out), empty, allow_gc_all=True)
    assert len(removed) == 4
    # single-orphan shape (crashed first run, new sources arrived): GC'd
    # without a flag so the dup window stays closed
    d = out / "pulls" / "commit=c333" / "log_date=2012-08-01"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"x")
    assert gc_orphan_commits(spark, str(out), Manifest(
        str(tmp_path / "fresh_ckpt2"))) == ["pulls/commit=c333"]


def test_streaming_observability_metrics(spark, tmp_path):
    """VERDICT r4 item 8: the ops surface — per-batch progress metrics
    (rows in, pulls out via the goldo_pulls observation, state rows,
    trigger latency) from run_stream_once."""
    from team_goldo_combat_log_parser_spark.sources.datagen import (
        TOKEN_TABLE_SCHEMA, corpus_rows)

    log = dg.synth_corpus(dg.GenConfig(n_logs=1, fights_per_log=2,
                                       rows_per_fight=40, seed=41))[0]
    rows = corpus_rows([log])
    gap_start, gap_end = 10, 14  # lines 10..13 withheld
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    out = str(tmp_path / "out")
    (spark.createDataFrame(rows[:gap_start] + rows[gap_end:],
                           schema=TOKEN_TABLE_SCHEMA)
     .coalesce(1).write.mode("overwrite").parquet(in_dir))
    m1: list = []
    run_stream_once(spark, in_dir, ck, output_dir=out,
                    metrics=m1).collect()
    # the field names are the metrics vocabulary other surfaces build on
    keys = {"batch_id", "rows_in", "rejected_rows", "pulls_out",
            "state_rows", "state_bytes", "state_rows_updated", "trigger_ms"}
    assert m1 and all(set(b) == keys for b in m1)
    assert sum(b["rows_in"] for b in m1) == len(rows) - (gap_end - gap_start)
    assert sum(b["pulls_out"] for b in m1) == 0  # gap: nothing closed
    assert all(b["trigger_ms"] is not None for b in m1)
    assert max(b["state_rows"] for b in m1) == 1  # one log in state
    # deliver the gap: metrics show the drain
    (spark.createDataFrame(rows[gap_start:gap_end],
                           schema=TOKEN_TABLE_SCHEMA)
     .coalesce(1).write.mode("append").parquet(in_dir))
    m2: list = []
    run_stream_once(spark, in_dir, ck, output_dir=out,
                    metrics=m2).collect()
    assert m2 and all(set(b) == keys for b in m2)
    assert sum(b["rows_in"] for b in m2) == gap_end - gap_start
    assert sum(b["pulls_out"] for b in m2) == 2  # both fights closed


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    """Round-6: the REAL deployment shape — spark-submit --py-files with
    the package zipped, the launcher copied OUT of the repo, and cwd off
    the repo, so the package can only resolve from the zip (driver and
    executor python workers both). Must commit the same counts as the
    in-process CLI path. The driver JVM runs in a non-UTC zone: the
    committed pulls must still hold the log's wall times as UTC."""
    import shutil

    from team_goldo_combat_log_parser_spark.runner.shipping import (
        make_pyfiles_zip)

    code = (
        f"import sys; sys.path.insert(0, {str(REPO_ROOT)!r}); "
        "from team_goldo_combat_log_parser_spark.session import get_spark; "
        "from team_goldo_combat_log_parser_spark.sources import datagen as dg; "
        "s = get_spark('submit-prep', cores=2); "
        "logs = dg.adversarial_logs(); "
        f"dg.write_token_table(s, logs, '{tmp_path}/tokens', 2)"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=300)

    zip_path = make_pyfiles_zip(str(REPO_ROOT), str(tmp_path / "tglp.zip"))
    # rebuild is byte-identical (checksummable artifact)
    z2 = make_pyfiles_zip(str(REPO_ROOT), str(tmp_path / "tglp2.zip"))
    assert open(zip_path, "rb").read() == open(z2, "rb").read()

    job = str(tmp_path / "spark_job.py")
    shutil.copy(REPO_ROOT / "spark_job.py", job)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--driver-java-options", "-Duser.timezone=America/Los_Angeles",
         "--py-files", zip_path, job,
         "--input", f"{tmp_path}/tokens", "--output", f"{tmp_path}/out",
         "--checkpoint", f"{tmp_path}/ckpt"],
        capture_output=True, text=True, timeout=900, env=env,
        cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["status"] == "committed" and out["new_sources"] == 3
    assert out["counts"]["pulls"] == 4  # same golden as test_cli_end_to_end
    starts = {(r[0], r[1]) for r in spark.read.parquet(f"{tmp_path}/out/pulls")
              .select("log_id", F.date_format(
                  "pull_start", "yyyy-MM-dd HH:mm:ss.SSS")).collect()}
    assert starts == {
        ("combat_2012-08-01_20_00_00_advA", "2012-08-01 20:00:10.000"),
        ("combat_2012-08-01_20_00_00_advA", "2012-08-01 20:01:00.000"),
        ("combat_2012-08-01_20_00_00_advB", "2012-08-01 20:30:00.000"),
        ("combat_2012-08-02_23_58_00_advC", "2012-08-02 23:59:00.000")}
