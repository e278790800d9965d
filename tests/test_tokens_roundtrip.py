"""Per-row token-array equality invariant (BASELINE.json input_hint):
retokenize(detokenize(tokens)) == tokens, through the real Arrow path,
over a corpus including non-ASCII ISO-8859-1 player names."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from team_goldo_combat_log_parser_spark.functions import grammar
from team_goldo_combat_log_parser_spark.sources import datagen as dg


def token_equality_violations(token_df: DataFrame) -> int:
    """Per-row invariant (BASELINE.json): retokenize(detokenize(tokens))
    must equal tokens. Returns the number of violating rows (expect 0)."""
    df = grammar.detokenize_lines(token_df)
    df = df.withColumn("tokens2", grammar.retokenize_udf(F.col("line")))
    return df.filter(F.col("tokens") != F.col("tokens2")).count()


def test_roundtrip_fixtures_and_synth(spark):
    logs = [("combat_2012-06-06_20_33_20_fx.txt",
             [dg.enter_combat_line("21:00:00.000", dg.PLAYER),
              *dg.fixture_lines().values(),
              dg.exit_combat_line("23:00:00.000", dg.PLAYER)])]
    logs += dg.synth_corpus(dg.GenConfig(n_logs=2, fights_per_log=2,
                                         rows_per_fight=50))
    df = dg.token_df(spark, logs)
    assert token_equality_violations(df) == 0


def test_roundtrip_sample_file(spark):
    # the reference's real log: ISO-8859-1 with Latin-1 player names
    log = dg.sample_file_log()
    df = dg.token_df(spark, [log])
    assert token_equality_violations(df) == 0


def test_latin1_names_survive(spark):
    line = dg.mk_line("10:00:00.000", "@Bél´tran", "@Bél´tran",
                      "Chargé {123}", "ApplyEffect {836045448945477}: "
                      "Heal {836045448945500}", "(100) <1>")
    toks = dg.tokenize(line)
    assert dg.detokenize(toks) == line
    df = dg.token_df(spark, [("combat_2012-01-01_x.txt", [line])])
    assert token_equality_violations(df) == 0


def test_detok_rejects_malformed_tokens(spark):
    """A null token inside a list and a token outside 0-255 have no
    defined byte: the detokenizer must raise, not decode them to
    NUL or wrap 300 to 44."""
    import pyarrow as pa

    from team_goldo_combat_log_parser_spark.functions.grammar import (
        _detok_arrow_array, detokenize_lines)

    ok = pa.array([[72, 105], [], [255]], type=pa.list_(pa.int32()))
    assert _detok_arrow_array(ok).to_pylist() == ["Hi", "", "\xff"]
    bad = {"null token": [[72, None, 105]],
           "outside the byte range": [[72, 300]]}
    for msg, toks in bad.items():
        with pytest.raises(ValueError, match=msg):
            _detok_arrow_array(pa.array(toks, type=pa.list_(pa.int32())))
    with pytest.raises(ValueError, match="outside the byte range"):
        _detok_arrow_array(pa.array([[-1]], type=pa.list_(pa.int32())))
    for msg, toks in bad.items():
        df = spark.createDataFrame(
            [("l:1", toks[0], "combat_2012-01-01_x.txt")],
            "doc_id string, tokens array<int>, source string")
        with pytest.raises(Exception, match=msg):
            detokenize_lines(df).collect()


def test_streaming_detok_roundtrip(spark, tmp_path):
    """The streaming detok is the same mapInArrow transcode as batch:
    retokenize(detokenize(tokens)) == tokens on a readStream over the
    adversarial corpus plus >=128 latin-1 bytes and empty lines."""
    from team_goldo_combat_log_parser_spark.functions.grammar import (
        detokenize_lines, retokenize_udf)

    logs = dg.adversarial_logs() + [
        ("combat_2012-01-01_e.txt", ["", "[]] ]", "@Bél´tran \xff"])]
    dg.write_token_table(spark, logs, str(tmp_path / "tokens"), 2)
    stream = spark.readStream.schema(dg.TOKEN_TABLE_SCHEMA).parquet(
        str(tmp_path / "tokens"))
    checked = detokenize_lines(stream).select(
        "doc_id", (F.col("tokens") == retokenize_udf(F.col("line")))
        .alias("same"))
    q = (checked.writeStream.outputMode("append").format("memory")
         .queryName("detok_roundtrip")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM detok_roundtrip").collect()
    assert len(rows) == sum(len(lines) for _, lines in logs)
    assert all(r["same"] for r in rows)


def test_detok_offsets_overflow_raises():
    """Offsets past int32 would wrap into corrupt strings; a synthetic
    offsets array pins the guard without a 2 GiB batch."""
    import numpy as np

    from team_goldo_combat_log_parser_spark.functions.grammar import (
        _int32_offsets)

    top = np.iinfo(np.int32).max
    ok = _int32_offsets(np.array([0, 5, top], dtype=np.int64))
    assert ok.dtype == np.int32 and ok[-1] == top
    with pytest.raises(ValueError, match="overflows int32"):
        _int32_offsets(np.array([0, 5, top + 1], dtype=np.int64))
