"""Combat-log grammar: detokenize + field split + typed extraction.

* ``detokenize_lines`` — the only Python hop: ISO-8859-1 byte tokens ->
  line string, one ``mapInArrow`` pass (a vectorized numpy transcode per
  Arrow batch) for batch and streaming frames alike.
* ``parse_lines`` — everything after detokenization is **native Spark SQL**
  (split / substring / regexp_extract / contains), so the whole parse stage
  sits inside WholeStageCodegen and Catalyst can prune/push down freely.

Field semantics mirror the reference's csv split on ']' with
skipinitialspace (reference main.py:116-118) and its quirky slicing:
names keep their trailing space after "split('{',1)[0]" (main.py:154-156),
amounts take the leading digits of the first token (main.py:156-162),
threat is the text between the first '<' and '>' (main.py:257-261).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    PLAYER_TAG,
    RAW_FIELDS,
    RESIST,
    REVIVE,
    SHIELD,
)

# ------------------------------------------------------------------ detokenize


def _detok_arrow_array(arr) -> "object":
    """ListArray<int> byte tokens -> StringArray, zero per-row Python.

    The latin-1 -> UTF-8 transcode is a pure byte map (codepoint b < 0x80
    stays one byte; b >= 0x80 becomes [0xC0 | b>>6, 0x80 | b&0x3F]), so
    the whole batch is converted with a handful of vectorized numpy ops
    and the result is assembled directly into an Arrow string array from
    its (offsets, data) buffers — no Python str objects are ever
    materialized. Bit-identical output: latin-1 codepoints 0-255 ==
    unicode codepoints 0-255, and this IS their UTF-8 encoding."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(arr)
    if n == 0:
        return pa.array([], type=pa.string())
    if arr.null_count:
        # a null token array has no defined line — fail loudly rather
        # than silently misalign the offset arithmetic below
        raise ValueError("detokenize: null token array in batch")
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError("detokenize: null token inside a token array")
    v = np.asarray(flat)
    if len(v) and (v.min() < 0 or v.max() > 255):
        # the uint8 cast below would wrap (300 -> 44) into a wrong byte
        raise ValueError("detokenize: token outside the byte range 0-255")
    v = v.astype(np.uint8)
    lens = np.asarray(pc.list_value_length(arr), dtype=np.int64)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    high = v >= 128
    cum = np.zeros(len(v) + 1, dtype=np.int64)
    np.cumsum(high, out=cum[1:])
    out = np.empty(len(v) + int(cum[-1]), dtype=np.uint8)
    idx = np.arange(len(v), dtype=np.int64) + cum[:-1]
    out[idx] = np.where(high, 0xC0 | (v >> 6), v)
    hi_idx = idx[high]
    out[hi_idx + 1] = 0x80 | (v[high] & 0x3F)
    new_offs = _int32_offsets(offs + cum[offs])
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(new_offs.tobytes()), pa.py_buffer(out.tobytes()))


def _int32_offsets(offs: np.ndarray) -> np.ndarray:
    """int64 string offsets -> the int32 an Arrow StringArray holds; a
    batch whose UTF-8 payload passes 2^31 - 1 bytes raises instead of
    wrapping into corrupt strings."""
    if offs[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"detokenize: batch of {int(offs[-1])} UTF-8 bytes overflows "
            "int32 string offsets")
    return offs.astype(np.int32)


def detokenize_lines(df: DataFrame, tokens_col: str = "tokens",
                     keep_tokens: bool = True) -> DataFrame:
    """Add a ``line`` column decoded from the byte-token array.

    One ``mapInArrow`` pass, batch or streaming: a vectorized numpy
    transcode per Arrow batch, the output string array built directly
    from buffers — zero per-row Python, zero Python str objects. A
    MapInArrow node is a plan barrier, so the optimizer cannot duplicate
    the hop (guide par.4.4). Null token arrays, null tokens and tokens
    outside 0-255 raise ``ValueError``.

    ``keep_tokens=False`` drops ``tokens_col`` from the output, so the
    token arrays never cross back to the JVM (they would quadruple the
    return payload — guide par.4.1: control how many columns cross);
    the token-equality invariant keeps the default.
    """
    import pyarrow as pa

    fields = [f for f in df.schema.fields
              if keep_tokens or f.name != tokens_col]
    out_schema = T.StructType(fields + [T.StructField("line", T.StringType())])
    out_names = [f.name for f in fields] + ["line"]

    def transcode(batches):
        for batch in batches:
            tok = batch.column(batch.schema.get_field_index(tokens_col))
            line = _detok_arrow_array(tok)
            cols = [batch.column(i) for i, name in
                    enumerate(batch.schema.names)
                    if keep_tokens or name != tokens_col]
            yield pa.RecordBatch.from_arrays(cols + [line], names=out_names)

    return df.mapInArrow(transcode, schema=out_schema)


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def retokenize_udf(lines: pd.Series) -> pd.Series:
    """Inverse of detokenize — used by the per-row token-equality invariant."""
    return lines.map(lambda s: list(s.encode("iso-8859-1")))


# ------------------------------------------------------- native field parsing


def _pre_brace(col: Column) -> Column:
    """x.split('{', 1)[0] — keeps the trailing space, like the reference."""
    return F.split(col, "\\{", 2).getItem(0)


def split_fields(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Split a raw line into the six csv fields.

    Mirrors csv.reader(delimiter=']', skipinitialspace=True): split on every
    ']', take the first six parts, strip leading spaces from parts 1..5.
    Two single projections (not chained withColumn): one computes the split
    array once, the next derives all six fields — O(1) plan analysis and no
    repeated split() work per field.
    """
    out = df.select("*", F.split(F.col(line_col), "\\]").alias("_parts"))
    cols = []
    for i, n in enumerate(RAW_FIELDS):
        # F.get (not getItem): a malformed line with <6 fields must yield
        # null, not an ANSI ArrayIndexOutOfBounds that kills the job.
        c = F.get(F.col("_parts"), i)
        if i > 0:
            c = F.ltrim(c)  # skipinitialspace strips spaces after the delimiter
        # downstream substring predicates want deterministic non-null input:
        # a missing field matches nothing (the reference would just crash)
        cols.append(F.coalesce(c, F.lit("")).alias(n))
    return out.select("*", *cols).drop("_parts")


def with_typed_columns(df: DataFrame) -> DataFrame:
    """Derive every typed/flag column the downstream plan consumes.

    All expressions are JVM-side; substring-containment semantics match the
    reference dispatch exactly (main.py:315-327).
    """
    amount = F.col("amount_raw")
    effect = F.col("effect_raw")
    # one projection for everything: chained withColumn would re-analyze a
    # growing plan per column (quadratic driver time on 25+ columns)
    return df.select(
        "*",
        # --- names (reference slicing quirks preserved)
        F.expr("substring(time_raw, 2)").alias("time_str"),
        _pre_brace(F.expr("substring(src_raw, 2)")).alias("src_name"),
        F.expr("substring(src_raw, 3)").alias("src_player"),
        _pre_brace(F.expr("substring(tgt_raw, 2)")).alias("tgt_name"),
        _pre_brace(F.expr("substring(skill_raw, 2)")).alias("skill"),
        # --- typed ids (J2): numeric ids inside the braces — spell id from
        # the skill field, effect id from the second braced group of the
        # effect field ("ApplyEffect {vid}: Damage {eid}")
        F.regexp_extract(F.col("skill_raw"), r"\{(\d+)\}", 1)
        .try_cast("long").alias("spell_id"),
        F.regexp_extract(effect, r":[^{]*\{(\d+)\}", 1)
        .try_cast("long").alias("effect_id"),
        # --- amount grammar. The reference takes the leading digits /
        # the crit star from the first token after '(' — "first token
        # then digits-prefix" composes to one anchored pattern each
        # (digits immediately after '(' are a prefix of the first \S+
        # token, and a no-match yields "" -> null either way), so the
        # former first_tok = regexp_extract(^\((\S+)) intermediate is
        # inlined: two regex evaluations per row instead of four
        # (round 9, guide par.1.2 per-task work; value-parity held by
        # the combat oracle over every grammar variant)
        F.regexp_extract(amount, r"^\((\d+)", 1).try_cast("long").alias("amount"),
        amount.rlike(r"^\(\d+\*").alias("crit"),
        F.regexp_extract(amount, r"^\(\S+\s+(\S+)", 1).alias("dmg_type"),
        F.regexp_extract(amount, r"^\([^(]*\((\d+)", 1).try_cast("long")
        .alias("absorbed"),
        F.regexp_extract(amount, r"<([^>]*)>", 1).try_cast("long").alias("threat"),
        amount.contains("<").alias("has_threat"),
        # --- effect flags
        effect.contains(ENTER_COMBAT).alias("is_enter"),
        effect.contains(LEAVE_COMBAT).alias("is_leave"),
        effect.contains(DEATH).alias("is_death"),
        effect.contains(DAMAGE).alias("is_damage"),
        effect.contains(HEAL).alias("is_heal_eff"),
        effect.contains(FORCE_ARMOR).alias("is_fa"),
        # verb flags (sink fan-out S7) — computed here so the persisted
        # projection can drop the raw effect string entirely
        effect.contains("Event {").alias("is_event_verb"),
        effect.contains("ApplyEffect {").alias("is_apply_verb"),
        effect.contains("RemoveEffect {").alias("is_remove_verb"),
        # --- mitigation flags (amount field)
        amount.contains(MISS).alias("m_miss"),
        amount.contains(ABSORB).alias("m_absorb"),
        amount.contains(RESIST).alias("m_resist"),
        (amount.contains(DODGE) | amount.contains(PARRY)
         | amount.contains(DEFLECT)).alias("m_dodge"),
        amount.contains(DODGE).alias("m_dodge_single"),
        amount.contains(SHIELD).alias("m_shield"),
        amount.contains(NO_DAMAGE).alias("m_immune"),
        # --- misc predicates
        F.col("skill_raw").contains(REVIVE).alias("skill_has_revive"),
        F.col("tgt_raw").contains(PLAYER_TAG).alias("tgt_has_at"),
    )


def log_date(name: Column) -> Column:
    """A log's date from its file name or log_id: the second
    '_'-separated field (reference main.py:112: filename.split('_', 2)[1]),
    whatever the prefix before it."""
    return F.split(name, "_").getItem(1)


def has_log_date(name: Column) -> Column:
    """Whether ``log_date(name)`` exists and is the yyyy-MM-dd day that
    ``with_timestamp`` parses; unlike either, it never raises (ANSI)."""
    day = F.get(F.split(name, "_"), 1)
    return F.try_to_timestamp(F.concat_ws(" ", day, F.lit("00:00:00.000")),
                              F.lit("yyyy-MM-dd HH:mm:ss.SSS")).isNotNull()


def with_identity_columns(df: DataFrame) -> DataFrame:
    """log_id / line_no from doc_id; log date from the source filename."""
    return df.select(
        "*",
        F.substring_index("doc_id", ":", 1).alias("log_id"),
        F.substring_index("doc_id", ":", -1).cast("long").alias("line_no"),
        log_date(F.col("source")).alias("log_date"),
    )


def with_timestamp(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "ts",
        F.to_timestamp(F.concat_ws(" ", F.col("log_date"), F.col("time_str")),
                       "yyyy-MM-dd HH:mm:ss.SSS"),
    )


def parse_lines(df: DataFrame) -> DataFrame:
    """token table (+line) -> fully typed event DataFrame."""
    out = df
    if "line" not in out.columns:
        out = detokenize_lines(out, keep_tokens=False)
    out = with_identity_columns(out)
    out = split_fields(out)
    out = with_typed_columns(out)
    out = with_timestamp(out)
    return out.drop("tokens", "n_tok")
