"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs over
mapInPandas.

The decode is a deterministic stand-in (``_fake_decode``: payload bytes
tiled to the row's (h, w) grid), so no image/audio codec is needed and
the Spark-side plumbing — schema, batch iteration, partitioning, UDF
signatures — is real, DuckDB-oracled and tested end-to-end. A real codec
replaces ``_fake_decode`` at its two call sites.

At scale this is the pattern for a 100 TB media corpus: binary payloads
stay columnar in parquet, metadata columns drive partition pruning, and
each mapInPandas batch decodes/resizes/embeds without per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),  # image | audio | video
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
])


def synth_media_df(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake media table (seeded payload bytes)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        rng = np.random.RandomState(i)
        payload = rng.bytes(256 + (i % 5) * 128)
        rows.append((i, kind, bytearray(payload),
                     32 + i % 16 if kind != "audio" else None,
                     32 + i % 8 if kind != "audio" else None,
                     16000 if kind == "audio" else None,
                     24 + i % 10 if kind == "video" else None))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def _fake_decode(payload: bytes, h: int, w: int) -> np.ndarray:
    """Deterministic stand-in decode: bytes -> (h, w) uint8 grid."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(h * w / len(arr)))
    return np.tile(arr, reps)[: h * w].reshape(h, w)


FEATURE_SCHEMA = ("media_id long, kind string, n_bytes int, "
                  "mean_intensity double, feature array<float>")


def extract_features(df: DataFrame, feat_dim: int = 8) -> DataFrame:
    """decode -> feature-extract as one mapInPandas pass (Arrow batches).

    The per-batch body is vectorized numpy; no per-row Python beyond the
    unavoidable ragged-bytes iteration inside a batch.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, means, sizes = [], [], []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                hh = int(h) if pd.notna(h) else 16
                ww = int(w) if pd.notna(w) else 16
                img = _fake_decode(payload, hh, ww)
                means.append(float(img.mean()))
                # "feature": fixed-dim histogram, a stand-in embedding
                hist, _ = np.histogram(img, bins=feat_dim, range=(0, 255))
                feats.append((hist / max(img.size, 1)).astype(np.float32))
                sizes.append(len(payload))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pd.Series(sizes, dtype="int32"),
                "mean_intensity": means,
                "feature": feats,
            })

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "media_id long, out_w int, out_h int, checksum long"


def resize_images(df: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Resize plumbing: nearest-neighbor downsample of the fake decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums = []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                hh = int(h) if pd.notna(h) else 16
                ww = int(w) if pd.notna(w) else 16
                img = _fake_decode(payload, hh, ww)
                yi = (np.arange(out_h) * hh // out_h)
                xi = (np.arange(out_w) * ww // out_w)
                small = img[np.ix_(yi, xi)]
                sums.append(int(small.sum()))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "out_w": np.full(len(pdf), out_w, dtype="int32"),
                "out_h": np.full(len(pdf), out_h, dtype="int32"),
                "checksum": pd.Series(sums, dtype="int64"),
            })

    return df.filter(F.col("kind") == "image").mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx int, frame_checksum long"


def sample_frames(df: DataFrame, every: int = 8) -> DataFrame:
    """Frame-sampling plumbing for video: emit one row per sampled frame."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for mid, payload, nf in zip(pdf["media_id"], pdf["payload"],
                                        pdf["n_frames"]):
                n = int(nf) if pd.notna(nf) else 0
                arr = np.frombuffer(payload, dtype=np.uint8)
                for f in range(0, n, every):
                    ids.append(mid)
                    idxs.append(f)
                    # deterministic per-frame slice checksum
                    sl = arr[(f * 7) % max(len(arr) - 8, 1):][:8]
                    sums.append(int(sl.sum()) + f)
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_checksum": pd.Series(sums, dtype="int64"),
            })

    return df.filter(F.col("kind") == "video").mapInPandas(run, schema=FRAME_SCHEMA)


# ----------------------------------------------- driver queries + oracles

N_MEDIA = 60  # driver-query corpus size


def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: decode + feature-extract, integer-projected so the
    sequential oracle can match values exactly (the float feature vector
    itself is determinism-tested in pytest)."""
    out = extract_features(synth_media_df(spark, N_MEDIA))
    return out.select(
        "media_id", "kind", "n_bytes",
        F.floor(F.col("mean_intensity") * 1e6).alias("mean_e6"),
    ).orderBy("media_id")


def media_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_images(synth_media_df(spark, N_MEDIA)).orderBy("media_id")


def media_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (sample_frames(synth_media_df(spark, N_MEDIA))
            .orderBy("media_id", "frame_idx"))


def _synth_media_rows(n: int):
    """The synth_media_df generator, driver-side (no Spark)."""
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        rng = np.random.RandomState(i)
        payload = rng.bytes(256 + (i % 5) * 128)
        w = 32 + i % 16 if kind != "audio" else None
        h = 32 + i % 8 if kind != "audio" else None
        nf = 24 + i % 10 if kind == "video" else None
        yield i, kind, payload, w, h, nf


def media_oracle_queries(n: int = N_MEDIA) -> dict[str, str]:
    """TRUE second-engine derivation of the media queries: only the raw
    payload bytes are tabulated (as hex strings); the fake-decode tiling,
    the nearest-neighbor resize index math, and the frame-slice checksums
    are all re-derived in pure DuckDB SQL (list lambdas over
    generate_series + hex-digit byte extraction), sharing no code with
    the Spark mapInPandas path — a shared algorithmic bug can no longer
    pass as parity. Robust for any n: a kind with zero rows yields an
    empty relation, not malformed SQL."""
    vals = ",\n      ".join(
        f"({i}, '{kind}', '{payload.hex()}', "
        f"{w if w is not None else 'NULL'}, "
        f"{h if h is not None else 'NULL'}, "
        f"{nf if nf is not None else 'NULL'})"
        for i, kind, payload, w, h, nf in _synth_media_rows(n))
    base = f"""
    WITH media(media_id, kind, hex, w, h, nf) AS (VALUES
      {vals}
    ), b AS (
      SELECT media_id, kind, length(hex) // 2 AS n_bytes,
             coalesce(w, 16) AS ww, coalesce(h, 16) AS hh, nf,
             list_transform(generate_series(1, length(hex) // 2), j ->
               (position(substring(hex, (j-1)*2+1, 1)
                         IN '0123456789abcdef') - 1) * 16
               + position(substring(hex, (j-1)*2+2, 1)
                          IN '0123456789abcdef') - 1) AS bytes
      FROM media
    )
    """
    return {
        # decode = tile payload to h*w: byte j (0-based) = payload[j % len]
        "media_features": base + """
        SELECT media_id, kind, n_bytes,
               CAST(FLOOR(CAST(list_sum(list_transform(
                      generate_series(1, hh * ww),
                      j -> bytes[((j-1) % n_bytes) + 1])) AS DOUBLE)
                    / (hh * ww) * 1e6) AS BIGINT) AS mean_e6
        FROM b ORDER BY media_id
        """,
        # nearest-neighbor 16x16: img[a*hh//16][x*ww//16], img[y][x] =
        # payload[(y*ww + x) % len]
        "media_resize": base + """
        SELECT media_id, 16 AS out_w, 16 AS out_h,
               CAST(list_sum(flatten(list_transform(generate_series(0, 15),
                    a -> list_transform(generate_series(0, 15),
                    x -> bytes[((((a*hh)//16) * ww + ((x*ww)//16))
                               % n_bytes) + 1])))) AS BIGINT) AS checksum
        FROM b WHERE kind = 'image' ORDER BY media_id
        """,
        # every-8th frame: 8-byte slice at (f*7) % max(len-8, 1), + f
        "media_frames": base + """
        SELECT media_id, f AS frame_idx,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    k -> bytes[((f*7) % greatest(n_bytes - 8, 1)) + k])) + f
                    AS BIGINT) AS frame_checksum
        FROM (SELECT media_id, unnest(generate_series(0, nf - 1, 8)) AS f,
                     bytes, n_bytes
              FROM b WHERE kind = 'video')
        ORDER BY media_id, frame_idx
        """,
    }


QUERIES = {
    "media_features": media_features_q,
    "media_resize": media_resize_q,
    "media_frames": media_frames_q,
}
