"""Seeded input generators. The same seed gives byte-identical files.

The program under test only ever sees the files written here:

* combat logs: one token-table parquet file per log (the layout an upload
  lands in), content from the package's grammar-complete raid-log
  synthesizer with a per-(seed, log) rng;
* documents: a high-vocabulary corpus with planted near-duplicates where
  about 30% of the documents carry Latin-1 player names, so the MinHash
  and SimHash paths leave their ASCII-only vectorized fast paths;
* embeddings: planted clusters from ``datagen.clustered_embeddings``.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from team_goldo_combat_log_parser_spark.sources import datagen as dg


def combat_logs(seed: int, n_logs: int, fights: int, rows: int,
                first: int = 0) -> list[tuple[str, list[str]]]:
    """``n_logs`` raid logs (source filename, lines), log ids ``first``..;
    each log has its own rng, so log k is the same whatever ``n_logs``."""
    cfg = dg.GenConfig(n_logs=first + n_logs, fights_per_log=fights,
                       rows_per_fight=rows, seed=seed)
    return [dg.synth_log(random.Random(seed * 1_000_003 + i), cfg, i)
            for i in range(first, first + n_logs)]


def write_log(path: str, fname: str, lines: list[str]) -> None:
    """One log as a token-table parquet file (doc_id, tokens, n_tok,
    source); tokens are the ISO-8859-1 bytes of each line."""
    log_name = fname.rsplit(".", 1)[0]
    enc = [ln.encode("iso-8859-1") for ln in lines]
    lens = np.fromiter(map(len, enc), dtype=np.int32, count=len(enc))
    offs = np.zeros(len(enc) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    vals = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.int32)
    table = pa.table({
        "doc_id": [f"{log_name}:{i:08d}" for i in range(len(lines))],
        "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(vals)),
        "n_tok": pa.array(lens),
        "source": [fname] * len(lines),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.rename(tmp, path)  # land atomically: a reader never sees half a file


_SYLLABLES = ["ka", "ro", "mi", "tel", "var", "on", "us", "dra", "zen", "qua",
              "li", "bor", "sha", "ny", "th", "el", "gar", "po", "ve", "xi"]
_NAMES = ["Fææ", "Farsîght", "Bénrah", "Chéik", "Orâth", "Zanëus", "Kelón",
          "Mëyrah", "Tálgon", "Vïldan", "Dräax", "Lördan"]
_STOPWORDS = ["the", "a", "and", "of", "to", "data", "value", "row"]
_LANG_WORDS = {"en": [], "fr": ["le", "la", "et", "les", "des"],
               "es": ["el", "los", "las", "una", "del"],
               "de": ["der", "die", "und", "das", "ein"]}


def documents(path: str, seed: int, n: int, vocab: int = 20_000,
              sources: int = 100) -> list[str]:
    """Write ``documents.parquet`` under ``path``; returns the texts.
    Every 7th document copies one of the previous 400 (every 21st
    verbatim, the others with ~4% of words replaced); 3 in 10 of the
    others carry Latin-1 names. The fixed pattern keeps the amount of
    duplicate and non-ASCII work the same from seed to seed."""
    rng = random.Random(seed)
    words = sorted({"".join(rng.choice(_SYLLABLES)
                            for _ in range(rng.randint(2, 4)))
                    for _ in range(2 * vocab)})[:vocab]
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        if i > 50 and i % 7 == 3:
            j = rng.randrange(max(0, i - 400), i)
            toks = texts[j].split(" ")
            if i % 21 != 3:
                for _ in range(max(1, len(toks) // 25)):
                    toks[rng.randrange(len(toks))] = rng.choice(words)
            lang = langs[j]
        else:
            lang = rng.choice(["en", "en", "fr", "es", "de"])
            k = rng.randint(12, 120)
            toks = [rng.choice(words) for _ in range(k)]
            for _ in range(rng.randint(0, k // 6)):
                toks[rng.randrange(k)] = rng.choice(_STOPWORDS)
            for _ in range(rng.randint(2, 5) if _LANG_WORDS[lang] else 0):
                toks[rng.randrange(k)] = rng.choice(_LANG_WORDS[lang])
            if i % 10 < 3:
                for _ in range(rng.randint(1, 3)):
                    toks[rng.randrange(k)] = rng.choice(_NAMES)
        texts.append(" ".join(toks))
        langs.append(lang)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{rng.randrange(sources)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))
    return texts


def embeddings(path: str, seed: int, n: int, dim: int = 64) -> None:
    """Write ``embeddings.parquet`` under ``path``: ``n // 5`` planted
    clusters, so each vector has a handful of true near neighbours."""
    ids, mat = dg.clustered_embeddings(n, dim=dim, n_clusters=max(1, n // 5),
                                       seed=seed)
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
        "label": pa.array(np.arange(n, dtype=np.int32) % 16),
    }), os.path.join(path, "embeddings.parquet"))
