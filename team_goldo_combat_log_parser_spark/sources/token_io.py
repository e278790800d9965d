"""Token-table materialization at bench scale.

Line text is generated by the seeded Python generator (driver side, cheap
string work); tokenization to array<int> runs in Spark via the Arrow
pandas UDF so the heavy byte fan-out is distributed and the written table
matches the contract shape (doc_id, tokens, n_tok, source).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.grammar import retokenize_udf
from . import datagen as dg


def materialize_token_table(spark: SparkSession, cfg: dg.GenConfig,
                            path: str, partitions: int = 32) -> str:
    """Write the bench token corpus once; reuse across runs (keyed by cfg).

    Generation is fully distributed: ``spark.range`` over log indices,
    one ``mapInPandas`` task per batch of logs building lines with a
    per-log seeded rng (``datagen.synth_log_rows``), tokenization in the
    same pass — the driver never holds a line. Corpus size therefore
    scales with the cluster, not the driver heap."""
    key = f"d{cfg.n_logs}x{cfg.fights_per_log}x{cfg.rows_per_fight}s{cfg.seed}"
    out = os.path.join(path, f"tokens_{key}")
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            for log_idx in pdf["id"].tolist():
                yield pd.DataFrame(
                    dg.synth_log_rows(cfg, int(log_idx)),
                    columns=["doc_id", "line", "source"])

    n_tasks = min(cfg.n_logs, max(partitions, 1))
    base = spark.range(cfg.n_logs).repartition(n_tasks)
    df = base.mapInPandas(gen, "doc_id string, line string, source string")
    (df.withColumn("tokens", retokenize_udf(F.col("line")))
       .withColumn("n_tok", F.size("tokens"))
       .select("doc_id", "tokens", "n_tok", "source")
       .write.mode("overwrite").parquet(out))
    return out
