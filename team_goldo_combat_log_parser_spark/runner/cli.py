"""spark-submit entrypoint: resumable batch run of the combat pipeline.

Usage (cluster or local):

    spark-submit --py-files tglp_spark.zip -m team_goldo_combat_log_parser_spark.runner.cli \
        --input  /data/token_tables/...   (parquet; Iceberg scan if catalog configured) \
        --output /data/out/goldo          (sinks + aggregate tables) \
        --checkpoint /data/ckpt/goldo     (lineage manifest; resume point)

Each invocation processes only sources absent from the manifest, writes the
five event sinks + aggregate tables (concurrently, one thread per table)
partitioned by (commit, log_date) —
log_date is the date field of log_id (``grammar.log_date``, the rule the
parse uses), so readers prune by day —
and commits a manifest record with per-sink counts (the run's metrics).
A source whose file name has no such date (``grammar.has_log_date``) is
left out of the commit and named in the printed ``rejected_sources``.
With an ``iceberg:<catalog.namespace>`` output, tables are written through
the Iceberg catalog instead (per-commit overwrite = the same exactly-once
replay semantics; jar-gated, like the read branch).
"""

from __future__ import annotations

import argparse
import json
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import grammar
from ..plans.pipeline import run_pipeline
from ..session import ENGINE_CONF
from ..sources.datagen import TOKEN_TABLE_SCHEMA
from .checkpoint import Manifest, filter_unprocessed


def gc_orphan_commits(spark: SparkSession, output: str,
                      manifest: Manifest,
                      allow_gc_all: bool = False) -> list[str]:
    """Delete commit=* directories not referenced by any manifest record.

    The deterministic commit id makes a same-source-set replay overwrite
    its own orphan, but if NEW source files arrive between a crash and the
    replay, the replay's source set (and so its commit id) differs and the
    crashed run's directory would stay visible to partition-discovery
    readers alongside the new commit — duplicate rows for the shared
    sources. The manifest is the source of truth: anything it does not
    reference is an orphan, removed here before any write. Runs through
    the Hadoop FileSystem API so the same code handles s3a/hdfs/file
    outputs on a real cluster. Iceberg outputs need no GC — the catalog
    only exposes committed snapshots, and the replay's per-commit
    overwrite replaces any earlier rows of the same commit atomically.

    Misconfiguration guard: with an EMPTY manifest (fresh or mislocated
    --checkpoint) every commit dir looks like an orphan, and since the
    manifest exists precisely so processed inputs can be pruned, deleting
    them could be unrecoverable. A legitimate empty-manifest state has at
    most ONE orphan (a first run that crashed mid-write); seeing committed
    data under an empty manifest means the checkpoint doesn't match the
    output, so refuse loudly and make the operator pass
    ``allow_gc_all=True`` (--force-gc) after checking the paths."""
    if output.startswith("iceberg:"):
        return []
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(output)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    valid = {rec["commit_id"] for rec in manifest.records()}
    orphans = []
    for tbl in fs.listStatus(root):
        if not tbl.isDirectory():
            continue
        for sub in fs.listStatus(tbl.getPath()):
            name = sub.getPath().getName()
            if name.startswith("commit=") \
                    and name[len("commit="):] not in valid:
                orphans.append((sub.getPath(),
                                f"{tbl.getPath().getName()}/{name}"))
    if not valid and orphans and not allow_gc_all:
        distinct = sorted({p.getName() for p, _ in orphans})
        if len(distinct) > 1:
            raise RuntimeError(
                f"refusing to GC: manifest at this checkpoint has no "
                f"records but {output} holds {len(distinct)} distinct "
                f"commit ids {distinct[:5]} — is --checkpoint pointing at "
                "the wrong directory? Re-run with --force-gc to delete "
                "them anyway.")
    removed: list[str] = []
    for path, label in orphans:
        fs.delete(path, True)
        removed.append(label)
    return sorted(removed)


def read_tokens(spark: SparkSession, path: str):
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:"):])
    # declared, so an empty landing dir reads as 0 rows, not a failed
    # schema inference
    return spark.read.schema(TOKEN_TABLE_SCHEMA).parquet(path)


def write_table(df, output: str, name: str, commit_id: str) -> None:
    """One sink/aggregate table write, exactly-once under replay.

    Parquet layout: <output>/<table>/commit=<id>/log_date=<day>/ — the
    deterministic commit id means a crash replay rewrites the SAME
    directory (mode=overwrite), and log_date gives readers partition
    pruning by day (the reference UI's per-log drill-down; at 100 TB a
    reader scanning one raid night must not touch the other days).

    Iceberg layout (``iceberg:<catalog.ns>`` output): same semantics via
    the catalog — rows of this commit are overwritten in place
    (DataFrameWriterV2.overwrite on the commit column), prior commits
    untouched. Jar-gated like the read branch; exercised by the
    skip-marked roundtrip test."""
    if output.startswith("iceberg:"):
        tbl = f"{output[len('iceberg:'):]}.{name}"
        out = df.withColumn("commit", F.lit(commit_id))
        if out.sparkSession.catalog.tableExists(tbl):
            out.writeTo(tbl).overwrite(F.col("commit") == F.lit(commit_id))
        else:
            out.writeTo(tbl).partitionedBy("commit").createOrReplace()
        return
    writer = df
    partition_cols = []
    if "log_id" in df.columns:
        writer = writer.withColumn("log_date",
                                   grammar.log_date(F.col("log_id")))
        partition_cols = ["log_date"]
    w = writer.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(f"{output}/{name}/commit={commit_id}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--force-gc", action="store_true",
                    help="allow orphan-commit GC even when the manifest is "
                         "empty but the output dir holds committed data "
                         "(normally refused as a misconfiguration guard)")
    args = ap.parse_args(argv)

    spark = (SparkSession.builder.appName("goldo-pipeline")
             .config(map=ENGINE_CONF).getOrCreate())
    manifest = Manifest(args.checkpoint)
    gc_removed = gc_orphan_commits(spark, args.output, manifest,
                                   allow_gc_all=args.force_gc)

    tokens = read_tokens(spark, args.input)
    todo = filter_unprocessed(tokens, manifest)
    # a source without a log date would fail the parse of every source
    found = todo.select("source", grammar.has_log_date(F.col("source"))
                        .alias("ok")).distinct().collect()
    sources = [r["source"] for r in found if r["ok"]]
    rejected = sorted(r["source"] for r in found if not r["ok"])
    if rejected:
        todo = todo.filter(~F.col("source").isin(rejected))
    if not sources:
        print(json.dumps({"status": "up-to-date", "new_sources": 0,
                          "rejected_sources": rejected}))
        return 0

    res = run_pipeline(spark, todo)
    # Output layout: <output>/<table>/commit=<id>/log_date=<day>/ — the
    # commit id is DETERMINISTIC over the source set and allocated BEFORE
    # any write, so a crash between the writes and the manifest commit
    # leaves an orphaned directory that the replay (same sources -> same
    # id) overwrites in place: exactly-once output even under partition
    # discovery, never duplicate rows from an orphan + a replay dir.
    commit_id = manifest.new_commit_id(sources)
    tables = [(f"sink_{name}", df) for name, df in res.sinks.items()]
    tables += [("pulls", res.pulls),
               ("damage_done_skills", res.damage_done_skills),
               ("damage_received_skills", res.damage_received_skills),
               ("heal", res.heal), ("threat", res.threat),
               ("rates", res.rates)]
    # first, so that it fills the routed cache (and the fights and line
    # caches under it) once: writes that start together on empty caches
    # each submit their own cache-building jobs (35 -> 50 per landing)
    routed = res.routed.select(
        *[F.sum(F.col(c).cast("long")).alias(c)
          for c in ["r_enter", "r_damage_done", "r_damage_received", "r_fa",
                    "r_heal", "r_exit", "r_threat"]]).collect()[0].asDict()

    def write(table):
        name, df = table
        # Observation: row count rides along with the write — one action
        # per table, not write + recount
        obs = Observation(f"cnt_{name}")
        write_table(df.observe(obs, F.count(F.lit(1)).alias("n")),
                    args.output, name, commit_id)
        return name, obs.get["n"]

    # the writes are independent: submitted together, their driver-side
    # planning overlaps and their small jobs share the cores. A failed
    # write raises here, before the manifest commit
    with ThreadPoolExecutor(len(tables)) as pool:
        counts = dict(pool.map(write, tables))
    res.unpersist()

    commit = manifest.commit(sources, counts, metrics={"routed": routed},
                             commit_id=commit_id)
    print(json.dumps({"status": "committed", "commit_id": commit,
                      "new_sources": len(sources), "counts": counts,
                      "rejected_sources": rejected,
                      "gc_orphans": gc_removed}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
