"""End-to-end extraction job with checkpoint-resume and lineage.

north_rule mechanics: bucket-partitioned idempotent output, a
processed-bucket manifest enabling restart-without-recompute, and
per-partition lineage counters — the Spark generalization of the
reference's per-file JSON outputs + combined run stats
(direct_batch_process.py:107-110, 184-208).

Layout under ``out_dir``:
    turns_extracted/   parquet, partitioned by bucket=pmod(xxhash64(conv_id), N)
    product_spans/     parquet, same bucketing
    lineage/           one row per (run, bucket): counters + timings
    manifest/          processed-bucket ids (the checkpoint)

Idempotency: writes use dynamic partition overwrite — re-running a bucket
replaces exactly that bucket's files (the parquet analog of Iceberg
``MERGE INTO`` keyed on (conv_id, turn_idx); swap the writer for Iceberg
`writeTo(...).overwritePartitions()` on a cluster with an Iceberg catalog).

Scale: the bucket column is both the resume unit and the output partition
key.  Extraction itself stays a narrow map.  Every bucketed write goes
through ``_write_buckets``, which rebalances rows by bucket first (one
shuffle of the extracted rows per dataset), so each bucket lands as
ceil(bucket bytes / advisory partition size) files instead of one file per
input task: AQE coalesces small buckets into one task and splits a skewed
one.  The other wide operation is the resume semi-join against the (tiny,
broadcast) manifest.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import List
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import explode_spans, extract_turns

N_BUCKETS_DEFAULT = 64


@contextmanager
def _dynamic_partition_overwrite(spark: SparkSession):
    """Scope partitionOverwriteMode=dynamic to one write job.  Leaving it
    set on the shared session would silently turn a later plain
    mode('overwrite').partitionBy(...) elsewhere into a per-partition
    overwrite that leaves stale partitions behind."""
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = "static"
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, prior)


@dataclass
class RunResult:
    run_id: str
    n_buckets: int
    buckets_processed: int
    buckets_skipped: int
    n_turns: int
    n_spans: int
    wall_sec: float


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Add the layout column ``bucket = pmod(xxhash64(conv_id), n_buckets)``
    — the one bucket formula every bucketed dataset in the package uses."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _write_buckets(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Overwrite exactly the buckets present in ``df`` under ``path``.

    The REBALANCE hint shuffles rows by bucket before the write, so a task
    holds whole buckets and opens one file per bucket it holds; without it
    every input task opens a file in every bucket (tasks × buckets small
    files).  AQE sizes the tasks: small buckets coalesce into one task, a
    bucket over the advisory partition size is split instead of landing on
    one straggler."""
    with _dynamic_partition_overwrite(spark):
        (
            df.hint("rebalance", "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )


def _missing_path(ex: Exception) -> bool:
    msg = str(ex)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def _processed_buckets(spark: SparkSession, manifest_dir: str) -> List[int]:
    """Bucket ids already in the manifest.  Only a missing manifest means
    "fresh run"; any other read error (corrupt footer, permissions) is
    raised — swallowing it would silently recompute every bucket."""
    # existence pre-check: probing a fresh dir via read.parquet makes the
    # JVM log the AnalysisException stack to stderr — needless alarm on
    # every first run; the _missing_path fallback stays for non-local URIs
    # where isdir() can't see the store
    if not (os.path.isdir(manifest_dir) or "://" in manifest_dir):
        return []
    try:
        return [
            r["bucket"]
            for r in spark.read.parquet(manifest_dir).select("bucket").distinct().collect()
        ]
    except Exception as ex:
        if _missing_path(ex):
            return []
        raise


def merge_turns(
    spark: SparkSession,
    turns_dir: str,
    new_turns: DataFrame,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> dict:
    """Keyed upsert into the bucketed turns dataset — the parquet analog
    of Iceberg ``MERGE INTO turns t USING new n ON t.conv_id = n.conv_id
    AND t.turn_idx = n.turn_idx WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    THEN INSERT`` (the north_rule resumability primitive at row
    granularity; ``run_extraction``'s manifest covers bucket granularity).

    Only buckets containing new keys are read and rewritten: existing rows
    in those buckets survive via an anti join on the key, everything else
    on disk is untouched (dynamic partition overwrite).  ``new_turns`` is
    extraction output (``extract_turns(...).drop("spans")``).
    """
    new_b = with_bucket(new_turns, n_buckets).persist()
    # MERGE contract: the source must be key-unique (Iceberg raises
    # "multiple matching rows"; silently keeping both would corrupt the
    # target's key uniqueness)
    dup_keys = (
        new_b.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    if dup_keys:
        new_b.unpersist()
        raise ValueError(
            f"merge_turns: {dup_keys} duplicate (conv_id, turn_idx) keys in new_turns"
        )
    affected = sorted(
        r["bucket"] for r in new_b.select("bucket").distinct().collect()
    )
    n_upserted = new_b.count()
    # the bucket modulus is part of the dataset layout: merging with a
    # different n_buckets would hash matched keys into unscanned buckets
    # and duplicate them silently — validate against the sidecar.  Only
    # a missing path means "not there"; any other read error (permissions,
    # corrupt footer) must NOT fall through to a write that would
    # dynamic-overwrite existing buckets with partial data.
    meta_dir = turns_dir.rstrip("/") + "_meta"
    stored = None
    # pre-check local existence so the fresh-target path never fires an
    # AnalysisException (the JVM logs its stack to stderr on every first
    # micro-batch otherwise); the _missing_path fallback stays for
    # non-local URIs where isdir() can't see the store
    if os.path.isdir(meta_dir) or "://" in meta_dir:
        try:
            stored = int(spark.read.json(meta_dir).collect()[0]["n_buckets"])
        except Exception as ex:
            if not _missing_path(ex):
                new_b.unpersist()
                raise
    if stored is not None and stored != n_buckets:
        new_b.unpersist()
        raise ValueError(
            f"merge_turns: dataset written with n_buckets={stored}, "
            f"merge called with {n_buckets}"
        )
    existing = None  # first write — plain insert
    if os.path.isdir(turns_dir) or "://" in turns_dir:
        try:
            existing = spark.read.parquet(turns_dir).filter(
                F.col("bucket").isin(affected)
            )
        except Exception as ex:
            if not _missing_path(ex):
                new_b.unpersist()
                raise
    if existing is not None:
        keys = new_b.select("conv_id", "turn_idx").distinct()
        kept = existing.join(keys, ["conv_id", "turn_idx"], "left_anti")
        merged = kept.unionByName(new_b.select(*kept.columns))
    else:
        merged = new_b
    # the merged affected buckets must be fully materialized before the
    # overwrite deletes their source files
    merged = merged.localCheckpoint(eager=True)
    _write_buckets(spark, merged, turns_dir)
    if stored is None:
        # first write, or adopting a pre-sidecar dataset at the caller's
        # declared modulus
        spark.createDataFrame([(n_buckets,)], "n_buckets int") \
            .coalesce(1).write.mode("overwrite").json(meta_dir)
    new_b.unpersist()
    return {"buckets_rewritten": affected, "n_upserted": n_upserted}


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str = "run-0",
    n_buckets: int = N_BUCKETS_DEFAULT,
    resume: bool = True,
) -> RunResult:
    """Execute the full extract job, skipping already-processed buckets.

    ``run_id`` is caller-supplied (deterministic; never from the clock —
    SURVEY §7.4 rule 4 keeps lineage out of the equality path).
    """
    t0 = time.monotonic()

    turns_dir = os.path.join(out_dir, "turns_extracted")
    spans_dir = os.path.join(out_dir, "product_spans")
    lineage_dir = os.path.join(out_dir, "lineage")
    manifest_dir = os.path.join(out_dir, "manifest")

    df = with_bucket(transcripts, n_buckets)

    done = _processed_buckets(spark, manifest_dir) if resume else []
    if done:
        df = df.filter(~F.col("bucket").isin(done))

    turns = with_bucket(extract_turns(df), n_buckets)
    turns.persist()

    # todo buckets come from the persisted extraction output — one cheap
    # pass over cached data, NOT an extra full scan of the input (which
    # would double I/O at 100 TB just to enumerate a known codomain)
    todo = sorted(
        r["bucket"] for r in turns.select("bucket").distinct().collect()
    )
    if not todo:
        turns.unpersist()
        return RunResult(run_id, n_buckets, 0, len(done), 0, 0,
                          round(time.monotonic() - t0, 3))

    _write_buckets(spark, turns.drop("spans"), turns_dir)
    # bucket is a pure function of conv_id — recompute, don't re-join
    _write_buckets(spark, with_bucket(explode_spans(turns), n_buckets), spans_dir)

    # per-bucket lineage counters (A7 generalization); partitioned dynamic
    # overwrite, NOT append — a crash-and-resume rerun of a bucket replaces
    # its lineage row instead of duplicating it ("one row per bucket, from
    # the attempt that durably wrote it")
    lineage = (
        turns.groupBy("bucket")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("parse_error"), 1).otherwise(0)).alias("n_errors"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
    _write_buckets(spark, lineage, lineage_dir)

    totals = turns.select(
        F.count("*").alias("n_turns"), F.sum("n_spans").alias("n_spans")
    ).collect()[0]

    # checkpoint LAST: a bucket enters the manifest only after its data,
    # spans, and lineage are durable (crash before this line ⇒ the bucket
    # reruns; dynamic overwrite makes the rerun idempotent)
    manifest = spark.createDataFrame(
        [(b, run_id) for b in todo], "bucket int, run_id string"
    )
    manifest.write.mode("append").parquet(manifest_dir)

    turns.unpersist()
    return RunResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=len(todo),
        buckets_skipped=len(done),
        n_turns=totals["n_turns"],
        n_spans=totals["n_spans"] or 0,
        wall_sec=round(time.monotonic() - t0, 3),
    )

