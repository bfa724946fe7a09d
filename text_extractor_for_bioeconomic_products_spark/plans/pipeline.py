"""End-to-end extraction job with checkpoint-resume and lineage.

north_rule mechanics: bucket-partitioned idempotent output, a
processed-bucket manifest enabling restart-without-recompute, and
per-partition lineage counters — the Spark generalization of the
reference's per-file JSON outputs + combined run stats
(direct_batch_process.py:107-110, 184-208).

Layout under ``out_dir``:
    turns_extracted/   parquet, partitioned by bucket=pmod(xxhash64(conv_id), N)
    product_spans/     parquet, same bucketing
    lineage/           one row per (run, bucket): counters
    manifest/          processed-bucket ids (the checkpoint)

Idempotency: writes use dynamic partition overwrite — re-running a bucket
replaces exactly that bucket's files (the parquet analog of Iceberg
``MERGE INTO`` keyed on (conv_id, turn_idx); swap the writer for Iceberg
`writeTo(...).overwritePartitions()` on a cluster with an Iceberg catalog).

Scale: the bucket column is both the resume unit and the output partition
key.  Extraction itself stays a narrow map, in the input-split tasks.  Its
output is shuffled once: a ``REBALANCE(bucket)`` before the cache clusters
the extracted rows by bucket, so a bucket lands as one file instead of one
file per input task (AQE splits a bucket over the advisory partition size,
which then lands as one file per piece).  The turns and spans writes read
that cache with no further Exchange, and one per-bucket aggregate of it
yields the todo list, the run totals and the lineage rows.  The other wide
operation is the resume semi-join against the (tiny, broadcast) manifest.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import explode_spans, extract_turns

N_BUCKETS_DEFAULT = 64

# Lineage rows are built in the driver; typed as the Spark aggregate that
# computes them types its columns (count/countDistinct/lit are non-null),
# so the parquet footer does not depend on how the rows reach the writer.
LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("n_turns", T.LongType(), False),
    T.StructField("n_spans", T.LongType()),
    T.StructField("n_tokens", T.LongType()),
    T.StructField("n_errors", T.LongType()),
    T.StructField("n_convs", T.LongType(), False),
    T.StructField("run_id", T.StringType(), False),
])


@contextmanager
def _scoped_conf(spark: SparkSession, conf: dict):
    """Set session confs for the duration of the block, then restore
    them.  Leaving e.g. partitionOverwriteMode=dynamic set on the shared
    session would silently turn a later plain
    mode('overwrite').partitionBy(...) elsewhere into a per-partition
    overwrite that leaves stale partitions behind."""
    prior = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


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

    Precondition: ``df`` is already clustered by bucket — a
    ``REBALANCE(bucket)`` upstream, or at most one row per bucket — so a
    task opens one file per bucket it holds.  The writer adds no shuffle
    of its own: a REBALANCE here, over a cached or checkpointed frame that
    is already rebalanced, is not elided; Spark plans a second ``Exchange
    REBALANCE_PARTITIONS_BY_COL``.  Input that is not clustered still
    writes correctly, but as tasks × buckets small files."""
    with _scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        df.write.mode("overwrite").partitionBy("bucket").parquet(path)


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
    # one pre-write aggregate: the key determines the bucket, so a bucket
    # holding more rows than distinct keys holds a duplicate.  MERGE
    # contract: the source must be key-unique (Iceberg raises "multiple
    # matching rows"; silently keeping both would corrupt the target's key
    # uniqueness).  The struct counts a null key part like groupBy does.
    per_bucket = (
        new_b.groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct(F.struct("conv_id", "turn_idx")).alias("keys"),
        )
        .collect()
    )
    dup_rows = sum(r["rows"] - r["keys"] for r in per_bucket)
    if dup_rows:
        new_b.unpersist()
        raise ValueError(
            f"merge_turns: {dup_rows} duplicate (conv_id, turn_idx) rows in new_turns"
        )
    affected = sorted(r["bucket"] for r in per_bucket)
    n_upserted = sum(r["rows"] for r in per_bucket)
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
    # overwrite deletes their source files; clustered by bucket first,
    # as _write_buckets expects
    merged = merged.hint("rebalance", "bucket").localCheckpoint(eager=True)
    _write_buckets(spark, merged, turns_dir)
    if stored is None:
        # first write, or adopting a pre-sidecar dataset at the caller's
        # declared modulus
        spark.createDataFrame(pd.DataFrame({"n_buckets": [n_buckets]}), "n_buckets int") \
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

    # the one shuffle of the extracted rows: the featurizer runs map-side
    # in the input-split tasks, then REBALANCE(bucket) clusters its output
    # so a cached partition holds whole buckets, and every consumer below
    # reads the cache with no Exchange.  AQE leaves the last stage of a
    # cached plan as planned unless canChangeCachedPlanOutputPartitioning
    # is on when the plan is cached; on, a bucket over the advisory
    # partition size is split, as a rebalance at write time would split
    # it.  Coalescing stays off: small buckets keep one task per shuffle
    # partition for the writes instead of collapsing into one task.
    with _scoped_conf(spark, {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }):
        turns = (
            with_bucket(extract_turns(df), n_buckets)
            .hint("rebalance", "bucket")
            .persist()
        )

    # one aggregate, ≤ n_buckets rows, and the action that fills the
    # cache: its buckets are the todo list, its sums the run totals, its
    # rows the lineage — no extra pass over the extracted rows
    stats = (
        turns.groupBy("bucket")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("parse_error"), 1).otherwise(0)).alias("n_errors"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .toPandas()
        .sort_values("bucket", ignore_index=True)
    )
    todo = stats["bucket"].tolist()
    if not todo:
        turns.unpersist()
        return RunResult(run_id, n_buckets, 0, len(done), 0, 0,
                          round(time.monotonic() - t0, 3))

    _write_buckets(spark, turns.drop("spans"), turns_dir)
    # explode is narrow, so the spans keep the turns' bucket clustering;
    # bucket is a pure function of conv_id — recompute, don't re-join
    _write_buckets(spark, with_bucket(explode_spans(turns), n_buckets), spans_dir)

    # per-bucket lineage counters (A7 generalization); partitioned dynamic
    # overwrite, NOT append — a crash-and-resume rerun of a bucket replaces
    # its lineage row instead of duplicating it ("one row per bucket, from
    # the attempt that durably wrote it").  The driver-built rows go in
    # through Arrow: no Python worker deserializes them.
    lineage = spark.createDataFrame(stats.assign(run_id=run_id), LINEAGE_SCHEMA)
    _write_buckets(spark, lineage, lineage_dir)

    # checkpoint LAST: a bucket enters the manifest only after its data,
    # spans, and lineage are durable (crash before this line ⇒ the bucket
    # reruns; dynamic overwrite makes the rerun idempotent)
    manifest = spark.createDataFrame(
        stats[["bucket"]].assign(run_id=run_id), "bucket int, run_id string"
    )
    manifest.write.mode("append").parquet(manifest_dir)

    turns.unpersist()
    return RunResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=len(todo),
        buckets_skipped=len(done),
        n_turns=int(stats["n_turns"].sum()),
        n_spans=int(stats["n_spans"].sum()),
        wall_sec=round(time.monotonic() - t0, 3),
    )

