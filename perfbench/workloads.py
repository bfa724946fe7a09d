"""Workload generators and the timed call of each workload.

Every input is a pure function of ``--seed``: the transcript corpus comes
from ``synthesize_transcripts`` (closed-form, no RNG), and every choice
made here (spliced tokens, touched buckets, edited turns) hashes the seed.

* ``template``: the synthetic corpus as shipped.  26 templates repeat and
  the unique ``ref`` suffix sits in its own paragraph, so the featurizer's
  compute-on-uniques and its paragraph cache absorb most of the work; the
  write phases and fixed per-job overhead dominate.
* ``unique``: the same corpus with a deterministic unique token spliced
  into every paragraph, so neither cache can hit and featurizer compute
  takes a larger share of the call.

Each call of a run reads its own corpus, made from (seed, call index).
The Python workers outlive a call, and with them the featurizer's
paragraph cache; a call that re-read an earlier call's input would find
its paragraphs cached and ``unique`` would no longer miss.

The traced run also merges an edited delta (``upsert_delta``) into the
traced call's ``turns_extracted`` with ``merge_turns``; see tracing.py.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
    N_BUCKETS_DEFAULT,
    run_extraction,
)
from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
    read_transcripts,
    synthesize_transcripts,
    write_transcripts,
)

# A quarter of the job's shipped bucket count (N_BUCKETS_DEFAULT, 64).
# Its writes open one file per (input split, bucket); at 64 a call on
# this corpus takes 7-12 s on a 4-core host, mostly creating files, and
# a run could not fit a cold setup, a warm-up call, two timed calls and
# their checks in a minute.  Write and layout figures are for 16 buckets.
N_BUCKETS = N_BUCKETS_DEFAULT // 4

# 300 conversations, 13.3k turns a call.  Fixed, not scaled with the
# host, so figures from different hosts describe the same work.
N_CONVS = 300

MEGA_CONV = "conv-000000"  # synthesize_transcripts puts ~10% of turns here
INSERT_OFFSET = 1_000_000  # turn_idx of an upsert's new turns: past every real turn


def _seed_hash(*parts) -> int:
    text = ":".join(str(p) for p in parts)
    return int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")


def bucket_of(conv_col, n_buckets: int = N_BUCKETS):
    """The job's bucket function, pmod(xxhash64(conv_id), N)."""
    return F.pmod(F.xxhash64(conv_col), F.lit(n_buckets)).cast("int")


def splice_unique(df, seed: int):
    """Append a token unique to (seed, turn, paragraph) to every paragraph,
    so no two paragraphs and no two turns share a text."""
    paras = F.split(F.col("text"), "\n\n", -1)
    spliced = F.transform(
        paras,
        lambda p, i: F.concat(
            p,
            F.lit(" zx"),
            F.lower(F.hex(F.xxhash64(F.lit(seed), F.col("conv_id"), F.col("turn_idx"), i))),
        ),
    )
    return df.withColumn("text", F.array_join(spliced, "\n\n"))


def touched_buckets(seed: int, n_buckets: int = N_BUCKETS) -> list:
    """The quarter of the buckets an upsert delta writes to."""
    order = sorted(range(n_buckets), key=lambda b: _seed_hash(seed, "bucket", b))
    return sorted(order[: n_buckets // 4])


def upsert_delta(base, seed: int):
    """Edited delta over the touched buckets: about one turn in four is
    rewritten in place and one in sixteen is copied to a new key.  The
    mega conversation is left out, so the delta size does not hinge on
    which bucket it hashes to."""
    rows = base.filter(
        bucket_of(F.col("conv_id")).isin(touched_buckets(seed))
        & (F.col("conv_id") != MEGA_CONV)
    )
    h = F.pmod(F.xxhash64(F.lit(seed), F.lit("edit"), "conv_id", "turn_idx"), F.lit(16))
    note = F.format_string("\n\nrevised %s:%d", F.col("conv_id"), F.col("turn_idx"))
    edits = rows.filter(h < 4).withColumn("text", F.concat(F.col("text"), note))
    inserts = rows.filter(h == 4).select(
        "conv_id",
        (F.col("turn_idx") + F.lit(INSERT_OFFSET)).alias("turn_idx"),
        "role",
        F.concat(F.lit("follow-up: "), F.col("text")).alias("text"),
        "tool",
        "ts",
    )
    return edits.unionByName(inserts)


def write_input(df, path: str) -> None:
    """``write_transcripts`` in generation order: one file per partition
    of ``spark.range``, i.e. per core, so the job's map stage, which runs
    one task per input split, uses every core.  The mega conversation
    makes the first file the largest, as skewed inputs are."""
    write_transcripts(df, path, shuffled=False)


def dir_stats(path: str) -> tuple:
    """(files, bytes) of every file under ``path``, Hadoop's ``.crc``
    side files and ``_SUCCESS`` markers included: the job writes them."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            n += 1
            b += os.path.getsize(os.path.join(root, name))
    return n, b


class Workload:
    """The timed call is ``run_extraction`` from scan to manifest, into a
    fresh output directory; call ``i`` reads corpus ``i``."""

    def __init__(self, name: str, work: str, seed: int):
        self.name = name
        self.seed = seed
        self.work = work

    def corpus(self, spark, call: int):
        s = _seed_hash(self.seed, "call", call) % 2**31
        df = synthesize_transcripts(spark, n_convs=N_CONVS, seed=s)
        return splice_unique(df, s) if self.name == "unique" else df

    def input_dir(self, call: int) -> str:
        return os.path.join(self.work, "input", f"call={call}")

    def prepare(self, spark, n_calls: int) -> dict:
        """Write the corpora of calls 0 .. n_calls-1 in one pass, each in
        generation order as ``write_input`` writes it, one file per core.
        Returns the shape of call 0's corpus; every corpus has the same
        turns, as ``synthesize_transcripts`` sizes conversations by
        number alone."""
        df = self.corpus(spark, 0).withColumn("call", F.lit(0))
        for c in range(1, n_calls):
            df = df.unionByName(self.corpus(spark, c).withColumn("call", F.lit(c)))
        df.write.mode("overwrite").partitionBy("call").parquet(
            os.path.join(self.work, "input"))
        text = ds.dataset(self.input_dir(0), format="parquet").to_table(["text"])["text"]
        self.n_turns = len(text)
        return {"turns": self.n_turns,
                "unique_frac": pc.count_distinct(text).as_py() / self.n_turns}

    def out_dir(self) -> str:
        return os.path.join(self.work, "out")

    def reset(self) -> None:
        shutil.rmtree(self.out_dir(), ignore_errors=True)

    def call(self, spark, call: int):
        """The timed call.  Returns (seconds, result)."""
        t0 = time.perf_counter()
        result = run_extraction(
            spark,
            read_transcripts(spark, self.input_dir(call)),
            self.out_dir(),
            run_id=f"bench-{call}",
            n_buckets=N_BUCKETS,
        )
        return time.perf_counter() - t0, result

    def written(self) -> tuple:
        return dir_stats(self.out_dir())

    def buckets_written(self) -> int:
        return sum(d.startswith("bucket=")
                   for d in os.listdir(os.path.join(self.out_dir(), "turns_extracted")))
