"""SparkSession factory with scale-oriented defaults.

Local sandbox runs use ``local[N]``; the same configs are what we would
ship to a 1000-executor cluster via spark-submit (AQE, skew join handling,
Arrow batching sized for text payloads).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _quarter_of_ram() -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 4 // 2**20}m"


def get_spark(
    app_name: str = "text_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    host's core count).  shuffle_partitions defaults to the core count — on
    a real cluster this is set to ~2-3× total executor cores instead; AQE
    coalesces down.  ``spark.driver.memory`` is ``$SPARK_GRAFT_DRIVER_MEM``
    (env, default: a quarter of the host's physical RAM).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus

    # Executor Python workers must import this package regardless of the
    # driver's cwd.  On a real cluster spark-submit --py-files ships the
    # package (north_rule mechanics); in local mode the forked workers
    # inherit PYTHONPATH, so export the repo root before the JVM starts.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is a measured trade: 2048 cost ~15% extract
        # throughput to per-batch overhead (477 round trips on the 1M-turn
        # bench corpus); 16384 was slightly worse than 8192 and risks fat
        # batches on long-text corpora (8192 × 10k-char turns ≈ 80 MB —
        # still bounded per worker).  Size by expected row bytes when
        # deploying against a different corpus shape.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _quarter_of_ram())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
