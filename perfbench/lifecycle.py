"""Spark session lifecycle for the benchmark, and the process tree it
starts (the JVM and the Python daemon and workers the JVM forks)."""

from __future__ import annotations

import os
import signal
import threading
import time


# ---------------------------------------------------------------------------
# Process tree: resident memory and clean shutdown
# ---------------------------------------------------------------------------

def _children() -> dict:
    kids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 2**20


class RssSampler(threading.Thread):
    """Samples the resident memory of this process and all descendants
    (JVM, Python daemon and workers) every 100 ms until stopped; ``peak``
    is the highest sum seen."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = tree_rss_mb(os.getpid())
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.1):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.done.set()
        self.join()


# ---------------------------------------------------------------------------
# Sessions
# ---------------------------------------------------------------------------

def start_session(conf: dict):
    from text_extractor_for_bioeconomic_products_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf)


def restart_session(spark, conf: dict):
    """New SparkContext in the same JVM, for the traced run's event log.
    A pandas_udf caches its JVM handle, bound to the old context's
    accumulator server, on first use; drop it so the new context builds
    its own."""
    from text_extractor_for_bioeconomic_products_spark.functions.udfs import (
        extract_turn_features,
    )

    spark.stop()
    extract_turn_features._unwrapped._judf_placeholder = None
    return start_session(conf)


def shutdown_jvm() -> None:
    """Stop the context, then the JVM, and wait for every process this
    process started (the JVM and the Python daemon and workers it forked)."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def warm_up(spark) -> None:
    """The Python-worker warm-up pass: one featurizer task per core, so
    every worker is forked and has imported the package."""
    from pyspark.sql import functions as F

    from text_extractor_for_bioeconomic_products_spark.operators.extract import (
        extract_turns,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.golden import GOLDEN_TEXTS

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    texts = F.array(*[F.lit(t) for t in sorted(GOLDEN_TEXTS.values())])
    df = spark.range(0, 16 * cpus, 1, cpus).select(
        F.format_string("warm-%d", "id").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.element_at(texts, (F.col("id") % len(GOLDEN_TEXTS) + 1).cast("int")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    extract_turns(df).write.format("noop").mode("overwrite").save()


def set_up(conf: dict) -> tuple:
    """Start a session, launching the JVM if none runs yet, and warm it.
    Returns the session and its (start, warm-up) seconds."""
    t0 = time.perf_counter()
    spark = start_session(conf)
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, (t1 - t0, time.perf_counter() - t1)


def session_conf(work: str) -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }

