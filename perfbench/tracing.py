"""The traced run: spans, Spark's event log, and per-layer probes.

Spans are (name, start, end, parent, run id) records kept in memory and
written out when the run ends.  The benchmark records spans around its
own calls into each layer; the event log adds Spark's SQL execution →
job → stage → task tree under the span of the call that caused it.  A
layer's self time is its span minus the part its children cover.

Probes each time one layer in isolation over the workload's input:
scan, Arrow transfer (an identity ``arrow_udf``), the featurizer UDF,
span explosion, a keyed upsert with ``merge_turns``, and a
single-threaded run of the featurizer's stages in a fresh interpreter.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from text_extractor_for_bioeconomic_products_spark import rules
from text_extractor_for_bioeconomic_products_spark.functions.udfs import (
    extract_turn_features,
    tag_spans_series,
)
from text_extractor_for_bioeconomic_products_spark.operators.extract import (
    explode_spans,
    extract_turns,
)
from text_extractor_for_bioeconomic_products_spark.plans.pipeline import merge_turns
from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
    read_transcripts,
)

BATCH_ROWS = 8192  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
MICRO_BATCHES = 2  # whole-featurizer batches timed single-threaded

STAGES = ("layout", "html_detect", "html_strip", "clean", "keywords", "lang",
          "relevance", "spans")


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records = []
        self._ids = itertools.count(1)

    def add(self, name, start, end, parent=None, **attrs) -> int:
        sid = next(self._ids)
        self.records.append({
            "id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "run_id": self.run_id, **attrs,
        })
        return sid

    @contextmanager
    def span(self, name, parent=None):
        """Open a span; yields its record, whose ``id`` children name as
        their parent.  Wall clock, so spans line up with the event log's
        epoch times."""
        rec = {"id": next(self._ids), "name": name, "start": time.time(),
               "end": None, "parent": parent, "run_id": self.run_id}
        self.records.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in self.records:
                fh.write(json.dumps(r) + "\n")


def event_log_conf(log_dir: str) -> dict:
    # uncompressed, so the log reads as JSON lines without a zstd decoder;
    # unrolled, so it is one file rather than a directory of parts
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """SQL executions, jobs, stages and tasks of the one application
    logged under ``log_dir``; times in epoch seconds."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*"))
               if not p.endswith(".inprogress")]
    ex, jobs, stages, tasks = {}, {}, {}, []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerSQLExecutionStart":
                ex[e["executionId"]] = {
                    "start": e["time"] / 1e3,
                    "root": e.get("rootExecutionId", e["executionId"]),
                    "desc": e.get("description", ""),
                }
            elif kind == "SparkListenerSQLExecutionEnd":
                ex[e["executionId"]]["end"] = e["time"] / 1e3
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1e3,
                    "sql": int(props["spark.sql.execution.id"])
                    if "spark.sql.execution.id" in props else None,
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si:
                    stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                        "start": si["Submission Time"] / 1e3,
                        "end": si["Completion Time"] / 1e3,
                        "name": si["Stage Name"],
                    }
            elif kind == "SparkListenerTaskEnd":
                ti = e["Task Info"]
                tasks.append({
                    "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                    "start": ti["Launch Time"] / 1e3,
                    "end": ti["Finish Time"] / 1e3,
                })
    return {"sql": ex, "jobs": jobs, "stages": stages, "tasks": tasks}


def attach_event_spans(spans: Spans, log: dict, call: dict) -> list:
    """Add the SQL executions that ran inside ``call`` (a closed span)
    and their job → stage → task tree.  Returns the root executions, in
    start order, as (execution id, start, end, description), and the
    summed busy time of their tasks."""
    roots = sorted(
        ((i, x["start"], x["end"], x["desc"])
        for i, x in log["sql"].items()
        if x["root"] == i and "end" in x
        and x["start"] >= call["start"] - 0.01 and x["end"] <= call["end"] + 0.05),
        key=lambda r: r[1],
    )
    sql_span = {}
    for i, s, e, desc in roots:
        sql_span[i] = spans.add("sql", s, e, call["id"], execution=i, desc=desc)
    stage_of = {}
    for jid, j in sorted(log["jobs"].items()):
        root = log["sql"].get(j["sql"], {}).get("root") if j["sql"] is not None else None
        if root not in sql_span or "end" not in j:
            continue
        jspan = spans.add("job", j["start"], j["end"], sql_span[root], job=jid)
        for key, st in log["stages"].items():
            if key[0] in j["stages"]:
                stage_of[key] = spans.add("stage", st["start"], st["end"], jspan,
                                          stage=key[0], desc=st["name"])
    busy = 0.0
    for t in log["tasks"]:
        if t["stage"] in stage_of:
            spans.add("task", t["start"], t["end"], stage_of[t["stage"]])
            busy += t["end"] - t["start"]
    return roots, busy


def covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def extraction_phases(roots) -> dict:
    """Name ``run_extraction``'s root SQL executions by their order: the
    collects before the first write materialize the extraction; the
    first three writes are turns, spans and lineage; collects after them
    are the totals; the last write is the manifest.  Anything else is
    ``other``."""
    phases = {k: 0.0 for k in ("extract_phase", "turns_write", "spans_write",
                               "lineage", "totals", "manifest", "other")}
    writes = [r for r in roots if r[3].startswith("parquet")]
    names = {}
    if len(writes) >= 4:
        for r, name in zip(writes[:3], ("turns_write", "spans_write", "lineage")):
            names[r[0]] = name
        names[writes[-1][0]] = "manifest"
        first_write = writes[0][1]
        for r in roots:
            if r[0] not in names:
                names[r[0]] = "extract_phase" if r[1] < first_write else (
                    "totals" if r[3].startswith("collect") else "other")
    for r in roots:
        phases[names.get(r[0], "other")] += r[2] - r[1]
    return phases


# ---------------------------------------------------------------------------
# Probes: each times one layer over the workload's input, all cores
# ---------------------------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_udf():
    @arrow_udf("string")
    def identity(s: pa.Array) -> pa.Array:
        return s

    return identity


def _batch_stats_udf(batches, rows, uniques):
    @arrow_udf("string")
    def stats(s: pa.Array) -> pa.Array:
        batches.add(1)
        rows.add(len(s))
        uniques.add(pc.count_distinct(s, mode="all").as_py())
        return s

    return stats


def layer_probes(spark, spans: Spans, parent, input_dir: str) -> dict:
    m = {}
    sc = spark.sparkContext

    def timed(name, fn):
        with spans.span(name, parent) as rec:
            fn()
        return rec["end"] - rec["start"]

    scan = timed("sources.scan", lambda: _noop(read_transcripts(spark, input_dir)))
    m["sources.scan_s"] = scan
    files = [p for p in glob.glob(os.path.join(input_dir, "*.parquet"))]
    m["sources.input_files"] = len(files)
    m["sources.input_bytes"] = sum(os.path.getsize(p) for p in files)

    ident = _identity_udf()
    t = timed("arrow.identity", lambda: _noop(
        read_transcripts(spark, input_dir).select(ident("text"))))
    m["arrow.identity_s"] = max(t - scan, 0.0)
    acc = [sc.accumulator(0) for _ in range(3)]
    stats = _batch_stats_udf(*acc)
    _noop(read_transcripts(spark, input_dir).select(stats("text")))
    m["arrow.batches"] = acc[0].value
    m["udfs.batch_unique_frac"] = acc[2].value / max(acc[1].value, 1)

    turns = extract_turns(read_transcripts(spark, input_dir)).persist()
    try:
        m["udfs.extract_s"] = timed("udfs.extract", lambda: _noop(turns))
        m["extract.explode_spans_s"] = timed(
            "extract.explode_spans", lambda: _noop(explode_spans(turns)))
        agg = turns.agg(F.count("*").alias("n"), F.sum("n_spans").alias("s")).collect()[0]
        m["udfs.spans_per_turn"] = (agg["s"] or 0) / max(agg["n"], 1)
    finally:
        turns.unpersist()
    return m


# ---------------------------------------------------------------------------
# Single-threaded featurizer microbench, in a fresh interpreter so its
# module-level caches start empty, as in a new Python worker:
#     python3 tracing.py <batches.json>
# ---------------------------------------------------------------------------

def _stage_times(texts) -> dict:
    """Self time of each featurizer stage, called in the featurizer's
    order on the batch's distinct texts."""
    out = {}

    def timed(stage, fn, *args, **kwargs):
        t0 = time.perf_counter()
        res = fn(*args, **kwargs)
        out[stage] = time.perf_counter() - t0
        return res

    def strip(text, is_html):
        stripped = text.copy()
        if bool(is_html.any()):
            stripped.loc[is_html] = text.loc[is_html].map(rules.strip_boilerplate)
        return stripped

    def keywords(clean):
        lower = clean.str.lower()
        return lower, rules.keyword_counts_frame(lower)

    text = pd.Series(list(dict.fromkeys(texts)), dtype="object")
    text, _pages = timed("layout", rules.layout_series, text)
    is_html = timed("html_detect", text.map, rules.looks_like_html)
    stripped = timed("html_strip", strip, text, is_html)
    clean = timed("clean", rules.clean_series_rich, stripped)
    lower, kw = timed("keywords", keywords, clean)
    timed("lang", rules.detect_language_frame, clean, lower=lower, kw_counts=kw)
    timed("relevance", rules.relevance_series, clean, lower=lower, kw_counts=kw)
    timed("spans", tag_spans_series, clean, lower=lower)
    out["html_rows_frac"] = float(is_html.mean()) if len(is_html) else 0.0
    return out


def _microbench(batches) -> dict:
    stages = _stage_times(batches[0])
    timed = batches[1:1 + MICRO_BATCHES] or batches[:1]
    # the raw function behind the pandas_udf: one Arrow batch, one thread
    func = extract_turn_features.func
    rows, secs = 0, 0.0
    for b in timed:
        s = pd.Series(b, dtype="object")
        t = time.perf_counter()
        func(s)
        secs += time.perf_counter() - t
        rows += len(b)
    return {"stages": stages, "rows_per_s": rows / secs}


def microbench(spark, input_dir: str, work: str) -> dict:
    """Runs ``_microbench`` in a fresh interpreter on the first batches of
    the input, in scan order."""
    texts = [r["text"] for r in read_transcripts(spark, input_dir).select("text").collect()]
    batches = [texts[i:i + BATCH_ROWS] for i in range(0, len(texts), BATCH_ROWS)]
    path = os.path.join(work, "microbench.json")
    with open(path, "w") as fh:
        json.dump(batches[:1 + MICRO_BATCHES], fh)
    here = os.path.dirname(os.path.abspath(__file__))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([os.path.dirname(here), here])}
    out = subprocess.run([sys.executable, os.path.abspath(__file__), path],
                         env=env, check=True, capture_output=True, text=True)
    res = json.loads(out.stdout)
    st = res["stages"]
    total = sum(st[s] for s in STAGES)
    m = {"udfs.batch_rows_per_s": res["rows_per_s"],
         "rules.html_rows_frac": st["html_rows_frac"]}
    for s in STAGES:
        m[f"rules.{s}_s"] = st[s]
        m[f"rules.{s}_share"] = st[s] / total
    return m


# ---------------------------------------------------------------------------
# Output layout of a finished call
# ---------------------------------------------------------------------------

def _parts(path: str) -> list:
    return [p for p in glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
            if not p.endswith(".crc")]


def layout_metrics(spark, out_dir: str) -> dict:
    m = {}
    sizes = []
    for ds, sub in (("turns", "turns_extracted"), ("spans", "product_spans"),
                    ("lineage", "lineage"), ("manifest", "manifest")):
        parts = _parts(os.path.join(out_dir, sub))
        m[f"pipeline.files_written.{ds}"] = len(parts)
        b = [os.path.getsize(p) for p in parts]
        m[f"pipeline.bytes_written.{ds}"] = sum(b)
        if ds in ("turns", "spans"):
            sizes += b
    m["pipeline.mean_file_kb"] = statistics.mean(sizes) / 1024 if sizes else 0.0
    per_bucket = {}
    for p in _parts(os.path.join(out_dir, "turns_extracted")):
        b = os.path.basename(os.path.dirname(p))
        per_bucket[b] = per_bucket.get(b, 0) + 1
    m["pipeline.files_per_bucket_max"] = max(per_bucket.values(), default=0)
    rows = [r["n_turns"] for r in spark.read.parquet(os.path.join(out_dir, "lineage"))
            .select("n_turns").collect()]
    m["pipeline.bucket_rows_max_over_median"] = (
        max(rows) / statistics.median(rows) if rows else 0.0)
    return m


def merge_probe(spark, spans: Spans, parent, wl, call: int) -> tuple:
    """Keyed upsert of an edited delta (``workloads.upsert_delta`` of
    call ``call``'s input) into that call's ``turns_extracted``: the delta
    is extracted first, then ``merge_turns`` is timed.  Returns (metrics,
    failure reasons)."""
    import checks
    import workloads

    turns_dir = os.path.join(wl.out_dir(), "turns_extracted")
    touched = workloads.touched_buckets(wl.seed)
    before = checks.file_digests(turns_dir, touched)
    base_rows = checks.read_table(turns_dir, checks.KEYS).num_rows
    delta_in = os.path.join(wl.work, "delta_input")
    delta_dir = os.path.join(wl.work, "delta_turns")
    workloads.write_input(
        workloads.upsert_delta(read_transcripts(spark, wl.input_dir(call)), wl.seed),
        delta_in)
    delta = read_transcripts(spark, delta_in)
    inserts = delta.filter(F.col("turn_idx") >= workloads.INSERT_OFFSET).count()
    extract_turns(delta).drop("spans").write.parquet(delta_dir)

    def bucket_parts():
        return [_parts(os.path.join(turns_dir, f"bucket={b}")) for b in touched]

    read = sum(os.path.getsize(p) for ps in bucket_parts() for p in ps)
    with spans.span("pipeline.merge", parent) as rec:
        result = merge_turns(spark, turns_dir, spark.read.parquet(delta_dir),
                             workloads.N_BUCKETS)
    parts = bucket_parts()
    written = sum(os.path.getsize(p) for ps in parts for p in ps)

    reasons = []
    d = checks.merge_digest(turns_dir, delta_dir)
    if sorted(result["buckets_rewritten"]) != touched:
        reasons.append("merge rewrote other buckets than the delta's")
    if checks.file_digests(turns_dir, touched) != before:
        reasons.append("merge changed a bucket the delta does not touch")
    if d["rows"] != base_rows + inserts:
        reasons.append(f"merge left {d['rows']} rows for {base_rows + inserts} expected")
    if d["duplicate_keys"]:
        reasons.append(f"merge left {d['duplicate_keys']} duplicate keys")
    if not d["delta_applied"]:
        reasons.append("rows under the delta's keys differ from the delta")
    return {
        "pipeline.merge_s": rec["end"] - rec["start"],
        "pipeline.merge_buckets_rewritten": len(result["buckets_rewritten"]),
        "pipeline.merge_files_written": sum(len(ps) for ps in parts),
        "pipeline.merge_bytes_read": read,
        "pipeline.merge_bytes_written": written,
        # bytes rewritten per byte of extracted delta
        "pipeline.merge_write_amp": written / workloads.dir_stats(delta_dir)[1],
    }, reasons


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        print(json.dumps(_microbench(json.load(fh))))
