#!/usr/bin/env python3
"""Whole-job extraction benchmark.

    python3 perfbench/run.py --workload template --seed 1 --seconds 12 --trace 0

Times the job users run, ``plans.pipeline.run_extraction`` from scan to
manifest, on ``local[nproc]`` from this one driver process.  It calls
only the package's public functions and builds its inputs from
``--seed`` (see workloads.py and README.md).

A run:

1. fits Spark to the host: ``local[nproc]``, shuffle partitions = nproc,
   driver memory a quarter of RAM through ``SPARK_GRAFT_DRIVER_MEM``;
2. sets up once: a cold JVM launch, the session start and the
   Python-worker warm-up pass, as every run of the job pays them
   (``setup_s``);
3. writes one corpus per call, makes one warm-up call that is checked
   but not timed, then a fixed number of timed calls, and checks every
   call's output (checks.py).  ``job_s`` is the median of the timed
   calls;
4. with ``--trace 1``, sets up once, makes the warm-up call and one
   untimed call, restarts the session with Spark's event log on, makes
   one traced call, runs the per-layer probes (tracing.py, including a
   ``merge_turns`` upsert) and prints the per-layer metrics instead of
   the end-to-end ones.

``--seconds`` fixes the number of timed calls at one per ``CALL_S``
seconds, never fewer than ``MIN_CALLS``.  The count does not depend on
how fast the calls are: the JVM keeps compiling hot code over a run's
first calls, so a run that made more calls when they were faster would
average in later, warmer ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``
(checked calls), ``failed`` (calls whose output failed a check) and
``metrics``.  The line before it records the host, the workload's shape
and the output hashes.  Spans of a traced run are written to
``.perfbench/traces/``.  All scratch data lives under ``.perfbench/``
in the checkout and is removed at exit.  Exit code 1 means an output
check failed, 2 that the package could not be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
MIN_CALLS = 2
CALL_S = 6  # nominal seconds of one timed call on a 4-core host
sys.path.insert(0, ROOT)


def host_fit() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_mb = next(int(l.split()[1]) // 1024 for l in fh if l.startswith("MemTotal:"))
    driver_mb = min(max(ram_mb // 4, 1024), 8192)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    return {"cpus": cpus, "ram_mb": ram_mb, "driver_mem_mb": driver_mb}


# ---------------------------------------------------------------------------
# Checked calls
# ---------------------------------------------------------------------------

class Checker:
    """Checks each call's output and counts the turns that failed: the
    job's ``parse_error`` rows, plus every turn of a call that fails a
    check.  Each call's content hash must equal the one earlier runs of
    the same workload, seed and call index left under ``hash_dir``.
    After an intended change to the job's output, delete
    ``.perfbench/hashes``."""

    def __init__(self, wl, hash_dir: str):
        self.wl = wl
        self.hash_dir = hash_dir
        self.hashes = []
        self.oracle = []

    def __call__(self, call: int, result) -> tuple:
        """(failed turns, failure reasons) of call ``call``."""
        import checks

        wl, reasons = self.wl, []
        d = checks.extraction_digest(wl.out_dir())
        if result.n_turns != wl.n_turns:
            reasons.append(f"job reported {result.n_turns} turns, input has {wl.n_turns}")
        if d["rows"] != wl.n_turns:
            reasons.append(f"{d['rows']} output rows for {wl.n_turns} input turns")
        self.hashes.append(d["hash"])
        path = os.path.join(self.hash_dir, f"{wl.name}-s{wl.seed}-c{call}")
        if os.path.exists(path):
            with open(path) as fh:
                if fh.read() != d["hash"]:
                    reasons.append(f"call {call}: output hash differs from an earlier run")
        else:
            os.makedirs(self.hash_dir, exist_ok=True)
            with open(path, "w") as fh:
                fh.write(d["hash"])
        if d["duplicate_keys"]:
            reasons.append(f"call {call}: {d['duplicate_keys']} duplicate keys")
        oracle = checks.check_extraction(wl, call)
        self.oracle.append(oracle)
        if oracle["oracle_bad"]:
            reasons.append(f"call {call}: {oracle['oracle_bad']} sampled turns differ "
                           "from the oracle")
        return (wl.n_turns if reasons else d["parse_errors"]), reasons


def checked_call(spark, wl, call: int, check, spans, parent) -> dict:
    wl.reset()
    with spans.span(f"call.{call}", parent):
        dt, result = wl.call(spark, call)
    files, nbytes = wl.written()
    with spans.span("check", parent):
        errors, reasons = check(call, result)
    return {"s": dt, "files": files, "bytes": nbytes, "errors": errors, "reasons": reasons}


# ---------------------------------------------------------------------------
# The traced run
# ---------------------------------------------------------------------------

def traced(spark, wl, call, check, conf, work, host, spans, root, untraced_s) -> tuple:
    """Per-layer metrics: call ``call``, traced in a session that logs
    Spark's events, then the layer probes.  Returns (metrics, the traced
    call's record)."""
    from text_extractor_for_bioeconomic_products_spark.plans.pipeline import (
        run_extraction,
    )
    from text_extractor_for_bioeconomic_products_spark.sources.transcripts import (
        read_transcripts,
    )

    import lifecycle
    import tracing
    import workloads

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = lifecycle.restart_session(spark, {**conf, **tracing.event_log_conf(log_dir)})
    lifecycle.warm_up(spark)
    wl.reset()
    with lifecycle.RssSampler() as rss, spans.span("trace.call", root) as span:
        _dt, result = wl.call(spark, call)
    call_s = span["end"] - span["start"]
    errors, reasons = check(call, result)
    rec = {"s": call_s, "errors": errors, "reasons": reasons}
    m = {"trace.overhead_s": call_s - untraced_s, "mem.peak_rss_mb": rss.peak}

    input_dir = wl.input_dir(call)
    with spans.span("probes", root) as probes:
        m.update(tracing.layout_metrics(spark, wl.out_dir()))
        with spans.span("pipeline.resume_probe", probes["id"]) as rp:
            rerun = run_extraction(spark, read_transcripts(spark, input_dir),
                                   wl.out_dir(), run_id="bench-resume",
                                   n_buckets=workloads.N_BUCKETS)
        m["pipeline.resume_probe_s"] = rp["end"] - rp["start"]
        if rerun.buckets_processed:
            reasons.append(f"resume rerun reprocessed {rerun.buckets_processed} buckets")
        merge, merge_reasons = tracing.merge_probe(spark, spans, probes["id"], wl, call)
        m.update(merge)
        reasons += merge_reasons
        m.update(tracing.layer_probes(spark, spans, probes["id"], input_dir))
        with spans.span("rules.microbench", probes["id"]):
            m.update(tracing.microbench(spark, input_dir, work))

    spark.stop()  # closes the event log
    roots, busy = tracing.attach_event_spans(
        spans, tracing.read_event_log(log_dir), span)
    for k, v in tracing.extraction_phases(roots).items():
        m[f"pipeline.{k}_s"] = v
    m["pipeline.call_s"] = call_s
    m["pipeline.driver_gap_s"] = call_s - tracing.covered(
        [(r[1], r[2]) for r in roots], span["start"], span["end"])
    m["pipeline.task_busy_s"] = busy
    m["pipeline.core_util"] = busy / (call_s * host["cpus"])
    return m, rec


# ---------------------------------------------------------------------------

def declared_units(trace: bool) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(args, host: dict, work: str) -> tuple:
    import lifecycle
    import tracing
    import workloads

    spans = tracing.Spans(f"{args.workload}-s{args.seed}-{os.getpid()}")
    conf = lifecycle.session_conf(work)
    timed = 1 if args.trace else max(MIN_CALLS, math.ceil(args.seconds / CALL_S))
    with spans.span("run") as root:
        with spans.span("setup", root["id"]):
            spark, (start_s, warmup_s) = lifecycle.set_up(conf)
        wl = workloads.Workload(args.workload, os.path.join(work, "data"), args.seed)
        with spans.span("prepare", root["id"]):
            shape = wl.prepare(spark, 1 + timed + args.trace)
        check = Checker(wl, os.path.join(STATE, "hashes"))
        # call 0 warms the job's code paths; it is checked, not timed
        calls = [checked_call(spark, wl, c, check, spans, root["id"])
                 for c in range(1 + timed)]
        shape["buckets_touched"] = wl.buckets_written()
        if args.trace:
            m, rec = traced(spark, wl, len(calls), check, conf, work, host, spans,
                            root["id"], calls[-1]["s"])
            calls.append(rec)

    if args.trace:
        m.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "workload.turns": wl.n_turns,
            "workload.unique_frac": shape["unique_frac"],
            "workload.buckets_touched": shape["buckets_touched"],
            "host.cpus": host["cpus"],
            "host.ram_mb": host["ram_mb"],
        })
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        spans.write(os.path.join(traces, spans.run_id + ".jsonl"))
    else:
        measured = calls[1:]
        job_s = statistics.median(c["s"] for c in measured)
        m = {
            "turns_per_s": wl.n_turns / job_s,
            "job_s": job_s,
            "setup_s": start_s + warmup_s,
            "output_files": statistics.median(c["files"] for c in measured),
            "output_bytes": statistics.median(c["bytes"] for c in measured),
            "ok_frac": 1 - sum(c["errors"] for c in calls) / (len(calls) * wl.n_turns),
        }

    units = declared_units(bool(args.trace))
    if set(units) != set(m):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(m))}")
    failed = [c for c in calls if c["reasons"]]
    info = {
        "workload": args.workload, "seed": args.seed, "host": host,
        **shape,
        "output_hashes": check.hashes, "oracle": check.oracle,
        "call_s": [c["s"] for c in calls],
        "setup_s": [start_s, warmup_s],
        "failures": [c["reasons"] for c in failed],
    }
    result = {
        "correct": not failed,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(m.items())},
    }
    return info, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("template", "unique"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import checks  # noqa: F401  (each imports the package)
        import tracing  # noqa: F401
        import workloads  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the extraction package: {ex}", file=sys.stderr)
        return 2
    import lifecycle

    host = host_fit()
    work = os.path.join(STATE, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts keeps its temp files in the work
    # directory, and writes no perf counters to /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        info, result = run(args, host, work)
    finally:
        lifecycle.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
