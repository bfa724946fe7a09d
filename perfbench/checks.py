"""Output checks.  A call whose output fails any of them counts as failed,
and the run reports ``correct: false``.

* The output has exactly one row per input turn and no duplicate keys.
* On a seeded sample of conversations, every turn and every span equals
  ``rules.oracle_extract_turns`` / ``rules.oracle_extract_spans``.
* The content hash of each call's output is the same in every run of the
  same workload, seed and call index.
* After the traced run's merge: every bucket the merge did not rewrite
  is byte-identical to before, the table gained exactly the inserted
  keys, and the rows under the delta's keys are exactly the delta.

The checks read the job's parquet output with pyarrow in the driver
process, so they start no Spark job: the data is small, and Spark's
per-job cost would take a large share of a run.
"""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from text_extractor_for_bioeconomic_products_spark import rules
from text_extractor_for_bioeconomic_products_spark.operators.extract import (
    TURNS_EXTRACTED_COLS,
)

from workloads import N_CONVS, _seed_hash

KEYS = ["conv_id", "turn_idx"]
SPAN_COLS = KEYS + rules.SPAN_FIELDS
ORACLE_CONVS = 4
_FLOATS = {"lang_conf", "relevance", "confianca"}


def read_table(path: str, columns=None, convs=None) -> pa.Table:
    """A parquet directory as Spark writes it (``bucket=`` partitions,
    ``_SUCCESS`` and ``.crc`` files) as one Arrow table; only the rows of
    ``convs`` if given."""
    filt = pc.field("conv_id").isin(convs) if convs is not None else None
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns, filter=filt)


def _key_order(keys) -> list:
    return [(k, "ascending") for k in keys]


def content_hash(table: pa.Table, cols, keys) -> str:
    """sha256 of the listed columns in key order, as an Arrow stream."""
    t = table.select(cols).sort_by(_key_order(keys)).combine_chunks()
    t = t.replace_schema_metadata(None)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as writer:
        writer.write_table(t)
    return hashlib.sha256(sink.getvalue()).hexdigest()[:32]


def table_digest(table: pa.Table) -> dict:
    """Rows, duplicate ``(conv_id, turn_idx)`` keys, parse-error rows and
    content hash of a ``turns_extracted`` table."""
    keys = table.select(KEYS).group_by(KEYS).aggregate([]).num_rows
    return {
        "rows": table.num_rows,
        "duplicate_keys": table.num_rows - keys,
        "parse_errors": pc.sum(table["parse_error"].cast(pa.int64())).as_py() or 0,
        "hash": content_hash(table, TURNS_EXTRACTED_COLS, KEYS),
    }


def extraction_digest(out_dir: str) -> dict:
    d = table_digest(read_table(os.path.join(out_dir, "turns_extracted")))
    spans = read_table(os.path.join(out_dir, "product_spans"), SPAN_COLS)
    d["hash"] += "/" + content_hash(spans, SPAN_COLS, KEYS + ["span_seq"])
    return d


def sample_convs(key: str, n_convs: int) -> list:
    """Conversations for the oracle check, chosen by hashing ``key``;
    never the mega one."""
    picks = sorted(range(1, n_convs), key=lambda i: _seed_hash(key, "oracle", i))
    return sorted(f"conv-{i:06d}" for i in picks[:ORACLE_CONVS])


def _same(a, b, col: str) -> bool:
    if col in _FLOATS:
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if hasattr(a, "tolist"):
        a = a.tolist()
    if hasattr(b, "tolist"):
        b = b.tolist()
    if a is None or b is None:
        return a is None and b is None
    return a == b


def _bad_keys(got: pd.DataFrame, exp: pd.DataFrame, cols, key) -> set:
    """Keys whose rows differ in any column, or exist on one side only."""
    g = {k: grp for k, grp in got.groupby(key, sort=False)}
    e = {k: grp for k, grp in exp.groupby(key, sort=False)}
    bad = set(g) ^ set(e)
    for k in set(g) & set(e):
        a, b = g[k], e[k]
        if len(a) != len(b) or any(
            not _same(x, y, c)
            for c in cols
            for x, y in zip(a[c].tolist(), b[c].tolist())
        ):
            bad.add(k)
    return bad


def _frame(table: pa.Table, keys) -> pd.DataFrame:
    return table.to_pandas().sort_values(keys).reset_index(drop=True)


def check_extraction(wl, call: int) -> dict:
    """Oracle check of call ``call``'s ``run_extraction`` output."""
    convs = sample_convs(f"{wl.seed}:{call}", N_CONVS)
    pdf = _frame(read_table(wl.input_dir(call), KEYS + ["text"], convs), KEYS)
    exp = rules.oracle_extract_turns(pdf)
    cols = [c for c in exp.columns if c not in KEYS]
    got = _frame(read_table(os.path.join(wl.out_dir(), "turns_extracted"),
                            KEYS + cols, convs), KEYS)
    bad = _bad_keys(got, exp, cols, KEYS)
    exp = rules.oracle_extract_spans(pdf)
    got = _frame(read_table(os.path.join(wl.out_dir(), "product_spans"), SPAN_COLS, convs),
                 KEYS + ["span_seq"])
    bad |= _bad_keys(got, exp, rules.SPAN_FIELDS, KEYS)
    return {"oracle_turns": len(pdf), "oracle_bad": len(bad)}


def merge_digest(turns_dir: str, delta_dir: str) -> dict:
    """Digest of a merged table, and whether its rows under the delta's
    keys are exactly the delta."""
    merged = read_table(turns_dir, TURNS_EXTRACTED_COLS)
    d = table_digest(merged)
    delta = read_table(delta_dir, TURNS_EXTRACTED_COLS).sort_by(_key_order(KEYS))
    under = (merged.join(delta.select(KEYS), KEYS, join_type="inner")
             .select(TURNS_EXTRACTED_COLS).sort_by(_key_order(KEYS)))
    d["delta_applied"] = under.num_rows == delta.num_rows and all(
        under[c].combine_chunks().equals(delta[c].combine_chunks())
        for c in TURNS_EXTRACTED_COLS)
    return d


def file_digests(root: str, skip_buckets=()) -> dict:
    """sha256 of every file under ``root``, by relative path, leaving out
    the ``bucket=`` directories in ``skip_buckets``."""
    skip = {f"bucket={b}" for b in skip_buckets}
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out
