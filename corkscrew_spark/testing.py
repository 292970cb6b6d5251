"""Differential-test harness: Spark result vs DuckDB oracle.

Mirrors the driver's correctness gate: run the Spark query and the oracle
SQL on the same parquet tables, sort columns by name and rows by value,
and require equality. Used by tests/ so every operator is verified locally
before the driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import urllib.parse
import uuid

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from corkscrew_spark.catalog import TPCH_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        # Dates/timestamps and decimals → canonical strings so engine-side
        # representation differences don't fail equality. List-like cells
        # are converted to Python lists first: Spark without Arrow yields
        # lists while DuckDB yields numpy arrays, and their str() forms
        # differ ("[a, b]" vs "[a b]").
        if out[c].dtype == object:
            out[c] = out[c].map(
                lambda v: str(list(v))
                if hasattr(v, "__len__") and not isinstance(v, (str, bytes))
                else str(v)
            )
        elif "datetime" in str(out[c].dtype):
            out[c] = out[c].astype(str)
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch spark={list(a.columns)} oracle={list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count spark={len(a)} oracle={len(b)}"
    # The driver's value-hash is dtype-sensitive: an oracle column that
    # comes back float64 (e.g. DuckDB promoting SUM(BIGINT) to HUGEINT)
    # hash-mismatches an int64 Spark column even when every value is
    # equal. Catch the int-vs-float family split locally.
    for col in a.columns:
        ka, kb = a[col].dtype.kind, b[col].dtype.kind
        if ka in "iuf" and kb in "iuf" and (ka == "f") != (kb == "f"):
            raise AssertionError(
                f"{name}: dtype family mismatch on {col!r}: spark={a[col].dtype} "
                f"oracle={b[col].dtype} — cast the oracle (HUGEINT→BIGINT?) so "
                f"the driver's value-hash agrees"
            )
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-9,
                                  obj=name or "result")


def scanned_files(df: DataFrame) -> list[str]:
    """The data files ``df``'s scans open, spelled as ``inputFiles()``
    spells them. ``inputFiles()`` alone lists every file of each table
    read: a pruned read (``skipping._pruned_read``) is the table's plain
    read filtered on ``_metadata.file_path``, which Spark applies while
    it lists, before any file opens. So a file counts when the physical
    plan names it, or when some scan of its table root outputs no
    ``file_path`` (a plain read, which opens every file)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    roots: dict[str, bool] = {}  # scanned root -> read plain somewhere
    for node in plan.split("\n\n"):  # one block per formatted node
        loc = re.search(r"^Location: [^\[]*\[(.*)\]$", node, re.M)
        if loc is None:
            continue
        out = re.search(r"^Output \[\d+\]: \[(.*)\]$", node, re.M)
        plain = out is None or "file_path#" not in out.group(1)
        for root in loc.group(1).split(", "):
            roots[root] = roots.get(root, False) or plain
    got = []
    for uri in df.inputFiles():
        spelled = uri.replace("file:///", "file:/", 1)
        disk = urllib.parse.unquote(spelled)
        if any(disk.startswith(r.rstrip("/") + "/") and plain
               for r, plain in roots.items()) or re.search(
                re.escape(spelled) + r"(?=[,)\s]|$)", plan):
            got.append(uri)
    return got


@contextlib.contextmanager
def count_jobs(spark: SparkSession):
    """Count the Spark jobs the block runs, under one fresh job group:
    ``with count_jobs(spark) as jobs: ...`` then ``jobs()``. Public API
    only (``setJobGroup`` and ``statusTracker``); jobs the block starts
    from other threads are not counted."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def compare_to_oracle(spark: SparkSession, name: str, sf_dir: str) -> int:
    """Run query `name` in Spark and its oracle in DuckDB; assert equal.

    Returns the row count so tests can assert non-triviality.
    """
    from corkscrew_spark.plans.queries import ORACLE, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    con = duckdb_connection(sf_dir)
    try:
        odf = con.execute(ORACLE[name]).fetchdf()
    finally:
        con.close()
    compare_frames(sdf, odf, name)
    return len(sdf)
