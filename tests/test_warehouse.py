"""Upsert-by-key and retention sinks over plain parquet."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from corkscrew_spark import warehouse


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, val string, scanned_at timestamp")


def test_merge_upsert_insert_then_update(spark, tmp_path):
    path = str(tmp_path / "resources")
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)
    n = warehouse.merge_upsert(spark, path, _df(spark, [("a", "v1", t0), ("b", "v1", t0)]), ["id"])
    assert n == 2
    # update a, insert c; b untouched
    n = warehouse.merge_upsert(spark, path, _df(spark, [("a", "v2", t1), ("c", "v1", t1)]), ["id"])
    assert n == 3
    got = {r.id: r.val for r in spark.read.parquet(path).collect()}
    assert got == {"a": "v2", "b": "v1", "c": "v1"}


def test_merge_upsert_tie_prefers_update(spark, tmp_path):
    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1)
    warehouse.merge_upsert(spark, path, _df(spark, [("a", "old", t0)]), ["id"])
    warehouse.merge_upsert(spark, path, _df(spark, [("a", "new", t0)]), ["id"])
    assert spark.read.parquet(path).collect()[0].val == "new"


def _pdf(spark, rows):
    return spark.createDataFrame(
        rows, "id string, region string, val string, scanned_at timestamp")


def _partition_files(path):
    """{relpath: (size, mtime_ns)} for every parquet file under path."""
    import os
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


class TestPartitionScopedMerge:
    def test_first_merge_lays_out_hive_partitions(self, spark, tmp_path):
        import os
        path = str(tmp_path / "pt")
        t0 = dt.datetime(2024, 1, 1)
        n = warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v1", t0), ("b", "us", "v1", t0)]),
            ["id"], partition_cols=["region"])
        assert n == 2
        assert sorted(e for e in os.listdir(path) if e.startswith("region=")) \
            == ["region=eu", "region=us"]

    def test_merge_touches_only_updated_partitions(self, spark, tmp_path):
        """The scale contract: a merge into one partition must leave every
        other partition's data files byte-for-byte untouched (same paths,
        sizes, and mtimes) — no full-table rewrite."""
        path = str(tmp_path / "pt2")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v1", t0), ("b", "us", "v1", t0),
                         ("c", "ap", "v1", t0)]),
            ["id"], partition_cols=["region"])
        before = _partition_files(path)
        untouched_before = {k: v for k, v in before.items()
                            if not k.startswith("region=eu")}
        assert untouched_before  # us + ap files exist

        n = warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v2", t1), ("e", "eu", "v1", t1)]),
            ["id"], partition_cols=["region"])
        assert n == 4
        after = _partition_files(path)
        untouched_after = {k: v for k, v in after.items()
                           if not k.startswith("region=eu")}
        # identical file sets AND identical (size, mtime) per file
        assert untouched_after == untouched_before
        got = {r.id: (r.region, r.val)
               for r in spark.read.parquet(path).collect()}
        assert got == {"a": ("eu", "v2"), "b": ("us", "v1"),
                       "c": ("ap", "v1"), "e": ("eu", "v1")}

    def test_cdc_scoped_merge_and_partition_drop(self, spark, tmp_path):
        import os
        path = str(tmp_path / "pt3")
        base = spark.createDataFrame(
            [("a", "eu", 1, 10), ("b", "us", 1, 20)],
            "id string, region string, scanned_at long, v long")
        warehouse.merge_upsert(spark, path, base, keys=["id"],
                               partition_cols=["region"])
        before_us = {k: v for k, v in _partition_files(path).items()
                     if k.startswith("region=us")}
        batch = spark.createDataFrame(
            [("a", "eu", 2, None, "DELETE")],
            "id string, region string, scanned_at long, v long, op string")
        n = warehouse.merge_upsert_cdc(spark, path, batch, keys=["id"],
                                       partition_cols=["region"])
        assert n == 1
        # the emptied partition directory is gone; us is byte-identical
        assert not os.path.exists(os.path.join(path, "region=eu"))
        after_us = {k: v for k, v in _partition_files(path).items()
                    if k.startswith("region=us")}
        assert after_us == before_us
        assert [r.id for r in spark.read.parquet(path).collect()] == ["b"]

    def test_scoped_read_is_partition_pruned(self, spark, tmp_path):
        """The scoped merge's existing-side read must compile to pure
        partition pruning (PartitionFilters on the hive layout), so
        untouched partitions are never listed or scanned — the plan-level
        proof behind the mtime assertion above."""
        from corkscrew_spark.warehouse import (_partition_predicate,
                                               _touched_partitions)
        path = str(tmp_path / "pt5")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v1", t0), ("b", "us", "v1", t0),
                         ("c", "ap", "v1", t0)]),
            ["id"], partition_cols=["region"])
        updates = _pdf(spark, [("a", "eu", "v2", t0)])
        touched = _touched_partitions(updates, ["region"])
        assert touched == [("eu",)]
        pruned = spark.read.parquet(path).filter(
            _partition_predicate(["region"], touched))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert pruned.count() == 1

    def test_hive_escaping_matches_spark(self, spark, tmp_path):
        """_hive_escape must reproduce Spark's partition-directory
        escaping byte-for-byte, or the swap would silently miss dirs.
        Covers the escaped charset (/ = % : control chars) and a space
        (NOT escaped by Spark)."""
        import os
        from corkscrew_spark.warehouse import _hive_escape
        vals = ["us:east 1", "a/b", "pct%20", "eq=x", "plain"]
        df = spark.createDataFrame([(v, 1) for v in vals],
                                   "region string, v int")
        path = str(tmp_path / "esc")
        df.write.partitionBy("region").parquet(path)
        dirs = {e for e in os.listdir(path) if e.startswith("region=")}
        for v in vals:
            assert f"region={_hive_escape(v)}" in dirs, v

        # end-to-end: scoped merge into an escaped partition swaps the
        # right directory and leaves the others untouched
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        tbl = str(tmp_path / "esc2")
        warehouse.merge_upsert(
            spark, tbl,
            _pdf(spark, [("a", "us:east 1", "v1", t0),
                         ("b", "a/b", "v1", t0)]),
            ["id"], partition_cols=["region"])
        before = {k: v for k, v in _partition_files(tbl).items()
                  if k.startswith("region=a%2Fb")}
        warehouse.merge_upsert(
            spark, tbl, _pdf(spark, [("a", "us:east 1", "v2", t1)]),
            ["id"], partition_cols=["region"])
        after = {k: v for k, v in _partition_files(tbl).items()
                 if k.startswith("region=a%2Fb")}
        assert after == before
        got = {r.id: r.val for r in spark.read.parquet(tbl).collect()}
        assert got == {"a": "v2", "b": "v1"}

    def test_empty_string_partition_value(self, spark, tmp_path):
        """Spark maps BOTH null and '' partition values to the
        __HIVE_DEFAULT_PARTITION__ directory; the scoped swap must
        follow (regression: '' produced 'region=' which matched no
        staging dir, silently dropping the batch's rows)."""
        import os
        path = str(tmp_path / "pt6")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v1", t0), ("b", "", "v1", t0)]),
            ["id"], partition_cols=["region"])
        assert os.path.isdir(
            os.path.join(path, "region=__HIVE_DEFAULT_PARTITION__"))
        # scoped merge into the default partition ('' and None collapse)
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("b", "", "v2", t1), ("c", None, "v1", t1)]),
            ["id"], partition_cols=["region"])
        got = {r.id: r.val for r in spark.read.parquet(path).collect()}
        assert got == {"a": "v1", "b": "v2", "c": "v1"}

    def test_update_with_unknown_column_raises(self, spark, tmp_path):
        """Schema drift surfaces instead of silently dropping the new
        column on every merge."""
        import pytest as _pytest
        path = str(tmp_path / "pt7")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(spark, path,
                               _df(spark, [("a", "v1", t0)]), ["id"])
        widened = spark.createDataFrame(
            [("a", "v2", t0, "new")],
            "id string, val string, scanned_at timestamp, extra string")
        with _pytest.raises(ValueError, match="absent from the table"):
            warehouse.merge_upsert(spark, path, widened, ["id"])

    def test_new_partition_value_inserted(self, spark, tmp_path):
        import os
        path = str(tmp_path / "pt4")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(
            spark, path, _pdf(spark, [("a", "eu", "v1", t0)]),
            ["id"], partition_cols=["region"])
        warehouse.merge_upsert(
            spark, path, _pdf(spark, [("z", "sa", "v1", t1)]),
            ["id"], partition_cols=["region"])
        assert os.path.isdir(os.path.join(path, "region=sa"))
        got = {r.id: r.region for r in spark.read.parquet(path).collect()}
        assert got == {"a": "eu", "z": "sa"}


def test_retention_delete(spark, tmp_path):
    path = str(tmp_path / "events")
    rows = [(f"e{i}", "x", dt.datetime(2024, 1, 1 + i)) for i in range(10)]
    warehouse.merge_upsert(spark, path, _df(spark, rows), ["id"])
    kept = warehouse.retention_delete(spark, path, "scanned_at", "2024-01-06")
    assert kept == 5
    assert spark.read.parquet(path).count() == 5


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with zero
    Exchange operators in the plan — the co-location property."""
    import uuid

    from pyspark.sql import functions as F

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bk_a_{suffix}", f"bk_b_{suffix}"
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        warehouse.write_bucketed(a, ta, ["k"], buckets=8, sort_cols=["k"])
        warehouse.write_bucketed(b, tb, ["k"], buckets=8, sort_cols=["k"])
        # force the sort-merge path (at real scale neither side broadcasts;
        # here the planner would broadcast the tiny table and skip buckets)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    # skewed left: 90% of rows share key 0
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
    plain = warehouse.salted_join(left, right, "k", salts=8)
    expect = left.join(right, "k")
    assert plain.count() == expect.count()
    assert sorted(plain.columns) == sorted(expect.columns)


def test_partitioned_write_prunes(spark, tmp_path):
    """A filter on the partition column must show up as PartitionFilters
    and scan only the matching directories."""
    from corkscrew_spark.ingest import synthetic

    res = synthetic.resources(spark, 300)
    path = str(tmp_path / "part")
    warehouse.write_partitioned(res, path, ["provider", "region"],
                                max_records_per_file=10_000)
    back = spark.read.parquet(path)
    pruned = back.filter(
        (F.col("provider") == "aws") & (F.col("region") == "us-east-1"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(provider" in plan
    # pruned result matches a full-scan filter of the original
    expect = res.filter(
        (F.col("provider") == "aws") & (F.col("region") == "us-east-1")).count()
    assert pruned.count() == expect > 0
    # the layout really is hive-style directories
    import os
    assert any(d.startswith("provider=") for d in os.listdir(path))


def test_compact_table_reduces_files(spark, tmp_path):
    from corkscrew_spark import warehouse

    path = str(tmp_path / "frag")
    # fragment: 8 separate appends of 1 partition each -> >= 8 files
    for i in range(8):
        spark.range(i * 100, (i + 1) * 100).repartition(1).write.mode(
            "append").parquet(path)
    before_rows = spark.read.parquet(path).count()
    before, after = warehouse.compact_table(spark, path)
    assert before >= 8 and after < before
    assert spark.read.parquet(path).count() == before_rows


def test_compact_table_keeps_hive_layout(spark, tmp_path):
    import os

    from corkscrew_spark import warehouse

    path = str(tmp_path / "hive")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(200)], "id long, part string"
    )
    for _ in range(4):
        df.write.mode("append").partitionBy("part").parquet(path)
    before, after = warehouse.compact_table(spark, path, partition_cols=["part"])
    assert after < before
    assert sorted(
        d for d in os.listdir(path) if d.startswith("part=")
    ) == ["part=a", "part=b"]
    assert spark.read.parquet(path).count() == 800


def test_zorder_write_bounds_both_dimensions(spark, tmp_path):
    """Every z-clustered file must cover a small rectangle of (x, y):
    per-file min-max spans average far below the global span on BOTH
    columns — the property that lets parquet stats prune either
    predicate. A plain x-sorted layout fails this for y."""
    import glob

    import pyarrow.parquet as pq

    from corkscrew_spark import warehouse

    n = 1 << 14
    df = spark.range(n).selectExpr(
        "CAST(id % 128 AS LONG) AS x", "CAST(id DIV 128 AS LONG) AS y"
    )
    path = str(tmp_path / "zorder")
    warehouse.zorder_write(df, path, "x", "y", n_files=16)

    def span_fractions(col_idx_name):
        fracs = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            lo = min(md.row_group(i).column(col_idx_name).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(col_idx_name).statistics.max
                     for i in range(md.num_row_groups))
            fracs.append((hi - lo) / 127.0)
        return sum(fracs) / len(fracs)

    # x is column 0, y column 1 in the written schema
    assert span_fractions(0) <= 0.5
    assert span_fractions(1) <= 0.5
    assert spark.read.parquet(path).count() == n


def test_zorder_nd_bounds_three_dimensions(spark, tmp_path):
    """3-D Morton keys: every file covers a small hyper-box, so ALL
    three clustered columns prune — checked through the skipping
    planner (plan per single-dim predicate must drop most files) and
    result identity against a full scan."""
    from corkscrew_spark import skipping, warehouse

    n = 1 << 12
    df = spark.range(n).selectExpr(
        "CAST(id % 16 AS LONG) AS x",
        "CAST((id DIV 16) % 16 AS LONG) AS y",
        "CAST(id DIV 256 AS LONG) AS z")
    path = str(tmp_path / "z3")
    warehouse.zorder_write_nd(df, path, ["x", "y", "z"], n_files=16,
                              stats_cols=["x", "y", "z"])
    for col in ("x", "y", "z"):
        preds = [(col, "<", 4)]
        plan = skipping.plan_skip(path, preds)
        assert plan["fallback"] is None
        assert len(plan["pruned"]) >= 6, col
        got = skipping.read_skipping(spark, path, preds)
        assert got.count() == n // 4, col


def test_zorder_nd_bits_overflow_rejected(spark):
    import pytest

    from corkscrew_spark import warehouse
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="overflows"):
        warehouse.zorder_value_nd([F.col("a")] * 4, [0] * 4, [1] * 4,
                                  bits=16)


class TestCommitLog:
    def test_changed_partitions_since(self, spark, tmp_path):
        """The incremental-consumer hook: scoped merges record their
        touched partitions; a poller rescans only those. Full rewrites
        return None (everything changed)."""
        path = str(tmp_path / "log")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v1", t0), ("b", "us", "v1", t0)]),
            ["id"], partition_cols=["region"])
        # initial layout is a full partitioned write -> None before mark
        assert warehouse.changed_partitions_since(path, 0) is None
        import time as _time
        mark = _time.time_ns()
        assert warehouse.changed_partitions_since(path, mark) == []

        warehouse.merge_upsert(
            spark, path, _pdf(spark, [("a", "eu", "v2", t1)]),
            ["id"], partition_cols=["region"])
        assert warehouse.changed_partitions_since(path, mark) \
            == ["region=eu"]

        warehouse.merge_upsert(
            spark, path, _pdf(spark, [("c", "ap", "v1", t1)]),
            ["id"], partition_cols=["region"])
        assert warehouse.changed_partitions_since(path, mark) \
            == ["region=ap", "region=eu"]

    def test_read_changed(self, spark, tmp_path):
        """read_changed scans only partitions written since the mark:
        rows from untouched partitions don't appear; a full rewrite
        falls back to the whole table; no changes -> empty frame."""
        import time as _time
        path = str(tmp_path / "rc")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v1", t0), ("b", "us", "v1", t0)]),
            ["id"], partition_cols=["region"])
        mark = _time.time_ns()
        assert warehouse.read_changed(spark, path, mark).count() == 0

        warehouse.merge_upsert(
            spark, path, _pdf(spark, [("a", "eu", "v2", t1)]),
            ["id"], partition_cols=["region"])
        got = warehouse.read_changed(spark, path, mark).collect()
        assert {(r.id, r.region, r.val) for r in got} == {("a", "eu", "v2")}

        # a full rewrite (retention) falls back to the whole table
        warehouse.retention_delete(spark, path, "scanned_at", "2023-01-01")
        assert warehouse.read_changed(spark, path, mark).count() == 2

    def test_read_changed_edge_cases(self, spark, tmp_path):
        """Never-written and all-partitions-dropped tables: typed empty
        with schema=, clear errors without; idle polls never list the
        whole table."""
        import time as _time

        import pytest as _pytest
        missing = str(tmp_path / "nope")
        with _pytest.raises(FileNotFoundError, match="schema="):
            warehouse.read_changed(spark, missing, 0)
        empty = warehouse.read_changed(
            spark, missing, 0, schema="id string, v int")
        assert empty.count() == 0 and empty.columns == ["id", "v"]

        # drop EVERY partition: commit log survives, data gone
        path = str(tmp_path / "dropped")
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "2020-01-01", "v1",
                          dt.datetime(2020, 1, 1))]),
            ["id"], partition_cols=["region"])
        mark = _time.time_ns()
        warehouse.retention_drop_partitions(path, "region", "2099-01-01")
        with _pytest.raises(ValueError, match="schema="):
            warehouse.read_changed(spark, path, mark)
        typed = warehouse.read_changed(
            spark, path, mark,
            schema="id string, val string, scanned_at timestamp, region string")
        assert typed.count() == 0

    def test_log_survives_full_rewrite(self, spark, tmp_path):
        path = str(tmp_path / "log2")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(spark, path,
                               _df(spark, [("a", "v1", t0)]), ["id"])
        warehouse.retention_delete(spark, path, "scanned_at", "2023-01-01")
        import json as _json
        import os
        with open(os.path.join(path, "_commits.jsonl")) as fh:
            ops = [_json.loads(l)["op"] for l in fh]
        assert len(ops) >= 2  # the merge's commit survived the rewrite
        # Spark still reads the table cleanly with the sidecar log present
        assert spark.read.parquet(path).count() == 1


class TestEvolveSchemaAndLock:
    def test_evolve_then_merge_widened_batch(self, spark, tmp_path):
        """The remedy path the drift error names: evolve_schema adds the
        new column as typed NULLs, after which the widened batch merges
        cleanly."""
        path = str(tmp_path / "ev")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(spark, path,
                               _df(spark, [("a", "v1", t0)]), ["id"])
        widened = spark.createDataFrame(
            [("a", "v2", t1, "x")],
            "id string, val string, scanned_at timestamp, extra string")
        added = warehouse.evolve_schema(spark, path, widened)
        assert added == ["extra"]
        assert warehouse.evolve_schema(spark, path, widened) == []  # idempotent
        n = warehouse.merge_upsert(spark, path, widened, ["id"])
        assert n == 1
        row = spark.read.parquet(path).collect()[0]
        assert row.val == "v2" and row.extra == "x"

    def test_evolve_partitioned_layout_preserved(self, spark, tmp_path):
        import os
        path = str(tmp_path / "evp")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(
            spark, path, _pdf(spark, [("a", "eu", "v1", t0)]),
            ["id"], partition_cols=["region"])
        widened = _pdf(spark, [("a", "eu", "v1", t0)]).withColumn(
            "extra", F.lit("x"))
        assert warehouse.evolve_schema(
            spark, path, widened, partition_cols=["region"]) == ["extra"]
        assert os.path.isdir(os.path.join(path, "region=eu"))
        row = spark.read.parquet(path).collect()[0]
        assert row.extra is None  # existing rows read the new column as NULL

    def test_evolve_autodetects_hive_layout(self, spark, tmp_path):
        """Omitting partition_cols on a hive-partitioned table must NOT
        flatten it (regression: a flat rewrite silently demoted every
        later merge to full-table cost)."""
        import os
        path = str(tmp_path / "evauto")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(
            spark, path, _pdf(spark, [("a", "eu", "v1", t0)]),
            ["id"], partition_cols=["region"])
        widened = _pdf(spark, [("a", "eu", "v1", t0)]).withColumn(
            "extra", F.lit("x"))
        assert warehouse.evolve_schema(spark, path, widened) == ["extra"]
        assert os.path.isdir(os.path.join(path, "region=eu"))  # still hive
        # scoped merges keep working post-migration
        t1 = dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(
            spark, path,
            widened.withColumn("scanned_at", F.lit(t1)), ["id"],
            partition_cols=["region"])
        assert spark.read.parquet(path).collect()[0].extra == "x"

    def test_append_refuses_columns_the_table_lacks(self, spark, tmp_path):
        """append checks the frame against one footer, as the merges
        check theirs: a wider frame raises naming evolve_schema and
        writes nothing; a narrow-order frame lands in table order."""
        import os

        import pytest as _pytest
        path = str(tmp_path / "ap")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.append(_df(spark, [("a", "v1", t0)]), path)  # created
        files = sorted(os.listdir(path))
        widened = _df(spark, [("b", "v1", t0)]).withColumn(
            "extra", F.lit("x"))
        with _pytest.raises(ValueError, match="evolve_schema"):
            warehouse.append(widened, path)
        assert sorted(os.listdir(path)) == files
        warehouse.append(_df(spark, [("c", "v1", t0)])
                         .select("val", "scanned_at", "id"), path)
        assert sorted(r.id for r in spark.read.parquet(path).collect()) \
            == ["a", "c"]

    def test_writer_lock_blocks_second_writer(self, spark, tmp_path):
        import pytest as _pytest
        path = str(tmp_path / "locked")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(spark, path,
                               _df(spark, [("a", "v1", t0)]), ["id"])
        with warehouse._table_lock(path):
            with _pytest.raises(TimeoutError, match="writer lock"):
                with warehouse._table_lock(path, timeout_s=0.5):
                    pass
        # lock released -> next merge proceeds
        assert warehouse.merge_upsert(
            spark, path, _df(spark, [("b", "v1", t0)]), ["id"]) == 2


def test_scd2_merge_versions_history(spark, tmp_path):
    from datetime import datetime

    from corkscrew_spark import warehouse

    path = str(tmp_path / "dim")
    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    v1 = spark.createDataFrame(
        [("r1", "small", t1), ("r2", "large", t1)],
        "rid string, size string, scanned_at timestamp",
    )
    warehouse.scd2_merge(spark, path, v1, keys=["rid"], tracked_cols=["size"])
    # r1 changes, r2 unchanged, r3 new
    v2 = spark.createDataFrame(
        [("r1", "medium", t2), ("r2", "large", t2), ("r3", "tiny", t2)],
        "rid string, size string, scanned_at timestamp",
    )
    n = warehouse.scd2_merge(spark, path, v2, keys=["rid"], tracked_cols=["size"])
    assert n == 4  # r1 x2 versions, r2 x1, r3 x1
    rows = {(r.rid, r.is_current): r for r in spark.read.parquet(path).collect()}
    old_r1 = rows[("r1", False)]
    assert old_r1.size == "small" and old_r1.valid_to == t2
    new_r1 = rows[("r1", True)]
    assert new_r1.size == "medium" and new_r1.valid_from == t2 and new_r1.valid_to is None
    assert rows[("r2", True)].valid_from == t1      # untouched, still open
    assert rows[("r3", True)].size == "tiny"


def test_scd2_merge_partition_scoped(spark, tmp_path):
    """SCD2 with partition_cols: a merge touching one service rewrites
    only that service's directory; history AND current rows of other
    services keep their exact files."""
    import os
    from datetime import datetime

    from corkscrew_spark import warehouse

    path = str(tmp_path / "dim")
    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    v1 = spark.createDataFrame(
        [("r1", "s3", "small", t1), ("r2", "ec2", "large", t1)],
        "rid string, service string, size string, scanned_at timestamp",
    )
    warehouse.scd2_merge(spark, path, v1, keys=["rid"],
                         tracked_cols=["size"], partition_cols=["service"])
    ec2_dir = os.path.join(path, "service=ec2")
    before = {f: os.stat(os.path.join(ec2_dir, f)).st_mtime_ns
              for f in os.listdir(ec2_dir) if f.endswith(".parquet")}
    assert before

    v2 = spark.createDataFrame(
        [("r1", "s3", "medium", t2)],
        "rid string, service string, size string, scanned_at timestamp",
    )
    n = warehouse.scd2_merge(spark, path, v2, keys=["rid"],
                             tracked_cols=["size"],
                             partition_cols=["service"])
    assert n == 3  # r1 x2 versions + r2 x1
    after = {f: os.stat(os.path.join(ec2_dir, f)).st_mtime_ns
             for f in os.listdir(ec2_dir) if f.endswith(".parquet")}
    assert after == before
    rows = {(r.rid, r.is_current): r
            for r in spark.read.parquet(path).collect()}
    assert rows[("r1", False)].size == "small"
    assert rows[("r1", True)].size == "medium"
    assert rows[("r2", True)].size == "large"


def test_scd2_merge_noop_update_keeps_single_version(spark, tmp_path):
    from datetime import datetime

    from corkscrew_spark import warehouse

    path = str(tmp_path / "dim2")
    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    v1 = spark.createDataFrame([("r1", "s", t1)],
                               "rid string, size string, scanned_at timestamp")
    warehouse.scd2_merge(spark, path, v1, keys=["rid"], tracked_cols=["size"])
    v2 = spark.createDataFrame([("r1", "s", t2)],
                               "rid string, size string, scanned_at timestamp")
    n = warehouse.scd2_merge(spark, path, v2, keys=["rid"], tracked_cols=["size"])
    assert n == 1
    row = spark.read.parquet(path).collect()[0]
    assert row.is_current and row.valid_from == t1 and row.valid_to is None


def test_scd2_snapshot_mode_closes_vanished_keys(spark, tmp_path):
    from datetime import datetime

    from corkscrew_spark import warehouse

    path = str(tmp_path / "dim3")
    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    v1 = spark.createDataFrame(
        [("r1", "s", t1), ("r2", "m", t1)],
        "rid string, size string, scanned_at timestamp",
    )
    warehouse.scd2_merge(spark, path, v1, keys=["rid"], tracked_cols=["size"])
    # full snapshot without r2: it vanished
    v2 = spark.createDataFrame(
        [("r1", "s", t2)], "rid string, size string, scanned_at timestamp"
    )
    warehouse.scd2_merge(spark, path, v2, keys=["rid"], tracked_cols=["size"],
                         snapshot=True, snapshot_ts=t2)
    rows = {(r.rid, r.is_current): r for r in spark.read.parquet(path).collect()}
    assert rows[("r1", True)].valid_to is None           # unchanged, open
    gone = rows[("r2", False)]
    assert gone.valid_to == t2                           # closed at snapshot
    assert ("r2", True) not in rows


class TestTableDiff:
    def test_classification(self, spark):
        from corkscrew_spark.warehouse import table_diff
        before = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
            ["k", "s", "v"])
        after = spark.createDataFrame(
            [(2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
            ["k", "s", "v"])
        got = {r.k: r.status for r in table_diff(before, after, ["k"]).collect()}
        assert got == {1: "REMOVED", 2: "UNCHANGED", 3: "CHANGED", 4: "ADDED"}

    def test_compare_subset(self, spark):
        from corkscrew_spark.warehouse import table_diff
        before = spark.createDataFrame([(1, "a", 1.0)], ["k", "s", "v"])
        after = spark.createDataFrame([(1, "ZZZ", 1.0)], ["k", "s", "v"])
        got = table_diff(before, after, ["k"], compare_cols=["v"]).collect()
        assert got[0].status == "UNCHANGED"

    def test_null_vs_value(self, spark):
        from corkscrew_spark.warehouse import table_diff
        before = spark.createDataFrame([(1, None)], "k long, v string")
        after = spark.createDataFrame([(1, "x")], "k long, v string")
        assert table_diff(before, after, ["k"]).first().status == "CHANGED"


class TestAggState:
    def test_incremental_equals_direct(self, spark, sf_dir, tmp_path):
        """Three batch states merged (with a parquet round-trip) must
        equal the direct full-data aggregate."""
        from corkscrew_spark import warehouse
        from corkscrew_spark.catalog import register_tables
        from pyspark.sql import functions as F

        ev = register_tables(spark, sf_dir)["events"]
        batches = [
            ev.filter(F.col("event_id") % 3 == i) for i in range(3)
        ]
        states = [
            warehouse.init_agg_state(b, ["event_type"], "value",
                                     distinct_col="user_id")
            for b in batches
        ]
        # persist one batch state and re-read: the state table must
        # round-trip through parquet (binary sketch column included)
        p = str(tmp_path / "state0")
        states[0].write.mode("overwrite").parquet(p)
        states[0] = spark.read.parquet(p)

        merged = warehouse.finalize_agg_state(
            warehouse.merge_agg_state(*states, keys=["event_type"]),
            ["event_type"])
        direct = warehouse.finalize_agg_state(
            warehouse.init_agg_state(ev, ["event_type"], "value",
                                     distinct_col="user_id"),
            ["event_type"])

        m = {r.event_type: r for r in merged.collect()}
        d = {r.event_type: r for r in direct.collect()}
        assert set(m) == set(d)
        for k in m:
            assert m[k].cnt == d[k].cnt
            assert abs(m[k].total - d[k].total) < 1e-6 * max(1, abs(d[k].total))
            assert m[k].vmin == d[k].vmin and m[k].vmax == d[k].vmax
            # HLL union of partitioned sketches is estimate-stable
            assert abs(m[k].approx_distinct - d[k].approx_distinct) \
                <= max(3, 0.05 * d[k].approx_distinct)

    def test_merge_order_invariant(self, spark):
        from corkscrew_spark import warehouse
        df = spark.createDataFrame(
            [("a", 1.0, 1), ("a", 2.0, 2), ("b", 3.0, 3)], ["k", "v", "u"])
        s1 = warehouse.init_agg_state(df.filter("u <= 1"), ["k"], "v", "u")
        s2 = warehouse.init_agg_state(df.filter("u > 1"), ["k"], "v", "u")
        ab = warehouse.finalize_agg_state(
            warehouse.merge_agg_state(s1, s2, keys=["k"]), ["k"]).collect()
        ba = warehouse.finalize_agg_state(
            warehouse.merge_agg_state(s2, s1, keys=["k"]), ["k"]).collect()
        assert sorted(map(tuple, ab)) == sorted(map(tuple, ba))

    def test_empty_states_raise(self, spark):
        from corkscrew_spark import warehouse
        import pytest
        with pytest.raises(ValueError):
            warehouse.merge_agg_state(keys=["k"])


class TestShardedCorpusWriter:
    def test_shard_export_round_trip(self, spark, tmp_path):
        from corkscrew_spark import warehouse
        docs = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text-"), F.col("id")).alias("text"))
        path = str(tmp_path / "shards")
        manifest = warehouse.write_sharded_corpus(docs, path, "doc_id",
                                                  n_shards=4)
        assert manifest["total_rows"] == 200
        assert [s["shard"] for s in manifest["shards"]] == [0, 1, 2, 3]
        back = spark.read.parquet(path)
        assert back.count() == 200
        assert back.select("doc_id").distinct().count() == 200
        # exactly one data file per shard directory
        import glob
        for i in range(4):
            files = glob.glob(f"{path}/shard={i}/*.parquet")
            assert len(files) == 1, files

    def test_deterministic_across_reexports(self, spark, tmp_path):
        from corkscrew_spark import warehouse
        docs = spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("text"))
        m1 = warehouse.write_sharded_corpus(
            docs.repartition(7), str(tmp_path / "a"), "doc_id", n_shards=3)
        m2 = warehouse.write_sharded_corpus(
            docs.repartition(2), str(tmp_path / "b"), "doc_id", n_shards=3)
        assert m1["shards"] == m2["shards"]  # layout-invariant assignment

    def test_invalid_shards_raise(self, spark, tmp_path):
        from corkscrew_spark import warehouse
        import pytest as _pytest
        with _pytest.raises(ValueError):
            warehouse.write_sharded_corpus(
                spark.range(1), str(tmp_path / "x"), "id", n_shards=0)


class TestExpectations:
    def test_all_rule_kinds(self, spark):
        from corkscrew_spark import warehouse
        df = spark.createDataFrame(
            [(1, "a", 10.0, "US"), (2, "b", 200.0, "EU"),
             (2, None, -5.0, "XX"), (4, "d", 50.0, "US")],
            "id long, name string, v double, region string")
        rules = [
            {"name": "id_unique", "unique": "id"},
            {"name": "name_not_null", "not_null": "name"},
            {"name": "v_in_range", "range": "v", "min": 0, "max": 100},
            {"name": "region_known", "in_set": "region", "values": ["US", "EU"]},
            {"name": "id_positive", "expr": "id > 0"},
        ]
        got = {r.rule: (r.violations, r.passed)
               for r in warehouse.validate_expectations(df, rules).collect()}
        assert got["id_unique"] == (1, False)      # 2 appears twice
        assert got["name_not_null"] == (1, False)
        assert got["v_in_range"] == (2, False)     # 200 and -5
        assert got["region_known"] == (1, False)   # XX
        assert got["id_positive"] == (0, True)
        assert all(r.n_rows == 4 for r in
                   warehouse.validate_expectations(df, rules).collect())

    def test_clean_table_passes(self, spark):
        from corkscrew_spark import warehouse
        df = spark.range(100).selectExpr("id", "id * 2 as v")
        out = warehouse.validate_expectations(df, [
            {"name": "id_unique", "unique": "id"},
            {"name": "v_even", "expr": "v % 2 = 0"},
        ]).collect()
        assert all(r.passed for r in out)

    def test_empty_rules_raise(self, spark):
        from corkscrew_spark import warehouse
        import pytest as _pytest
        with _pytest.raises(ValueError):
            warehouse.validate_expectations(spark.range(1), [])


class TestCdcMerge:
    def _tbl(self, spark, tmp_path, name):
        return str(tmp_path / name)

    def test_delete_tombstones_and_replay(self, spark, tmp_path):
        from corkscrew_spark import warehouse
        path = self._tbl(spark, tmp_path, "cdc")
        base = spark.createDataFrame(
            [("a", 1, 10), ("b", 1, 20), ("c", 1, 30)],
            "id string, scanned_at long, v long")
        warehouse.merge_upsert(spark, path, base, keys=["id"])
        batch = spark.createDataFrame(
            [("b", 2, 21, "UPDATE"),       # newer value wins
             ("c", 2, None, "DELETE"),     # tombstone removes the key
             ("d", 2, 40, "CREATE")],      # new key inserted
            "id string, scanned_at long, v long, op string")
        n = warehouse.merge_upsert_cdc(spark, path, batch, keys=["id"])
        assert n == 3
        got = {r.id: r.v for r in spark.read.parquet(path).collect()}
        assert got == {"a": 10, "b": 21, "d": 40}
        # replaying the same batch is a no-op (at-least-once safety)
        warehouse.merge_upsert_cdc(spark, path, batch, keys=["id"])
        assert {r.id: r.v for r in spark.read.parquet(path).collect()} == got

    def test_stale_tombstone_loses_to_newer_upsert(self, spark, tmp_path):
        from corkscrew_spark import warehouse
        path = self._tbl(spark, tmp_path, "cdc2")
        batch = spark.createDataFrame(
            [("k", 1, 5, "CREATE"), ("k", 2, None, "DELETE"),
             ("k", 3, 7, "UPDATE")],
            "id string, scanned_at long, v long, op string")
        warehouse.merge_upsert_cdc(spark, path, batch, keys=["id"])
        rows = spark.read.parquet(path).collect()
        assert len(rows) == 1 and rows[0].v == 7  # newest wins over tombstone

    def test_delete_to_empty_table(self, spark, tmp_path):
        from corkscrew_spark import warehouse
        path = self._tbl(spark, tmp_path, "cdc3")
        warehouse.merge_upsert(
            spark, path,
            spark.createDataFrame([("x", 1, 1)],
                                  "id string, scanned_at long, v long"),
            keys=["id"])
        batch = spark.createDataFrame(
            [("x", 2, None, "DELETE")],
            "id string, scanned_at long, v long, op string")
        assert warehouse.merge_upsert_cdc(spark, path, batch, keys=["id"]) == 0
        assert spark.read.parquet(path).count() == 0


class TestPartitionDropRetention:
    def test_drops_only_expired_partitions(self, spark, tmp_path):
        from corkscrew_spark import warehouse
        path = str(tmp_path / "byday")
        df = spark.createDataFrame(
            [(i, f"2024-01-{d:02d}") for d in (1, 2, 3, 4) for i in range(5)],
            "id long, day string")
        warehouse.write_partitioned(df, path, ["day"])
        dropped = warehouse.retention_drop_partitions(path, "day", "2024-01-03")
        assert dropped == ["2024-01-01", "2024-01-02"]
        back = spark.read.parquet(path)
        assert back.count() == 10
        assert {str(r.day) for r in back.select("day").distinct().collect()} == {
            "2024-01-03", "2024-01-04"}
        # idempotent
        assert warehouse.retention_drop_partitions(path, "day", "2024-01-03") == []


class TestRound5Hardening:
    """Round-5 ADVICE fixes: retention auto-route, append lock+log,
    zorder staged swap, rollback-failure trash preservation."""

    def test_retention_autoroutes_to_partition_drop(self, spark, tmp_path):
        """When ts_col IS the hive partition column, retention_delete must
        rewrite ZERO surviving bytes: expired dirs vanish, survivors stay
        byte-for-byte identical (path, size, mtime)."""
        import json
        import os
        path = str(tmp_path / "byday")
        df = spark.createDataFrame(
            [(i, f"2024-01-{d:02d}") for d in (1, 2, 3, 4) for i in range(5)],
            "id long, day string")
        warehouse.write_partitioned(df, path, ["day"])
        before = {k: v for k, v in _partition_files(path).items()
                  if k.startswith(("day=2024-01-03", "day=2024-01-04"))}
        kept = warehouse.retention_delete(spark, path, "day", "2024-01-03")
        assert kept == 10
        assert not os.path.exists(os.path.join(path, "day=2024-01-01"))
        after = {k: v for k, v in _partition_files(path).items()}
        assert after == before  # survivors untouched, nothing else left
        # the drop was logged for incremental consumers
        with open(os.path.join(path, "_commits.jsonl")) as fh:
            ops = [json.loads(line) for line in fh]
        assert ops[-1]["op"] == "retention-drop"
        assert sorted(ops[-1]["partitions"]) == [
            "day=2024-01-01", "day=2024-01-02"]

    def test_retention_generic_path_for_other_partition_col(
            self, spark, tmp_path):
        """Partitioned on a DIFFERENT column: the row filter must still
        apply (no bogus auto-route)."""
        path = str(tmp_path / "byregion")
        df = spark.createDataFrame(
            [("a", "eu", "2024-01-01"), ("b", "eu", "2024-01-05"),
             ("c", "us", "2024-01-02")],
            "id string, region string, scanned_at string")
        warehouse.write_partitioned(df, path, ["region"])
        kept = warehouse.retention_delete(
            spark, path, "scanned_at", "2024-01-03")
        assert kept == 1
        assert [r.id for r in spark.read.parquet(path).collect()] == ["b"]

    def test_append_logs_full_commit_on_logged_tables(self, spark, tmp_path):
        """An append into a merge-managed (commit-logged) table must be
        visible to incremental consumers — the log gains a full-rewrite
        record, so changed_partitions_since reports 'all changed'."""
        import time
        path = str(tmp_path / "logged")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(
            spark, path, _df(spark, [("a", "v1", t0)]), ["id"])
        mark = time.time_ns()
        assert warehouse.changed_partitions_since(path, mark) == []
        warehouse.append(_df(spark, [("b", "v1", t0)]), path)
        assert warehouse.changed_partitions_since(path, mark) is None
        assert spark.read.parquet(path).count() == 2

    def test_append_leaves_unlogged_tables_unlogged(self, spark, tmp_path):
        import os
        path = str(tmp_path / "sink")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.append(_df(spark, [("a", "v1", t0)]), path)
        assert not os.path.exists(os.path.join(path, "_commits.jsonl"))
        assert not os.path.exists(path + ".__lock__")  # lock released

    def test_zorder_rewrite_is_staged_and_carries_log(self, spark, tmp_path):
        """zorder_write must swap a staged dir into place (no in-place
        overwrite window) and carry + extend the commit log."""
        import json
        import os
        path = str(tmp_path / "zt")
        t0 = dt.datetime(2024, 1, 1)
        warehouse.merge_upsert(
            spark, path,
            spark.createDataFrame([(i, i % 7, (i * 3) % 11, t0)
                                   for i in range(100)],
                                  "id long, x long, y long, scanned_at timestamp"),
            ["id"])
        df = spark.read.parquet(path)
        warehouse.zorder_write(df, path, "x", "y", n_files=4)
        assert spark.read.parquet(path).count() == 100
        with open(os.path.join(path, "_commits.jsonl")) as fh:
            ops = [json.loads(line)["op"] for line in fh]
        assert ops[-1] == "zorder-rewrite" and len(ops) >= 2
        leftovers = [e for e in os.listdir(str(tmp_path))
                     if ".__staging__" in e or ".__old__" in e]
        assert leftovers == []

    def test_swap_rollback_failure_preserves_trash(self, spark, tmp_path,
                                                   monkeypatch):
        """If the mid-swap rollback itself fails, the displaced pre-merge
        partition data must survive in the trash dir and the error must
        name it — never rmtree the only remaining copy."""
        import os
        import shutil as _shutil
        import pytest
        path = str(tmp_path / "pt_rb")
        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
        warehouse.merge_upsert(
            spark, path,
            _pdf(spark, [("a", "eu", "v1", t0), ("b", "us", "v1", t0)]),
            ["id"], partition_cols=["region"])

        real_rename = os.rename
        state = {"fail_swap": True}

        def failing_rename(src, dst):
            # fail the swap-in of the staged eu dir, then ALSO fail the
            # rollback restore of the displaced original
            if state["fail_swap"] and ".__staging__" in src:
                raise OSError("injected swap failure")
            if ".__old__" in src:
                raise OSError("injected rollback failure")
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", failing_rename)
        with pytest.raises(RuntimeError, match="preserved at"):
            warehouse.merge_upsert(
                spark, path,
                _pdf(spark, [("a", "eu", "v2", t1)]),
                ["id"], partition_cols=["region"])
        monkeypatch.setattr(os, "rename", real_rename)
        trash = [e for e in os.listdir(str(tmp_path))
                 if ".__old__" in e and os.path.isdir(str(tmp_path / e))]
        assert len(trash) == 1
        # the displaced eu partition's parquet files live in the trash
        moved = os.path.join(str(tmp_path), trash[0], "0")
        assert any(f.endswith(".parquet") for f in os.listdir(moved))
        _shutil.rmtree(os.path.join(str(tmp_path), trash[0]))
        os.remove(path + ".__lock__") if os.path.exists(
            path + ".__lock__") else None


class TestIncrementalLoopEndToEnd:
    def test_second_pass_reads_only_new_partitions(self, spark, tmp_path):
        """The registered incremental_refresh_equals_recompute contract,
        pinned at the storage layer: after a second scoped merge, the
        commit-log delta names only the new partition dirs, and the
        read_changed frame's input files all live under them."""
        import time
        path = str(tmp_path / "events_tbl")
        b1 = spark.createDataFrame(
            [(1, "2024-01-01", "click", 1.0), (2, "2024-01-02", "view", 2.0)],
            "event_id long, event_date string, event_type string, value double")
        b2 = spark.createDataFrame(
            [(3, "2024-01-03", "click", 3.0)],
            "event_id long, event_date string, event_type string, value double")
        warehouse.merge_upsert(spark, path, b1, keys=["event_id"],
                               order_col="event_id",
                               partition_cols=["event_date"])
        mark = time.time_ns()
        warehouse.merge_upsert(spark, path, b2, keys=["event_id"],
                               order_col="event_id",
                               partition_cols=["event_date"])
        assert warehouse.changed_partitions_since(path, mark) == [
            "event_date=2024-01-03"]
        delta = warehouse.read_changed(spark, path, mark)
        files = delta.inputFiles()
        assert files and all("event_date=2024-01-03" in f for f in files)
        # state merged from the two deltas equals a direct recompute
        s1 = warehouse.init_agg_state(
            spark.read.parquet(path).filter(
                F.col("event_date") < "2024-01-03"),
            ["event_type"], "value")
        s2 = warehouse.init_agg_state(delta, ["event_type"], "value")
        inc = {r.event_type: (r.cnt, r.total) for r in
               warehouse.finalize_agg_state(
                   warehouse.merge_agg_state(s1, s2, keys=["event_type"]),
                   ["event_type"]).collect()}
        direct = {r.event_type: (r.cnt, r.total) for r in
                  warehouse.finalize_agg_state(
                      warehouse.init_agg_state(
                          spark.read.parquet(path), ["event_type"], "value"),
                      ["event_type"]).collect()}
        assert inc == direct == {"click": (2, 4.0), "view": (1, 2.0)}

    def test_retention_generic_path_preserves_hive_layout(
            self, spark, tmp_path):
        """Survivor rewrite on a table partitioned by ANOTHER column must
        keep the hive layout (flattening would demote later merges to
        full rewrites)."""
        import os
        path = str(tmp_path / "keeplayout")
        df = spark.createDataFrame(
            [("a", "eu", "2024-01-01"), ("b", "eu", "2024-01-05"),
             ("c", "us", "2024-01-04")],
            "id string, region string, scanned_at string")
        warehouse.write_partitioned(df, path, ["region"])
        kept = warehouse.retention_delete(
            spark, path, "scanned_at", "2024-01-03")
        assert kept == 2
        assert sorted(e for e in os.listdir(path)
                      if e.startswith("region=")) == [
            "region=eu", "region=us"]
        # and a subsequent merge still scopes
        t = dt.datetime(2024, 1, 6)
        warehouse.merge_upsert(
            spark, path,
            spark.createDataFrame([("d", "us", "2024-01-06")],
                                  "id string, region string, scanned_at string"),
            ["id"], partition_cols=["region"])
        import json
        with open(os.path.join(path, "_commits.jsonl")) as fh:
            last = json.loads(fh.readlines()[-1])
        assert last["op"] == "merge-scoped" and last["partitions"] == [
            "region=us"]


class TestReviewSoundness:
    """Round-9 whole-file review findings: write-path defects that lose
    or corrupt data, each with its concrete scenario pinned."""

    def test_first_scoped_commit_writes_baseline(self, spark, tmp_path):
        """A scoped merge on a previously log-free table must not make
        the untouched partitions invisible to bootstrapping consumers:
        the log's first entry is a full-rewrite baseline."""
        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [("aws", 1, "a", "2024-01-01"), ("gcp", 2, "b", "2024-01-01")],
            "provider string, id long, v string, scanned_at string")
        warehouse.write_partitioned(base, path, ["provider"])  # no log
        upd = spark.createDataFrame(
            [("aws", 1, "a2", "2024-01-02")], base.schema)
        warehouse.merge_upsert(spark, path, upd, ["id"], "scanned_at",
                               partition_cols=["provider"])
        # bootstrap from ts 0: a scoped-only log would claim only the
        # touched partition changed; the baseline forces "everything"
        assert warehouse.changed_partitions_since(path, 0) is None

    def test_scoped_merge_requires_full_layout_match(self, spark, tmp_path):
        """partition_cols shallower than the on-disk hive chain must
        NOT take the scoped path (it would rename flat staging files
        next to deeper col= dirs — an unreadable mixed layout); it
        re-lays the table out instead, losing no rows."""
        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [("aws", "s3", 1, "a", "2024-01-01"),
             ("aws", "ec2", 2, "b", "2024-01-01"),
             ("gcp", "gcs", 3, "c", "2024-01-01")],
            "provider string, service string, id long, v string,"
            "scanned_at string")
        warehouse.write_partitioned(base, path, ["provider", "service"])
        upd = spark.createDataFrame(
            [("aws", "s3", 1, "a2", "2024-01-02")], base.schema)
        warehouse.merge_upsert(spark, path, upd, ["id"], "scanned_at",
                               partition_cols=["provider"])  # shallow
        got = spark.read.parquet(path)  # must stay readable
        rows = {(r["id"], r["v"]) for r in got.collect()}
        assert rows == {(1, "a2"), (2, "b"), (3, "c")}

    def test_scd2_batch_duplicates_and_null_keys(self, spark, tmp_path):
        """(a) duplicate keys in one batch produce ONE open version
        (newest wins), never two is_current rows; (b) a current row
        with a NULL key survives merges instead of vanishing."""
        path = str(tmp_path / "dim")
        first = spark.createDataFrame(
            [(1, "x", "2024-01-01"), (None, "nullkey", "2024-01-01")],
            "rid long, state string, scanned_at string")
        warehouse.scd2_merge(spark, path, first, ["rid"], ["state"])
        batch = spark.createDataFrame(
            [(1, "y", "2024-01-02"), (1, "z", "2024-01-03")],
            "rid long, state string, scanned_at string")
        warehouse.scd2_merge(spark, path, batch, ["rid"], ["state"])
        out = spark.read.parquet(path).collect()
        cur = [r for r in out if r["is_current"]]
        assert sorted((r["rid"], r["state"]) for r in cur
                      if r["rid"] is not None) == [(1, "z")]  # newest
        assert [r["state"] for r in cur if r["rid"] is None] == ["nullkey"]

    def test_retention_keeps_null_timestamps(self, spark, tmp_path):
        """Rows whose age is UNKNOWN must survive retention in the
        generic path (null >= cutoff is null → was silently deleted),
        matching the partition-drop path's behavior."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "2020-01-01"), (2, None), (3, "2025-01-01")],
            "id long, ts string").coalesce(1).write.parquet(path)
        kept = warehouse.retention_delete(spark, path, "ts", "2024-01-01")
        assert kept == 2
        ids = {r["id"] for r in spark.read.parquet(path).collect()}
        assert ids == {2, 3}  # null-ts row 2 kept, expired row 1 gone

    def test_hive_escape_rejects_unrenderable_types(self):
        import pytest

        with pytest.raises(TypeError, match="partition-column value"):
            warehouse._hive_escape(True)  # str(True)='True', Spark 'true'
        with pytest.raises(TypeError, match="partition-column value"):
            warehouse._hive_escape(1.5)
        assert warehouse._hive_escape("aws") == "aws"
        assert warehouse._hive_escape(42) == "42"
        assert warehouse._hive_escape(dt.date(2024, 1, 1)) == "2024-01-01"

    def test_cdc_rejects_op_col_collision(self, spark, tmp_path):
        import pytest

        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "real-data", "2024-01-01")],
            "id long, op string, scanned_at string"
        ).write.parquet(path)
        upd = spark.createDataFrame(
            [(1, "UPSERT", "2024-01-02")],
            "id long, op string, scanned_at string")
        with pytest.raises(ValueError, match="op_col"):
            warehouse.merge_upsert_cdc(spark, path, upd, ["id"])

    def test_read_table_empty_disjunction_matches_nothing(
            self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.range(5).write.parquet(path)
        assert warehouse.read_table(spark, path,
                                    predicates_any=[]).count() == 0

    def test_salted_join_refuses_right_duplicating_kinds(self, spark):
        import pytest

        left = spark.createDataFrame([(1, "a")], "k long, v string")
        right = spark.createDataFrame([(2, "b")], "k long, w string")
        with pytest.raises(ValueError, match="salted_join"):
            warehouse.salted_join(left, right, "k", how="full")
        # left joins stay supported and correct
        got = warehouse.salted_join(left, right, "k", how="left").collect()
        assert len(got) == 1 and got[0]["w"] is None

    def test_compact_partitioned_respects_record_cap(self, spark, tmp_path):
        """A big hive partition must re-split into ~target-sized files,
        not land as one giant file per partition."""
        import glob

        path = str(tmp_path / "t")
        df = spark.range(10_000).selectExpr(
            "'aws' AS provider", "id", "repeat(uuid(), 4) AS pad")
        warehouse.write_partitioned(df, path, ["provider"])
        _, total = warehouse.table_file_stats(spark, path)
        warehouse.compact_table(spark, path, target_file_bytes=total // 4,
                                partition_cols=["provider"])
        files = glob.glob(f"{path}/provider=aws/*.parquet")
        assert len(files) >= 3  # re-split, not one file
