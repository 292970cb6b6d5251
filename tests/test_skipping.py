"""File-statistics data skipping: zone-map pruning with a correctness
net — every read_skipping result must equal the plain filtered scan,
no matter how stale the statistics are."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from corkscrew_spark import skipping, warehouse
from corkscrew_spark.testing import count_jobs


def _write_clustered(spark, path, n_files=8, rows_per=100):
    """A table laid out so zone maps are tight: `k` is globally sorted
    across files via repartitionByRange, so each file owns a disjoint
    k-range — the layout compact_table(sort)/zorder_write produce."""
    df = spark.range(n_files * rows_per).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        F.date_add(F.lit(dt.date(2024, 1, 1)),
                   (F.col("id") / rows_per).cast("int")).alias("day"),
    )
    df.repartitionByRange(n_files, "k").write.parquet(path)
    return df


def _full_scan(spark, path, predicates):
    return (spark.read.parquet(path)
            .filter(skipping.predicate_filter(predicates)))


def _same_rows(a, b, key="k"):
    return ([tuple(r) for r in a.orderBy(key).collect()]
            == [tuple(r) for r in b.orderBy(key).collect()])


class TestZoneMapPruning:
    def test_range_predicate_prunes_most_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k", "day"])
        preds = [("k", ">=", 700)]
        plan = skipping.plan_skip(path, preds)
        assert plan["fallback"] is None
        assert plan["pruned"], "a sorted layout must prune some files"
        # disjoint 100-row ranges over 800 rows: >= 700 keeps 1 file
        assert len(plan["kept"]) <= 2
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))

    def test_equality_and_between_and_dates(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k", "day"])
        for preds in (
            [("k", "=", 42)],
            [("k", "between", (150, 260))],
            [("day", ">=", dt.date(2024, 1, 7))],
            [("k", "<", 100), ("day", "<=", dt.date(2024, 1, 1))],
        ):
            plan = skipping.plan_skip(path, preds)
            assert plan["pruned"], preds
            got = skipping.read_skipping(spark, path, preds)
            assert _same_rows(got, _full_scan(spark, path, preds)), preds

    def test_nothing_can_match_reads_no_data_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        preds = [("k", ">", 10_000)]
        plan = skipping.plan_skip(path, preds)
        assert plan["kept"] == []
        assert skipping.read_skipping(spark, path, preds).count() == 0

    def test_all_null_file_pruned_for_comparison_kept_for_isnull(
            self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, None), (2, None)], "k int, v int"
        ).coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(3, 30), (4, 40)], "k int, v int"
        ).coalesce(1).write.mode("append").parquet(path)
        skipping.compute_stats(spark, path, ["v"])
        plan = skipping.plan_skip(path, [("v", ">=", 0)])
        assert len(plan["pruned"]) == 1  # the all-null file
        preds_null = [("v", "is_null", None)]
        plan_null = skipping.plan_skip(path, preds_null)
        assert len(plan_null["pruned"]) == 1  # the no-null file
        got = skipping.read_skipping(spark, path, preds_null)
        assert sorted(r.k for r in got.collect()) == [1, 2]


class TestStaleness:
    def test_appended_files_always_read(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        # rows appended AFTER the snapshot land in the pruned k-range
        spark.createDataFrame(
            [(5, 99, dt.date(2024, 2, 1))], "k long, v long, day date"
        ).write.mode("append").parquet(path)
        preds = [("k", "<", 10)]
        plan = skipping.plan_skip(path, preds)
        assert plan["unknown"], "the appended file must be unknown"
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))
        assert got.filter("v = 99").count() == 1

    def test_merged_partition_goes_stale_not_wrong(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t0 = dt.datetime(2024, 1, 1)
        rows = [(f"id{i}", f"r{i % 2}", i, t0) for i in range(20)]
        df = spark.createDataFrame(
            rows, "id string, region string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, df, ["id"],
                               partition_cols=["region"])
        skipping.compute_stats(spark, path, ["score"])
        # post-snapshot merge pushes r0's scores past the stats range
        upd = spark.createDataFrame(
            [("id0", "r0", 999, dt.datetime(2024, 1, 2))],
            "id string, region string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, upd, ["id"],
                               partition_cols=["region"])
        preds = [("score", ">=", 500)]
        plan = skipping.plan_skip(path, preds)
        assert plan["stale"], "the merged partition must be re-read"
        got = skipping.read_skipping(spark, path, preds)
        assert [r.id for r in got.collect()] == ["id0"]

    def test_logged_append_does_not_invalidate_stats(self, spark, tmp_path):
        """warehouse.append logs a partitions=None commit for
        read_changed consumers, but an append only ADDS files — zone
        maps on existing files stay valid, and the new file is read via
        the unknown-file net (no full-scan fallback)."""
        path = str(tmp_path / "t")
        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("a", 1, t0), ("b", 2, t0)],
            "id string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, df, ["id"])
        skipping.compute_stats(spark, path, ["score"])
        extra = spark.createDataFrame(
            [("c", 900, dt.datetime(2024, 1, 2))],
            "id string, score int, scanned_at timestamp")
        warehouse.append(extra, path)
        preds = [("score", ">=", 500)]
        plan = skipping.plan_skip(path, preds)
        assert plan["fallback"] is None
        assert plan["unknown"], "appended file must be unknown-read"
        got = skipping.read_skipping(spark, path, preds)
        assert [r.id for r in got.collect()] == ["c"]

    def test_full_rewrite_falls_back_to_plain_scan(self, spark, tmp_path):
        path = str(tmp_path / "t")
        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("a", 1, t0), ("b", 2, t0)],
            "id string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, df, ["id"])
        skipping.compute_stats(spark, path, ["score"])
        upd = spark.createDataFrame(
            [("c", 900, dt.datetime(2024, 1, 2))],
            "id string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, upd, ["id"])  # unpartitioned
        preds = [("score", ">=", 500)]
        plan = skipping.plan_skip(path, preds)
        assert plan["fallback"] is not None
        got = skipping.read_skipping(spark, path, preds)
        assert [r.id for r in got.collect()] == ["c"]

    def test_no_stats_file_is_a_plain_scan(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        preds = [("k", ">=", 700)]
        assert skipping.plan_skip(path, preds)["fallback"] == "no stats file"
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))

    def test_compact_refreshes_carried_stats_in_pass(
            self, spark, tmp_path):
        """A table with zone maps keeps pruning IMMEDIATELY after
        compaction: the rewrite re-emits fresh stats itself (recorded
        cols + bloom opt-in preserved) — no manual refresh_stats, no
        stale window, no separate O(table) pass later (VERDICT r6
        item 2)."""
        import json

        path = str(tmp_path / "t")
        _write_clustered(spark, path)  # 800 rows over 8 files
        skipping.compute_stats(spark, path, ["k"], bloom_cols=["k"])
        warehouse.compact_table(spark, path, target_file_bytes=2000,
                                sort_cols=["k"])  # NO stats_cols
        with open(os.path.join(path, "_commits.jsonl")) as fh:
            last = json.loads(fh.readlines()[-1])
        stats = skipping.load_stats(path)
        # emitted BY the rewrite: newer than the compact commit itself
        assert stats["ts_ns"] > last["ts_ns"]
        assert stats["cols"] == ["k"]
        assert stats.get("bloom") and stats["bloom"]["cols"] == ["k"]
        plan = skipping.plan_skip(path, [("k", ">=", 700)])
        assert plan["fallback"] is None and plan["pruned"]
        assert not plan["stale"] and not plan["unknown"]
        got = skipping.read_skipping(spark, path, [("k", ">=", 700)])
        assert got.count() == 100

    def test_zorder_refreshes_carried_stats_in_pass(
            self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.range(1024).select(
            (F.col("id") % 32).alias("x"),
            (F.col("id") / 32).cast("long").alias("y"))
        df.repartition(4).write.parquet(path)
        skipping.compute_stats(spark, path, ["x"])
        warehouse.zorder_write(df, path, "x", "y",
                               n_files=8)  # NO stats_cols
        plan = skipping.plan_skip(path, [("x", "<", 4)])
        assert plan["fallback"] is None and plan["pruned"]
        assert skipping.read_skipping(
            spark, path, [("x", "<", 4)]).count() == 128

    def test_rewrite_stats_refresh_failure_never_fails_compaction(
            self, spark, tmp_path):
        """The in-pass refresh is upkeep: a broken stats file warns and
        degrades to plain scans — it must never fail the rewrite."""
        import json
        import warnings

        path = str(tmp_path / "t")
        _write_clustered(spark, path, n_files=4)
        skipping.compute_stats(spark, path, ["k"])
        sp = os.path.join(path, "_column_stats.json")
        with open(sp) as fh:
            broken = json.load(fh)
        broken["cols"] = ["no_such_column"]
        with open(sp, "w") as fh:
            json.dump(broken, fh)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            warehouse.compact_table(spark, path)
        assert any("zone-map refresh" in str(w.message) for w in caught)
        # table committed and readable; reader degrades, never errors
        preds = [("k", "<", 50)]
        assert skipping.read_skipping(spark, path, preds).count() == 50


class TestLayoutHooks:
    def test_compact_sort_then_skip(self, spark, tmp_path):
        """Compaction with sort_cols + stats_cols turns an unsorted
        many-file table into a pruned scan in one maintenance call."""
        path = str(tmp_path / "t")
        df = spark.range(800).select(
            F.shiftright(F.xxhash64("id"), 1).alias("r"),
            F.col("id").alias("k"))
        df.orderBy("r").drop("r").repartition(8).write.parquet(path)
        # unsorted layout: every file straddles the whole k-range
        skipping.compute_stats(spark, path, ["k"])
        assert not skipping.plan_skip(path, [("k", ">=", 700)])["pruned"]
        warehouse.compact_table(spark, path, target_file_bytes=2000,
                                sort_cols=["k"], stats_cols=["k"])
        plan = skipping.plan_skip(path, [("k", ">=", 700)])
        assert plan["fallback"] is None  # stats are post-compaction
        assert plan["pruned"], "sorted compaction must enable pruning"
        got = skipping.read_skipping(spark, path, [("k", ">=", 700)])
        assert got.count() == 100

    def test_zorder_stats_prune_both_dimensions(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.range(4096).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"))
        warehouse.zorder_write(df, path, "x", "y", n_files=16,
                               stats_cols=["x", "y"])
        for preds in ([("x", "<", 8)], [("y", ">=", 56)]):
            plan = skipping.plan_skip(path, preds)
            assert plan["fallback"] is None
            assert len(plan["pruned"]) >= 8, preds
            got = skipping.read_skipping(spark, path, preds)
            assert got.count() == 512, preds


class TestEdgeValues:
    def test_nan_bounds_never_prune(self, spark, tmp_path):
        """Spark orders NaN larger than any double; Python NaN
        comparisons are all False — a NaN bound must keep the file,
        or read_skipping silently drops the NaN rows a plain scan
        returns."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, 1.0), (2, float("nan"))], "k int, v double"
        ).coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(3, 2.0), (4, 3.0)], "k int, v double"
        ).coalesce(1).write.mode("append").parquet(path)
        skipping.compute_stats(spark, path, ["v"])
        preds = [("v", ">", 5.0)]
        got = skipping.read_skipping(spark, path, preds)
        full = _full_scan(spark, path, preds)
        # repr-compare: tuple equality would fail on nan != nan
        assert ([repr(tuple(r)) for r in got.orderBy("k").collect()]
                == [repr(tuple(r)) for r in full.orderBy("k").collect()])
        assert got.count() == 1  # the NaN row matches v > 5 in Spark

    def test_datetime_predicate_on_date_column(self, spark, tmp_path):
        """Stored date bounds are 'YYYY-MM-DD'; a datetime predicate
        must compare in the temporal domain (Spark promotes the date to
        midnight), not lexicographically — '2024-01-07' >=
        '2024-01-07 00:00:00' is False as strings."""
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["day"])
        preds = [("day", ">=", dt.datetime(2024, 1, 7, 0, 0, 0))]
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))
        assert got.count() == 200  # Jan 7 and Jan 8 rows survive

    def test_date_predicate_on_timestamp_column(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1 + i, 0, 0, 0)) for i in range(6)],
            "k int, ts timestamp"
        ).repartitionByRange(3, "ts").write.parquet(path)
        skipping.compute_stats(spark, path, ["ts"])
        preds = [("ts", "<=", dt.date(2024, 1, 5))]
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))
        assert got.count() == 5  # midnight rows through Jan 5 inclusive

    def test_decimal_bounds_widen_outward(self, spark, tmp_path):
        """float() rounds Decimals to nearest; a max rounded DOWN would
        prune the file holding the true (slightly larger) value. The
        17-digit decimals here are exactly the values float can't
        represent."""
        import decimal as _dec

        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, _dec.Decimal("10000000000000000.3"))],
            "k int, d decimal(38,1)").coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(2, _dec.Decimal("5.0"))],
            "k int, d decimal(38,1)").coalesce(1).write.mode(
            "append").parquet(path)
        skipping.compute_stats(spark, path, ["d"])
        preds = [("d", ">", _dec.Decimal("10000000000000000.1"))]
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))
        assert got.count() == 1

    def test_iso_looking_strings_compare_lexicographically(
            self, spark, tmp_path):
        """A genuine STRING column holding ISO-looking values must be
        pruned in Spark's comparison domain (lexicographic), never via
        datetime parsing — mixed 'T'/space separators and date-only vs
        'date 00:00:00' order differently as datetimes than as strings,
        and the old always-coerce behavior silently dropped matching
        rows (round-5 advice, high)."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "2024-01-01T05:00:00")], "k int, s string"
        ).coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(2, "2024-01-01 00:00:00")], "k int, s string"
        ).coalesce(1).write.mode("append").parquet(path)
        skipping.compute_stats(spark, path, ["s"])
        assert skipping.load_stats(path)["types"]["s"] == "string"
        # exact repro 1: equality on the 'T'-separated value — datetime
        # coercion would normalize it onto the space-separated file's
        # bounds and prune the true match
        for preds in ([("s", "=", "2024-01-01T05:00:00")],
                      # repro 2: '2024-01-01 00:00:00' > '2024-01-01'
                      # lexicographically (row matches); as datetimes
                      # they are EQUAL and the file would be pruned
                      [("s", ">", "2024-01-01")],
                      [("s", "between",
                        ("2024-01-01 00:00:00", "2024-01-01T99"))]):
            got = skipping.read_skipping(spark, path, preds)
            full = _full_scan(spark, path, preds)
            assert _same_rows(got, full)
            assert got.count() == full.count() > 0

    def test_unknown_type_snapshot_never_misprunes(self, spark, tmp_path):
        """A stats file written before column types were recorded must
        degrade to keep-on-ambiguity: strip `types` from the snapshot
        and every read must still equal the plain scan — for BOTH a
        string column with ISO-looking data and a real date column."""
        import json as _json
        import os as _os

        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "2024-01-01T05:00:00", dt.date(2024, 1, 3))],
            "k int, s string, d date").coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(2, "2024-01-01 00:00:00", dt.date(2024, 1, 9))],
            "k int, s string, d date"
        ).coalesce(1).write.mode("append").parquet(path)
        skipping.compute_stats(spark, path, ["s", "d"])
        p = _os.path.join(path, warehouse._STATS_FILE)
        st = _json.load(open(p))
        del st["types"]
        # the persisted rollup was built WITH types; rebuild without
        st.pop("dirs", None)
        _json.dump(st, open(p, "w"))
        for preds in ([("s", "=", "2024-01-01T05:00:00")],
                      [("s", ">", "2024-01-01")],
                      [("d", ">=", dt.date(2024, 1, 9))],
                      [("d", ">=", dt.datetime(2024, 1, 9, 0, 0))]):
            got = skipping.read_skipping(spark, path, preds)
            full = _full_scan(spark, path, preds)
            assert _same_rows(got, full)
            assert got.count() == full.count() > 0

    def test_cli_is_null_pred_parses(self, spark, tmp_path, capsys):
        from corkscrew_spark import cli

        path = str(tmp_path / "t")
        spark.createDataFrame([(1, None), (2, 5)], "k int, v int"
                              ).write.parquet(path)
        assert cli.main(["maintenance", "stats", path, "--cols", "v"]) == 0
        capsys.readouterr()
        assert cli.main(["maintenance", "skip-plan", path,
                         "--pred", "v,is_null"]) == 0
        assert "kept" in capsys.readouterr().out


class TestBloom:
    def _write_ids(self, spark, path, n_files=8, rows_per=100):
        """Round-robin ids: every file's [min,max] RANGE spans the whole
        id space, so zone maps alone can never prune — the layout that
        motivates Bloom filters."""
        df = spark.range(n_files * rows_per).select(
            F.concat(F.lit("doc-"), F.lpad(F.col("id") % 997, 4, "0")
                     ).alias("doc_id"),
            F.col("id").alias("k"))
        df.repartition(n_files).write.parquet(path)
        return df

    def test_equality_probe_prunes_unsortable_ids(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._write_ids(spark, path)
        skipping.compute_stats(spark, path, ["doc_id"],
                               bloom_cols=["doc_id"])
        # zone maps alone: nothing pruned (every file spans the range)
        # find an id that lives in exactly one file
        target = spark.read.parquet(path).filter(
            F.col("k") == 5).head().doc_id
        preds = [("doc_id", "=", target)]
        plan = skipping.plan_skip(path, preds)
        assert len(plan["pruned"]) >= 6, "bloom must prune most files"
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))

    def test_no_false_negatives_over_every_id(self, spark, tmp_path):
        """Each present id's plan must keep its containing file — the
        zero-false-negative contract, checked exhaustively."""
        path = str(tmp_path / "t")
        self._write_ids(spark, path, n_files=4, rows_per=50)
        skipping.compute_stats(spark, path, ["doc_id"],
                               bloom_cols=["doc_id"])
        full = spark.read.parquet(path).select(
            "doc_id", F.input_file_name().alias("f")).collect()
        stats = skipping.load_stats(path)
        for r in full:
            rel = skipping._file_rel(path, r.f)
            plan = skipping.plan_skip(
                path, [("doc_id", "=", r.doc_id)], stats=stats)
            assert rel in plan["kept"], r.doc_id

    def test_int_and_date_probes(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.range(200).select(
            F.col("id").alias("k"),
            F.date_add(F.lit(dt.date(2024, 1, 1)),
                       (F.col("id") % 40).cast("int")).alias("day"))
        df.repartition(4).write.parquet(path)
        skipping.compute_stats(spark, path, ["k"],
                               bloom_cols=["k", "day"])
        for preds in ([("k", "=", 42)],
                      [("day", "=", dt.date(2024, 1, 7))]):
            got = skipping.read_skipping(spark, path, preds)
            assert _same_rows(got, _full_scan(spark, path, preds)), preds

    def test_unsupported_bloom_column_type_rejected(self, spark, tmp_path):
        """Float/double string images (scientific notation, trimmed
        zeros) aren't reproducible from a Python literal; a mismatched
        hash would be a false-negative PRUNE — so the build refuses."""
        import pytest

        path = str(tmp_path / "t")
        spark.createDataFrame([(1, 1e-7), (2, 0.5)], "k int, v double"
                              ).coalesce(1).write.parquet(path)
        with pytest.raises(ValueError, match="unsupported"):
            skipping.compute_stats(spark, path, ["v"], bloom_cols=["v"])
        with pytest.raises(ValueError, match="multiple of 8"):
            skipping.compute_stats(spark, path, ["k"], bloom_cols=["k"],
                                   bloom_bits=100)

    def test_timestamp_fractional_seconds_probe(self, spark, tmp_path):
        """Spark CAST trims fractional-second zeros ('00:00:00.5');
        the canonical fixed-width rendering keeps build == probe."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 0, 0, 500000)),
             (2, dt.datetime(2024, 1, 2, 12, 0, 0))],
            "k int, ts timestamp").coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(3, dt.datetime(2025, 6, 6, 6, 6, 6))],
            "k int, ts timestamp").coalesce(1).write.mode(
            "append").parquet(path)
        skipping.compute_stats(spark, path, ["k"], bloom_cols=["ts"])
        preds = [("ts", "=", dt.datetime(2024, 1, 1, 0, 0, 0, 500000))]
        plan = skipping.plan_skip(path, preds)
        assert len(plan["kept"]) == 1 and plan["pruned"]
        got = skipping.read_skipping(spark, path, preds)
        assert [r.k for r in got.collect()] == [1]

    def test_timestamp_probe_stands_down_on_tz_change(
            self, spark, tmp_path):
        """Timestamp bloom bitmaps render in the SESSION time zone at
        compute time; if the probing session runs under a different
        zone the canonical strings diverge and a matching file would
        probe false (a wrong-rows prune — round-5 advice, medium). The
        probe must stand down (keep all files) when zones differ, and
        keep pruning when they match."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 5, 0, 0))],
            "k int, ts timestamp").coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(2, dt.datetime(2025, 6, 6, 6, 6, 6))],
            "k int, ts timestamp").coalesce(1).write.mode(
            "append").parquet(path)
        tz0 = spark.conf.get("spark.sql.session.timeZone")
        skipping.compute_stats(spark, path, ["k"], bloom_cols=["ts"])
        stats = skipping.load_stats(path)
        assert stats["bloom"]["tz"] == tz0
        preds = [("ts", "=", dt.datetime(2024, 1, 1, 5, 0, 0))]
        # same zone: the probe prunes the non-matching file
        plan = skipping.plan_skip(path, preds, stats=stats)
        assert len(plan["kept"]) == 1 and plan["pruned"]
        try:
            other = ("America/New_York" if tz0 != "America/New_York"
                     else "Asia/Tokyo")
            spark.conf.set("spark.sql.session.timeZone", other)
            # zone mismatch: timestamp probes stand down — nothing is
            # pruned by the bloom (zone maps on k don't constrain ts),
            # and the read equals the plain scan IN THE NEW ZONE
            plan2 = skipping.plan_skip(path, preds, stats=stats)
            assert sorted(plan2["kept"]) == sorted(
                plan["kept"] + plan["pruned"])
            got = skipping.read_skipping(spark, path, preds, stats=stats)
            assert _same_rows(got, _full_scan(spark, path, preds))
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz0)

    def test_pre_tz_bloom_snapshot_never_trusts_timestamp_probe(
            self, spark, tmp_path):
        import json as _json
        import os as _os

        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 5, 0, 0)),
             (2, dt.datetime(2025, 6, 6, 6, 6, 6))],
            "k int, ts timestamp").repartition(2).write.parquet(path)
        skipping.compute_stats(spark, path, ["k"], bloom_cols=["ts"])
        p = _os.path.join(path, warehouse._STATS_FILE)
        st = _json.load(open(p))
        del st["bloom"]["tz"]
        _json.dump(st, open(p, "w"))
        plan = skipping.plan_skip(
            path, [("ts", "=", dt.datetime(2024, 1, 1, 5, 0, 0))])
        assert plan["pruned"] == []  # stand down: no zone on record

    def test_cross_type_probes_match_spark_coercion(self, spark, tmp_path):
        """Spark coerces the LITERAL toward the column type for
        integral columns ('042' == 42) and promotes a midnight
        timestamp literal onto a date column — the probe must follow,
        never hash the literal's raw rendering."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(42, dt.date(2024, 1, 7)), (7, dt.date(2024, 2, 1))],
            "k long, day date").coalesce(1).write.parquet(path)
        spark.createDataFrame(
            [(1000, dt.date(2030, 1, 1))],
            "k long, day date").coalesce(1).write.mode(
            "append").parquet(path)
        skipping.compute_stats(spark, path, ["k"],
                               bloom_cols=["k", "day"])
        for preds, want in (
            [[("k", "=", "042")], [42]],            # string lit -> int col
            [[("k", "=", 42.0)], [42]],             # integral double lit
            [[("day", "=", dt.datetime(2024, 1, 7))], [42]],  # midnight ts
        ):
            plan = skipping.plan_skip(path, preds)
            assert plan["pruned"], preds
            got = skipping.read_skipping(spark, path, preds)
            assert [r.k for r in got.collect()] == want, preds

    def test_in_list_probe_prunes_when_all_members_miss(
            self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._write_ids(spark, path, n_files=6, rows_per=80)
        skipping.compute_stats(spark, path, ["doc_id"],
                               bloom_cols=["doc_id"])
        present = [r.doc_id for r in
                   spark.read.parquet(path).limit(2).collect()]
        preds = [("doc_id", "in", present + ["doc-none"])]
        plan = skipping.plan_skip(path, preds)
        assert plan["pruned"], "files holding no member must prune"
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))
        # all-absent list prunes every file, result still correct (empty)
        gone = [("doc_id", "in", ["nope-1", "nope-2"])]
        assert skipping.plan_skip(path, gone)["kept"] == []
        assert skipping.read_skipping(spark, path, gone).count() == 0

    def test_in_prunes_on_bloom_only_column(self, spark, tmp_path):
        """A column can have a bloom WITHOUT zone-map stats (--cols ts
        --bloom-cols doc_id); IN must still probe the bloom instead of
        falling through the missing-stats guard."""
        path = str(tmp_path / "t")
        self._write_ids(spark, path, n_files=4, rows_per=50)
        skipping.compute_stats(spark, path, ["k"],
                               bloom_cols=["doc_id"])
        gone = [("doc_id", "in", ["nope-1", "nope-2"])]
        assert skipping.plan_skip(path, gone)["kept"] == []
        present = spark.read.parquet(path).head().doc_id
        both = [("doc_id", "in", [present, "nope-1"])]
        got = skipping.read_skipping(spark, path, both)
        assert _same_rows(got, _full_scan(spark, path, both))

    def test_empty_in_list_consistent_everywhere(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path, n_files=2)
        skipping.compute_stats(spark, path, ["k"])
        preds = [("k", "in", [])]
        assert skipping.plan_skip(path, preds)["kept"] == []
        assert skipping.estimate_scan(path, preds)["rows_est_matched"] == 0
        assert skipping.read_skipping(spark, path, preds).count() == 0

    def test_is_not_null_prunes_all_null_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.createDataFrame([(1, None), (2, None)], "k int, v int"
                              ).coalesce(1).write.parquet(path)
        spark.createDataFrame([(3, 30)], "k int, v int"
                              ).coalesce(1).write.mode(
            "append").parquet(path)
        skipping.compute_stats(spark, path, ["v"])
        preds = [("v", "is_not_null", None)]
        plan = skipping.plan_skip(path, preds)
        assert len(plan["pruned"]) == 1
        got = skipping.read_skipping(spark, path, preds)
        assert [r.k for r in got.collect()] == [3]

    def test_maintenance_rewrites_preserve_bloom(self, spark, tmp_path):
        """compact_table(stats_cols=...) must not silently drop the
        table's bloom opt-in — the EXAMPLES.md sequence."""
        path = str(tmp_path / "t")
        self._write_ids(spark, path, n_files=4, rows_per=50)
        skipping.compute_stats(spark, path, ["k"], bloom_cols=["doc_id"])
        warehouse.compact_table(spark, path, target_file_bytes=2000,
                                sort_cols=["k"], stats_cols=["k"])
        stats = skipping.load_stats(path)
        assert stats.get("bloom"), "bloom opt-in lost by compaction"
        target = spark.read.parquet(path).head().doc_id
        preds = [("doc_id", "=", target)]
        plan = skipping.plan_skip(path, preds, stats=stats)
        assert plan["fallback"] is None and plan["pruned"]
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))

    def test_bloom_survives_refresh(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._write_ids(spark, path, n_files=4, rows_per=50)
        skipping.compute_stats(spark, path, ["doc_id"],
                               bloom_cols=["doc_id"])
        spark.createDataFrame([("doc-new", 9999)], "doc_id string, k long"
                              ).coalesce(1).write.mode(
            "append").parquet(path)
        refreshed = skipping.refresh_stats(spark, path)
        assert refreshed.get("bloom"), "bloom config must carry through"
        preds = [("doc_id", "=", "doc-new")]
        plan = skipping.plan_skip(path, preds, stats=refreshed)
        assert not plan["unknown"] and len(plan["kept"]) >= 1
        assert plan["pruned"], "old files prune on the new id"
        got = skipping.read_skipping(spark, path, preds)
        assert got.count() == 1


class TestRefresh:
    def test_refresh_touches_only_delta_files(self, spark, tmp_path):
        """Untouched files' entries must be carried over verbatim, not
        recomputed — proven by tampering one stored bound and watching
        it survive the refresh."""
        path = str(tmp_path / "t")
        _write_clustered(spark, path, n_files=4)
        stats = skipping.compute_stats(spark, path, ["k"])
        spark.createDataFrame(
            [(9999, 0, dt.date(2024, 3, 1))], "k long, v long, day date"
        ).write.mode("append").parquet(path)
        victim = sorted(stats["files"])[0]
        stats["files"][victim]["stats"]["k"][0] = -777  # tamper marker
        import json as _json
        with open(path + "/_column_stats.json", "w") as fh:
            _json.dump(stats, fh)
        refreshed = skipping.refresh_stats(spark, path)
        assert refreshed["files"][victim]["stats"]["k"][0] == -777
        # every appended part file (incl. zero-row parts) gained stats
        assert len(refreshed["files"]) >= 5
        plan = skipping.plan_skip(path, [("k", "=", 9999)])
        assert not plan["unknown"] and len(plan["kept"]) == 1

    def test_refresh_recomputes_stale_partition_and_clears_it(
            self, spark, tmp_path):
        path = str(tmp_path / "t")
        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(f"id{i}", f"r{i % 2}", i, t0) for i in range(20)],
            "id string, region string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, df, ["id"],
                               partition_cols=["region"])
        skipping.compute_stats(spark, path, ["score"])
        upd = spark.createDataFrame(
            [("id0", "r0", 999, dt.datetime(2024, 1, 2))],
            "id string, region string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, upd, ["id"],
                               partition_cols=["region"])
        refreshed = skipping.refresh_stats(spark, path)
        preds = [("score", ">=", 500)]
        plan = skipping.plan_skip(path, preds, stats=refreshed)
        assert plan["fallback"] is None and not plan["stale"]
        assert plan["pruned"], "r1's files prune on the fresh bounds"
        got = skipping.read_skipping(spark, path, preds)
        assert [r.id for r in got.collect()] == ["id0"]

    def test_refresh_drops_deleted_partitions(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.range(100).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 50, "2024-01-01")
            .otherwise("2024-02-01").alias("day"))
        warehouse.write_partitioned(df, path, ["day"])
        skipping.compute_stats(spark, path, ["k"])
        # write_partitioned doesn't log; seed the log so the drop's
        # commit is the only entry after the stats snapshot
        warehouse.retention_drop_partitions(path, "day", "2024-02-01")
        refreshed = skipping.refresh_stats(spark, path)
        assert all(not rel.startswith("day=2024-01-01/")
                   for rel in refreshed["files"])
        assert skipping.read_skipping(
            spark, path, [("k", "<", 200)]).count() == 50

    def test_refresh_after_full_rewrite_recomputes_all(
            self, spark, tmp_path):
        path = str(tmp_path / "t")
        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [("a", 1, t0), ("b", 2, t0)],
            "id string, score int, scanned_at timestamp")
        warehouse.merge_upsert(spark, path, df, ["id"])
        skipping.compute_stats(spark, path, ["score"])
        warehouse.merge_upsert(
            spark, path,
            spark.createDataFrame(
                [("c", 900, dt.datetime(2024, 1, 2))],
                "id string, score int, scanned_at timestamp"),
            ["id"])
        refreshed = skipping.refresh_stats(spark, path)
        plan = skipping.plan_skip(path, [("score", ">=", 500)],
                                  stats=refreshed)
        assert plan["fallback"] is None
        got = skipping.read_skipping(spark, path, [("score", ">=", 500)])
        assert [r.id for r in got.collect()] == ["c"]


class TestDirRollup:
    def _partitioned(self, spark, path):
        df = spark.range(300).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), (F.col("id") / 100).cast("int"))
            .alias("bucket"))
        warehouse.write_partitioned(df, path, ["bucket"])

    def test_rollup_written_and_prunes_directories(self, spark, tmp_path):
        """k correlates with the partition: the dir-level combined
        bounds alone rule out non-matching directories (manifest-style
        pruning), and the per-file pass agrees."""
        path = str(tmp_path / "t")
        self._partitioned(spark, path)
        stats = skipping.compute_stats(spark, path, ["k"])
        assert stats["dirs"], "rollup must be materialized"
        assert any(d.startswith("bucket=") for d in stats["dirs"])
        preds = [("k", ">=", 250)]
        plan = skipping.plan_skip(path, preds)
        assert not any(r.startswith(("bucket=d0/", "bucket=d1/"))
                       for r in plan["kept"])
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))
        assert got.count() == 50

    def test_unknown_file_in_pruned_directory_still_read(
            self, spark, tmp_path):
        """Dir-level pruning only covers files the snapshot knows; a
        file appended into an otherwise-pruned directory must be
        kept via the unknown-file net."""
        path = str(tmp_path / "t")
        self._partitioned(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        spark.createDataFrame([(999,)], "k long").coalesce(1).write.mode(
            "append").parquet(path + "/bucket=d0")
        preds = [("k", ">=", 900)]
        plan = skipping.plan_skip(path, preds)
        assert any(r.startswith("bucket=d0/") for r in plan["unknown"])
        got = skipping.read_skipping(spark, path, preds)
        assert [r.k for r in got.collect()] == [999]

    def test_dir_verdict_fires_before_per_file_checks(
            self, spark, tmp_path):
        """Prove the directory short-circuit is live, not dead code:
        widen a pruned dir's PER-FILE bounds so the file pass would
        keep them — the untouched dir rollup must still prune."""
        import json as _json

        path = str(tmp_path / "t")
        self._partitioned(spark, path)
        stats = skipping.compute_stats(spark, path, ["k"])
        doctored = _json.loads(_json.dumps(stats))  # deep copy
        victims = [r for r in doctored["files"]
                   if r.startswith("bucket=d0/")]
        assert victims
        for r in victims:
            doctored["files"][r]["stats"]["k"][0] = 0
            doctored["files"][r]["stats"]["k"][1] = 10_000
        preds = [("k", ">=", 250)]
        plan = skipping.plan_skip(path, preds, stats=doctored)
        assert all(r in plan["pruned"] for r in victims), \
            "dir rollup must prune despite keep-able per-file bounds"

    def test_dir_bloom_rollup_prunes_point_lookups(self, spark, tmp_path):
        """The OR of member bitmaps keeps zero false negatives at the
        directory level; an absent id prunes dirs before any per-file
        bitmap is decoded — proven by doctoring the per-file blooms to
        all-ones (which would keep every file) and watching the
        untouched dir rollup still prune."""
        import base64 as _b64
        import json as _json

        path = str(tmp_path / "t")
        df = spark.range(300).select(
            F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
            F.concat(F.lit("d"), (F.col("id") / 100).cast("int"))
            .alias("bucket"))
        warehouse.write_partitioned(df, path, ["bucket"])
        stats = skipping.compute_stats(spark, path, ["doc_id"],
                                       bloom_cols=["doc_id"])
        assert stats.get("dir_blooms")
        # present id: kept, result identical to a full scan
        preds = [("doc_id", "=", "doc-250")]
        got = skipping.read_skipping(spark, path, preds)
        assert got.count() == 1
        # doctored: per-file blooms say "maybe" for everything
        doctored = _json.loads(_json.dumps(stats))
        ones = _b64.b64encode(
            bytes([0xFF]) * (doctored["bloom"]["m"] // 8)).decode()
        for rec in doctored["files"].values():
            rec["bloom"]["doc_id"] = ones
        plan = skipping.plan_skip(
            path, [("doc_id", "=", "doc-nope")], stats=doctored)
        assert plan["kept"] == [], \
            "dir blooms must prune even when file blooms would keep"

    def test_unknown_op_rejected_not_crashed(self, spark, tmp_path,
                                             capsys):
        """A typo'd op must raise a clear ValueError (and exit 2 from
        the CLI), not crash in the kernel or silently mis-prune."""
        import pytest

        from corkscrew_spark import cli

        path = str(tmp_path / "t")
        self._partitioned(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        with pytest.raises(ValueError, match="unsupported op"):
            skipping.plan_skip(path, [("k", "!=", 5)])
        assert cli.main(["maintenance", "skip-plan", path,
                         "--pred", "k,!=,5"]) == 2
        assert "unsupported op" in capsys.readouterr().err

    def test_dir_bounds_prune_equality_without_bloom(
            self, spark, tmp_path):
        """= and IN prune at directory granularity from zone-map bounds
        alone (no bloom built) — proven via the doctored-file trick."""
        import json as _json

        path = str(tmp_path / "t")
        self._partitioned(spark, path)
        stats = skipping.compute_stats(spark, path, ["k"])
        doctored = _json.loads(_json.dumps(stats))
        victims = [r for r in doctored["files"]
                   if r.startswith("bucket=d0/")]
        for r in victims:  # per-file bounds would KEEP everything
            doctored["files"][r]["stats"]["k"][0] = 0
            doctored["files"][r]["stats"]["k"][1] = 10_000
        for preds in ([("k", "=", 250)], [("k", "in", [250, 299])]):
            plan = skipping.plan_skip(path, preds, stats=doctored)
            assert all(r in plan["pruned"] for r in victims), preds
        got = skipping.read_skipping(spark, path, [("k", "=", 250)])
        assert got.count() == 1

    def test_pre_rollup_snapshot_still_plans(self, spark, tmp_path):
        """Old stats files without the 'dirs' key fall back to the
        per-file pass untouched."""
        import json as _json

        path = str(tmp_path / "t")
        self._partitioned(spark, path)
        stats = skipping.compute_stats(spark, path, ["k"])
        del stats["dirs"]
        with open(path + "/_column_stats.json", "w") as fh:
            _json.dump(stats, fh)
        preds = [("k", "<", 100)]
        plan = skipping.plan_skip(path, preds)
        assert plan["pruned"]
        got = skipping.read_skipping(spark, path, preds)
        assert got.count() == 100


class TestEstimate:
    def test_estimate_matches_plan_and_bytes(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        est = skipping.estimate_scan(path, [("k", ">=", 700)])
        assert est["fallback"] is None
        assert est["files_total"] == 8
        assert est["files_kept"] <= 2
        assert 0 < est["bytes_kept"] < est["bytes_total"]
        assert est["rows_known_kept"] >= 100  # the matching k-range

    def test_estimate_on_fresh_stats_makes_no_getsize_calls(
            self, spark, tmp_path, monkeypatch):
        """Sizes are recorded in the stats at compute time; an estimate
        over a stats-fresh table must not walk the filesystem (O(files)
        getsize syscalls per estimate is the million-file
        anti-pattern). Only stale/unknown files may be stat'ed."""
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        stats = skipping.load_stats(path)
        plan = skipping.plan_skip(path, [("k", ">=", 700)], stats=stats)
        calls = []
        real = skipping.os.path.getsize
        monkeypatch.setattr(skipping.os.path, "getsize",
                            lambda p: calls.append(p) or real(p))
        est = skipping.estimate_scan(path, [("k", ">=", 700)],
                                     stats=stats, plan=plan)
        assert calls == []
        assert est["files_total"] == 8 and est["bytes_total"] > 0
        # an appended (unknown) file IS allowed to be stat'ed — and
        # its bytes must still be counted
        spark.range(5).select(F.col("id").alias("k"),
                              F.lit(0).alias("v"),
                              F.lit(dt.date(2024, 2, 1)).alias("day")
                              ).coalesce(1).write.mode(
            "append").parquet(path)
        plan2 = skipping.plan_skip(path, [("k", ">=", 700)], stats=stats)
        est2 = skipping.estimate_scan(path, [("k", ">=", 700)],
                                      stats=stats, plan=plan2)
        assert len(calls) == len(plan2["unknown"]) * 2  # total + kept
        assert est2["bytes_total"] > est["bytes_total"]

    def test_estimate_selectivity_for_equality(self, spark, tmp_path):
        """rows_est_matched ~ rows/ndv per kept file — the CBO guess
        behind admission control. 100 distinct k per 100-row file ->
        about one match for an equality probe."""
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        est = skipping.estimate_scan(path, [("k", "=", 42)])
        assert est["rows_est_matched"] is not None
        assert est["rows_est_matched"] <= 5  # ~1 with HLL error margin
        est_in = skipping.estimate_scan(
            path, [("k", "in", [1, 2, 3, 150])])
        assert 2 <= est_in["rows_est_matched"] <= 12
        # range predicates carry no estimate (no histogram)
        assert skipping.estimate_scan(
            path, [("k", ">=", 700)])["rows_est_matched"] is None

    def test_estimate_none_on_mixed_era_stats(self, spark, tmp_path):
        """A pre-ndv (3-element) record among the kept files must turn
        the estimate into None, not count at full row weight."""
        import json as _json

        path = str(tmp_path / "t")
        _write_clustered(spark, path, n_files=4)
        stats = skipping.compute_stats(spark, path, ["k"])
        victim = sorted(stats["files"])[0]
        stats["files"][victim]["stats"]["k"] = \
            stats["files"][victim]["stats"]["k"][:3]  # old-era record
        with open(path + "/_column_stats.json", "w") as fh:
            _json.dump(stats, fh)
        est = skipping.estimate_scan(path, [("k", "=", 5)])
        assert est["rows_est_matched"] is None
        assert est["fallback"] is None  # pruning itself still works

    def test_estimate_fallback_is_full_table(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path, n_files=3)
        est = skipping.estimate_scan(path, [("k", "<", 5)])
        assert est["fallback"] == "no stats file"
        assert est["files_kept"] == est["files_total"] == 3


def _row_matches(v, preds) -> bool:
    """SQL three-valued truth of the AND-predicate on one value: NULL
    never satisfies a comparison; is_null matches exactly NULL."""
    for _col, op, arg in preds:
        if op == "is_null":
            if v is not None:
                return False
        elif op == "is_not_null":
            if v is None:
                return False
        elif v is None:
            return False
        elif op == "between":
            if not (arg[0] <= v <= arg[1]):
                return False
        elif op == "in":
            if v not in arg:
                return False
        elif not {"<": v < arg, "<=": v <= arg, ">": v > arg,
                  ">=": v >= arg, "=": v == arg}[op]:
            return False
    return True


def _rec_for(rows) -> dict:
    present = [v for v in rows if v is not None]
    return {"rows": len(rows), "stats": {"v": [
        min(present) if present else None,
        max(present) if present else None,
        sum(1 for v in rows if v is None)]}}


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _VALS = st.lists(st.one_of(st.none(), st.integers(-50, 50)),
                     min_size=1, max_size=10)

    def _one_pred(draw_op, a, b):
        if draw_op == "between":
            return ("v", "between", (min(a, b), max(a, b)))
        if draw_op == "in":
            return ("v", "in", [a, b])
        return ("v", draw_op, a)

    _PREDS = st.lists(
        st.builds(_one_pred,
                  st.sampled_from(["<", "<=", ">", ">=", "=", "between",
                                   "in", "is_null", "is_not_null"]),
                  st.integers(-60, 60), st.integers(-60, 60)),
        min_size=1, max_size=3)

    @settings(max_examples=400, deadline=None)
    @given(rows=_VALS, preds=_PREDS)
    def test_never_prunes_a_matching_file(rows, preds):
        """The safety property zone maps must satisfy: a file containing
        ANY row that matches the AND-predicate must never be pruned.
        (False keeps cost I/O; a false prune would lose rows.)"""
        if any(_row_matches(v, preds) for v in rows):
            assert skipping._file_may_match(_rec_for(rows), preds)

    @settings(max_examples=400, deadline=None)
    @given(rows_files=st.lists(_VALS, min_size=1, max_size=5),
           preds=_PREDS)
    def test_dir_rollup_never_prunes_a_matching_directory(
            rows_files, preds):
        """Manifest-level safety: if ANY row in ANY of the directory's
        files matches, the combined dir bounds must not prune."""
        files = {f"f{i}.parquet": _rec_for(rows)
                 for i, rows in enumerate(rows_files)}
        rollup = skipping._dir_rollup({"files": files})
        if any(_row_matches(v, preds)
               for rows in rows_files for v in rows):
            assert skipping._dir_may_match(rollup[""], preds)

    # string values deliberately include ISO-timestamp LOOKALIKES with
    # mixed 'T'/space separators and date-only forms — the shapes whose
    # lexicographic and temporal orders disagree (the round-6 type
    # gating exists exactly for these)
    _STR_VALS = st.lists(
        st.one_of(st.none(), st.sampled_from([
            "2024-01-01", "2024-01-01 00:00:00", "2024-01-01T05:00:00",
            "2024-01-01 23:59:59", "2024-01-02", "a", "z", "",
            "2024-01-01T00:00:00.000001", "09", "10",
        ])),
        min_size=1, max_size=8)

    _STR_PREDS = st.lists(
        st.builds(_one_pred,
                  st.sampled_from(["<", "<=", ">", ">=", "=", "between",
                                   "in", "is_null", "is_not_null"]),
                  st.sampled_from([
                      "2024-01-01", "2024-01-01 00:00:00",
                      "2024-01-01T05:00:00", "2024-01-02", "a", "m",
                      "09", "1"]),
                  st.sampled_from([
                      "2024-01-01T23:00:00", "2024-01-01 12:00:00",
                      "2024-01-03", "b", "z"])),
        min_size=1, max_size=3)

    @settings(max_examples=400, deadline=None)
    @given(rows=_STR_VALS, preds=_STR_PREDS)
    def test_string_columns_never_prune_a_matching_file(rows, preds):
        """Type-gated safety on STRING columns holding ISO-lookalikes:
        Python string comparison IS Spark's string comparison, so with
        the recorded type the kernel must keep every file containing a
        match — the old always-coerce-to-datetime behavior fails this
        on mixed 'T'/space separators (round-5 advice, high)."""
        if any(_row_matches(v, preds) for v in rows):
            assert skipping._file_may_match(_rec_for(rows), preds,
                                            types={"v": "string"})

    @settings(max_examples=400, deadline=None)
    @given(rows=_STR_VALS, preds=_STR_PREDS)
    def test_string_pruning_exact_on_singletons(rows, preds):
        for v in rows:
            assert skipping._file_may_match(
                _rec_for([v]), preds, types={"v": "string"}) \
                == _row_matches(v, preds)

    _BRANCHES = st.lists(_PREDS, min_size=1, max_size=3)

    @settings(max_examples=300, deadline=None)
    @given(rows=_VALS, branches=_BRANCHES)
    def test_dnf_never_prunes_a_matching_file(rows, branches):
        """Disjunctive safety: if ANY row matches ANY branch, the file
        must survive the any-branch check plan_skip_any runs."""
        if any(_row_matches(v, b) for v in rows for b in branches):
            rec = _rec_for(rows)
            assert any(skipping._file_may_match(rec, b)
                       for b in branches)

    @settings(max_examples=300, deadline=None)
    @given(rows=_VALS, branches=_BRANCHES)
    def test_dnf_exact_on_singletons(rows, branches):
        for v in rows:
            rec = _rec_for([v])
            assert any(skipping._file_may_match(rec, b)
                       for b in branches) \
                == any(_row_matches(v, b) for b in branches)

    @settings(max_examples=400, deadline=None)
    @given(rows=_VALS, preds=_PREDS)
    def test_pruning_is_exact_on_singleton_files(rows, preds):
        """With one row per file the zone map IS the row, so pruning
        must be exact, not merely safe — keeps the bounds math honest
        (e.g. off-by-one in the open/closed comparisons)."""
        for v in rows:
            assert skipping._file_may_match(_rec_for([v]), preds) \
                == _row_matches(v, preds)
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


class TestPlanShape:
    def test_pruned_read_scans_only_kept_files(self, spark, tmp_path):
        """The physical plan's scan must list only the kept files —
        pruning happens before Spark ever opens a footer."""
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        preds = [("k", ">=", 700)]
        plan = skipping.plan_skip(path, preds)
        df = skipping.read_skipping(spark, path, preds)
        files = {skipping._file_rel(path, r.f)
                 for r in df.select(
                     F.input_file_name().alias("f")).distinct().collect()}
        assert files <= set(plan["kept"])
        assert not files & set(plan["pruned"])


class TestLtzZoneMaps:
    def test_ltz_bounds_render_in_session_zone_and_gate_on_mismatch(
            self, spark, tmp_path):
        """Session-zoned (LTZ) timestamp bounds must be session-tz
        renderings (collect() would go through the DRIVER OS zone),
        and pruning on them must stand down when a later session runs
        under a different zone — a naive literal means a different
        instant there (round-6 review finding)."""
        path = str(tmp_path / "t")
        tz0 = spark.conf.get("spark.sql.session.timeZone")
        spark.sql(
            "SELECT id AS k, timestamp'2024-06-01 00:00:00' + "
            "make_interval(0,0,0,id,0,0,0) AS ts FROM range(6)"
        ).repartitionByRange(3, "ts").write.parquet(path)
        skipping.compute_stats(spark, path, ["ts"])
        stats = skipping.load_stats(path)
        assert stats["types"]["ts"] == "timestamp"
        assert stats["tz"] == tz0
        preds = [("ts", ">=", dt.datetime(2024, 6, 5, 0, 0))]
        plan = skipping.plan_skip(path, preds)
        assert plan["fallback"] is None and plan["pruned"]
        got = skipping.read_skipping(spark, path, preds)
        assert _same_rows(got, _full_scan(spark, path, preds))
        try:
            other = ("America/New_York" if tz0 != "America/New_York"
                     else "Asia/Tokyo")
            spark.conf.set("spark.sql.session.timeZone", other)
            # zone mismatch: the ts conjunct must not prune anything,
            # and the read equals the plain scan IN THE NEW ZONE
            plan2 = skipping.plan_skip(path, preds)
            assert plan2["pruned"] == []
            got2 = skipping.read_skipping(spark, path, preds)
            assert _same_rows(got2, _full_scan(spark, path, preds))
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz0)

    def test_ntz_timestamps_stay_zone_free(self, spark, tmp_path):
        path = str(tmp_path / "t")
        tz0 = spark.conf.get("spark.sql.session.timeZone")
        spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1 + i)) for i in range(6)],
            "k int, ts timestamp_ntz"
        ).repartitionByRange(3, "ts").write.parquet(path)
        skipping.compute_stats(spark, path, ["ts"])
        assert skipping.load_stats(path)["types"]["ts"] == "timestamp_ntz"
        preds = [("ts", ">=", dt.datetime(2024, 1, 5))]
        try:
            spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
            plan = skipping.plan_skip(path, preds)
            assert plan["pruned"]  # ntz never stands down
            got = skipping.read_skipping(spark, path, preds)
            assert _same_rows(got, _full_scan(spark, path, preds))
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz0)

    def test_refresh_recomputes_on_zone_change(self, spark, tmp_path):
        path = str(tmp_path / "t")
        tz0 = spark.conf.get("spark.sql.session.timeZone")
        spark.sql(
            "SELECT id AS k, timestamp'2024-06-01 00:00:00' AS ts "
            "FROM range(4)").coalesce(1).write.parquet(path)
        skipping.compute_stats(spark, path, ["ts"])
        try:
            other = ("America/New_York" if tz0 != "America/New_York"
                     else "Asia/Tokyo")
            spark.conf.set("spark.sql.session.timeZone", other)
            out = skipping.refresh_stats(spark, path)
            assert out["tz"] == other  # full recompute, single zone
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz0)


class TestDnfPruning:
    def test_or_branches_prune_and_match_plain_scan(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        branches = [[("k", "<", 50)], [("k", ">=", 750), ("v", "=", 1)]]
        plan = skipping.plan_skip_any(path, branches)
        assert plan["fallback"] is None
        assert plan["pruned"], "middle files miss BOTH branches"
        assert len(plan["kept"]) <= 3
        got = skipping.read_skipping_any(spark, path, branches)
        full = spark.read.parquet(path).filter(
            skipping.predicate_filter_any(branches))
        assert _same_rows(got, full)
        assert got.count() == full.count() > 0

    def test_unconstrained_branch_keeps_everything(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)
        skipping.compute_stats(spark, path, ["k"])
        plan = skipping.plan_skip_any(path, [[("k", "<", 50)], []])
        assert plan["pruned"] == [] and len(plan["kept"]) == 8


def test_estimate_scan_any(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_clustered(spark, path)
    skipping.compute_stats(spark, path, ["k"])
    est = skipping.estimate_scan_any(
        path, [[("k", "<", 50)], [("k", ">=", 750)]])
    assert est["fallback"] is None
    assert est["files_total"] == 8 and 0 < est["files_kept"] <= 3
    assert 0 < est["bytes_kept"] < est["bytes_total"]
    assert est["rows_est_matched"] is None  # overlap unknowable
    # but the union bound is knowable: each range branch keeps one
    # 100-row file, so the bound is their sum
    assert est["rows_est_upper"] == 200.0


class TestDnfRowBound:
    """rows_est_upper is an inclusion-exclusion (union) bound over the
    per-branch estimates: monotone in added branches, never below a
    single branch's own bound, clamped to the table's known rows."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path)  # 800 rows, 8 files of 100
        skipping.compute_stats(spark, path, ["k"])
        return path

    def test_monotone_in_branches(self, table):
        branches = [[("k", "<", 50)], [("k", ">=", 750)],
                    [("k", "between", (300, 349))]]
        prev = 0.0
        for n in range(1, len(branches) + 1):
            est = skipping.estimate_scan_any(table, branches[:n])
            assert est["rows_est_upper"] is not None
            assert est["rows_est_upper"] >= prev  # adding never shrinks
            prev = est["rows_est_upper"]

    def test_clamped_to_table_rows(self, table):
        # 9 copies of a whole-table branch: naive sum would be 7200
        est = skipping.estimate_scan_any(
            table, [[("k", ">=", 0)]] * 9)
        assert est["rows_est_upper"] == 800.0

    def test_eq_branches_bound_by_kept_file_rows(self, table):
        # an equality branch's bound is the rows behind its kept files
        # — a TRUE upper bound. (The earlier rows/ndv point estimate
        # undercounts arbitrarily on skewed columns: review finding.)
        lone = skipping.estimate_scan_any(table, [[("k", "=", 10)]])
        assert lone["rows_est_upper"] == 100  # its one kept file
        both = skipping.estimate_scan_any(
            table, [[("k", "=", 10)], [("k", ">=", 750)]])
        assert both["rows_est_upper"] == 200  # one file per branch

    def test_unconstrained_shapes_have_no_bound(self, table):
        # no branches / an empty branch: every row may match — a 0.0
        # "bound" for a full-table scan was the review's CLI bug
        assert skipping.estimate_scan_any(
            table, [])["rows_est_upper"] is None
        est = skipping.estimate_scan_any(table, [[("k", "<", 50)], []])
        assert est["rows_est_upper"] is None
        assert est["files_kept"] == est["files_total"]  # nothing pruned

    def test_untrusted_files_void_the_bound(self, spark, table):
        # append a file AFTER the stats snapshot: its rows are unknown,
        # so any branch keeping it has no trustworthy bound
        spark.range(5000, 5010).selectExpr(
            "id AS k", "id % 7 AS v", "DATE '2024-01-01' AS day"
        ).coalesce(1).write.mode("append").parquet(table)
        est = skipping.estimate_scan_any(
            table, [[("k", ">=", 750)]])
        assert est["rows_est_upper"] is None
        assert est["files_kept"] >= 2  # unknown file is still read


def test_load_stats_cached_until_file_changes(spark, tmp_path):
    """load_stats parses once per file identity (mtime_ns, size) — a
    resident engine plans every query through it, so re-parsing a
    multi-MB bloom JSON per query would make planning the hot path.
    Any rewrite goes through os.replace, changing the identity."""
    path = str(tmp_path / "t")
    _write_clustered(spark, path, n_files=4)
    skipping.compute_stats(spark, path, ["k"])
    a = skipping.load_stats(path)
    assert skipping.load_stats(path) is a  # cache hit: same object
    skipping.refresh_stats(spark, path)  # rewrites the stats file
    b = skipping.load_stats(path)
    assert b is not a  # new identity -> reparsed
    assert skipping.load_stats(path) is b
    os.remove(os.path.join(path, "_column_stats.json"))
    assert skipping.load_stats(path) is None


class TestReviewSoundness:
    """Round-9 whole-file review findings, each a sound-pruning or
    consistency defect with a concrete wrong-rows/crash scenario."""

    def test_float_literal_vs_bigint_bounds_promotes(self, spark, tmp_path):
        """Spark compares bigint op double IN DOUBLE (lossy above 2^53:
        10**18+63 == 1e18); Python's exact int-vs-float comparison
        disagreed and pruned files whose rows Spark matches."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(10 ** 18 + 63,)], "k long").coalesce(1).write.parquet(path)
        skipping.compute_stats(spark, path, ["k"])
        # the row MATCHES k = 1e18 under Spark's double promotion
        got = skipping.read_skipping(spark, path, [("k", "=", 1e18)])
        assert got.count() == 1
        plan = skipping.plan_skip(path, [("k", "=", 1e18)])
        assert len(plan["kept"]) == 1  # not pruned
        plan = skipping.plan_skip(path, [("k", ">=", 1e18)])
        assert len(plan["kept"]) == 1

    def test_bloom_float_literal_on_integral_stands_down(
            self, spark, tmp_path):
        """A float equality literal on a bigint bloom column has no
        canonical string image (double promotion aliases distinct
        bigints onto it): the probe must stand down, never prune."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(10 ** 18 + 63,)], "k long").coalesce(1).write.parquet(path)
        skipping.compute_stats(spark, path, ["k"], bloom_cols=["k"])
        plan = skipping.plan_skip(path, [("k", "=", 1e18)])
        assert len(plan["kept"]) == 1

    def test_bloom_aware_datetime_literal_stands_down(
            self, spark, tmp_path):
        """An offset-carrying timestamp literal is converted to the
        session zone's wall clock by Spark; rendering OUR wall clock
        (offset dropped) probed the wrong image and pruned matching
        files. The probe must stand down on aware datetimes."""
        import datetime as dt

        path = str(tmp_path / "t")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            spark.createDataFrame(
                [("2024-06-01 00:00:00",)], "ts string"
            ).selectExpr("CAST(ts AS TIMESTAMP) AS ts") \
             .coalesce(1).write.parquet(path)
            skipping.compute_stats(spark, path, ["ts"],
                                   bloom_cols=["ts"])
            aware = dt.datetime(2024, 6, 1, 4, 0, 0,
                                tzinfo=dt.timezone.utc)  # == NY midnight
            plan = skipping.plan_skip(path, [("ts", "=", aware)])
            assert len(plan["kept"]) == 1  # kept, not falsely pruned
            got = skipping.read_skipping(spark, path, [("ts", "=", aware)])
            assert got.count() == 1
        finally:
            spark.conf.set("spark.sql.session.timeZone",
                           spark.sparkContext.getConf().get(
                               "spark.sql.session.timeZone", "UTC"))

    def test_in_none_matches_nothing_not_typeerror(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.range(10).selectExpr("id AS k").coalesce(1) \
            .write.parquet(path)
        skipping.compute_stats(spark, path, ["k"])
        plan = skipping.plan_skip(path, [("k", "in", None)])
        assert plan["kept"] == []  # matches nothing, like the filter
        plan = skipping.plan_skip(path, [("k", "in", [])])
        assert plan["kept"] == []

    def test_refresh_pre_types_snapshot_forces_recompute(
            self, spark, tmp_path):
        """A pre-types snapshot's bounds were rendered under an
        UNRECORDED zone; the incremental path must not retroactively
        stamp current types+tz onto them (that would arm wrong-zone
        bounds) — it recomputes in full instead."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [("2024-01-01 05:30:00",)], "ts string"
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts") \
         .coalesce(1).write.parquet(path)
        skipping.compute_stats(spark, path, ["ts"])
        stats = dict(skipping.load_stats(path))
        legacy = {k: v for k, v in stats.items()
                  if k not in ("types", "tz")}
        skipping._write_stats(path, dict(legacy))
        out = skipping.refresh_stats(spark, path)
        assert out.get("types")  # fully recomputed, types recorded
        # the recompute rendered bounds under the CURRENT zone: a
        # range probe prunes correctly instead of standing down
        assert out["tz"] == spark.conf.get("spark.sql.session.timeZone")

    def test_tz_mismatch_keeps_null_check_pruning(self, spark, tmp_path):
        """Null counts are zone-independent: an LTZ zone mismatch must
        not forfeit is_null/is_not_null pruning."""
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [("2024-01-01 00:00:00",)], "ts string"
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts") \
         .coalesce(1).write.parquet(path)
        skipping.compute_stats(spark, path, ["ts"])
        stats = dict(skipping.load_stats(path))
        stats["tz"] = "Pacific/Chatham"  # simulate a mismatched build
        plan = skipping._plan(path, [[("ts", "is_null", None)]], stats)
        assert plan["kept"] == []  # zero nulls: pruned despite mismatch

    def test_commit_log_parse_cached(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write_clustered(spark, path, n_files=2)
        skipping.compute_stats(spark, path, ["k"])
        log = os.path.join(path, "_commits.jsonl")
        with open(log, "w") as fh:
            fh.write('{"ts_ns": 1, "op": "append", "partitions": []}\n')
        a = skipping._commit_entries(log)
        assert skipping._commit_entries(log) is a  # identity-cached
        with open(log, "a") as fh:  # append changes (mtime, size)
            fh.write('{"ts_ns": 2, "op": "append", "partitions": []}\n')
        b = skipping._commit_entries(log)
        assert b is not a and len(b) == 2


def test_bloom_bits_for_sizing():
    """bloom_bits_for: byte-multiple, floored at the 8192-bit default,
    monotone in keys, ~10 bits/key at the 1% default, and tighter
    targets cost more bits."""
    assert skipping.bloom_bits_for(0) == 8192
    assert skipping.bloom_bits_for(100) == 8192  # floor
    m = skipping.bloom_bits_for(10_000)
    assert m % 8 == 0
    assert 9 * 10_000 <= m <= 11 * 10_000  # ~10 bits/key @ 1%, k=5
    assert skipping.bloom_bits_for(20_000) > m  # monotone
    assert skipping.bloom_bits_for(10_000, fp=0.001) > m  # tighter FP
    # the sized filter actually holds its target: build stats for a
    # file with n distinct keys and probe misses
    import zlib as _zlib

    n, misses, fps = 5_000, 2_000, 0
    bits = skipping.bloom_bits_for(n)
    bitmap = bytearray(bits // 8)
    for i in range(n):
        for s in range(5):
            pos = _zlib.crc32(f"{i}#{s}".encode()) % bits
            bitmap[pos // 8] |= 1 << (pos % 8)
    for i in range(n, n + misses):
        if all(bitmap[(_zlib.crc32(f"{i}#{s}".encode()) % bits) // 8]
               >> ((_zlib.crc32(f"{i}#{s}".encode()) % bits) % 8) & 1
               for s in range(5)):
            fps += 1
    assert fps / misses < 0.03  # ~1% target with slack


@pytest.fixture(scope="module")
def drifted(spark, tmp_path_factory):
    """Four files of (k, v) plus four of (k, v, extra), zone maps on k.
    ``k < 100`` keeps one OLD file only. The wider files are a raw
    append, standing in for an out-of-band writer: ``warehouse.append``
    refuses the drift."""
    path = str(tmp_path_factory.mktemp("drift") / "tbl")
    spark.range(400).selectExpr("id AS k", "id % 7 AS v") \
        .repartitionByRange(4, "k").write.parquet(path)
    spark.range(400, 800).selectExpr(
        "id AS k", "id % 7 AS v", "concat('x', id) AS extra") \
        .repartitionByRange(4, "k").write.mode("append").parquet(path)
    skipping.compute_stats(spark, path, ["k"])
    assert len(skipping.plan_skip(path, [("k", "<", 100)])["kept"]) == 1
    return path


@pytest.mark.parametrize("surface", ["sql_star", "sql_extra", "read_table",
                                     "kql_project"])
def test_pruned_read_keeps_the_plain_schema(spark, drifted, surface):
    """Every pruned read carries the table's plain-read schema: a kept
    file without ``extra`` reads it as null instead of dropping the
    column (or failing a query that validated against the plain view).
    The plain read merges footers here, so its schema holds ``extra``
    whichever file sorts first. ``versioned.read_version`` is not a
    surface: no versioned writer mixes schemas inside one snapshot
    (``upsert_version`` refuses new columns)."""
    from corkscrew_spark.engine import QueryEngine
    from corkscrew_spark.kql import kql_to_df_skipping

    conf = "spark.sql.parquet.mergeSchema"
    spark.conf.set(conf, "true")
    try:
        plain = spark.read.parquet(drifted).filter("k < 100")
        assert "extra" in plain.columns
        if surface.startswith("sql"):
            eng = QueryEngine(spark, register_helpers=False)
            eng.register_warehouse("drift", drifted)
            cols = "*" if surface == "sql_star" else "k, extra"
            got = eng.execute(
                f"SELECT {cols} FROM drift WHERE k < 100").df
        elif surface == "read_table":
            got = warehouse.read_table(spark, drifted, [("k", "<", 100)])
        else:
            got = kql_to_df_skipping(
                spark, "T | where k < 100 | project k, extra",
                {"T": drifted})
        want = (["k", "extra"] if surface in ("sql_extra", "kql_project")
                else plain.columns)
        assert got.columns == want
        assert _same_rows(got, plain.select(*want))
        assert got.filter("extra IS NOT NULL").count() == 0
        assert got.count() == 100
    finally:
        spark.conf.unset(conf)


#: partition values Spark escapes or encodes differently on disk, in
#: inputFiles() URIs and in _metadata.file_path; the first five hold
#: k < 300
_ODD_PARTS = ["a b", "x%y", "p+q", "c=d", "é", "plain0", "plain1", "plain2"]


@pytest.fixture(scope="module")
def oddly(spark, tmp_path_factory):
    """A hive-partitioned table of 48 files (8 partitions of 6),
    partitioned on ``part`` whose values need escaping, with a user
    column named ``_metadata`` and zone maps on ``k``: files hold
    disjoint runs of 10 keys, partitions runs of 60."""
    path = str(tmp_path_factory.mktemp("odd") / "tbl")
    spark.range(480).select(
        F.col("id").alias("k"),
        F.concat(F.lit("m"), F.col("id")).alias("_metadata"),
        F.element_at(F.array(*map(F.lit, _ODD_PARTS)),
                     (F.col("id") / 60).cast("int") + 1).alias("part"),
    ).repartitionByRange(48, "k").write.partitionBy("part").parquet(path)
    skipping.compute_stats(spark, path, ["k"])
    assert len(skipping._list_data_files(path)) >= 40
    return path


def test_wide_pruned_read_builds_without_a_job(spark, oddly):
    """A pruned read keeping more than 32 files (Spark's parallel
    listing threshold) is a filter over the plain read: building it
    lists nothing, so it runs no Spark job."""
    preds = [("k", ">=", 80)]
    plan = skipping.plan_skip(oddly, preds)
    assert 32 < len(plan["kept"]) < len(plan["kept"]) + len(plan["pruned"])
    base = spark.read.parquet(oddly)
    with count_jobs(spark) as jobs:
        got = skipping.read_skipping(spark, oddly, preds, plan=plan,
                                     base=base)
    assert jobs() == 0, f"building the pruned read ran {jobs()} jobs"
    assert got.count() == 400


def test_odd_partition_names_prune_to_the_plain_rows(spark, oddly):
    """Kept files in partitions named with a space, %, +, = and é are
    matched on their file_path spelling (no fallback to the whole
    table), and a user column named _metadata keeps its own values."""
    from corkscrew_spark.testing import scanned_files

    preds = [("k", "<", 300)]
    kept = skipping.plan_skip(oddly, preds)["kept"]
    assert len(kept) == 30
    got = warehouse.read_table(spark, oddly, preds)
    plain = spark.read.parquet(oddly).filter("k < 300")
    assert got.columns == plain.columns
    assert "_metadata" in got.columns
    assert _same_rows(got, plain)
    assert sorted({r.part for r in got.select("part").collect()}) \
        == sorted(_ODD_PARTS[:5])
    assert len(scanned_files(got)) == 30
