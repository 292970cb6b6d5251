"""Versioned tables: snapshot isolation, time travel, conflicts, vacuum."""

from __future__ import annotations

import os

import pytest

from corkscrew_spark import versioned
from corkscrew_spark.testing import scanned_files


def _df(spark, rows):
    return spark.createDataFrame(rows, ["k", "v"])


class TestVersioned:
    def test_versions_and_time_travel(self, spark, tmp_path):
        p = str(tmp_path / "t")
        v1 = versioned.write_version(_df(spark, [(1, "a")]), p, commit_ts=100.0)
        v2 = versioned.write_version(_df(spark, [(1, "b"), (2, "c")]), p,
                                     commit_ts=200.0)
        assert (v1, v2) == (1, 2)
        assert {r.v for r in versioned.read_version(spark, p).collect()} == {"b", "c"}
        assert {r.v for r in versioned.read_version(spark, p, version=1).collect()} == {"a"}
        assert {r.v for r in
                versioned.read_version(spark, p, as_of_ts=150.0).collect()} == {"a"}
        assert {r.v for r in
                versioned.read_version(spark, p, as_of_ts=250.0).collect()} == {"b", "c"}
        with pytest.raises(ValueError, match="no version at or before"):
            versioned.read_version(spark, p, as_of_ts=50.0)

    def test_history_log(self, spark, tmp_path):
        p = str(tmp_path / "t")
        versioned.write_version(_df(spark, [(1, "a")]), p)
        versioned.upsert_version(spark, p, _df(spark, [(1, "z")]), ["k"],
                                 order_col="v")
        h = versioned.history(p)
        assert [e["op"] for e in h] == ["overwrite", "upsert"]
        assert [e["version"] for e in h] == [1, 2]
        assert h[0]["rows"] == 1

    def test_upsert_merges_by_key(self, spark, tmp_path):
        p = str(tmp_path / "t")
        versioned.write_version(_df(spark, [(1, "a"), (2, "b")]), p)
        versioned.upsert_version(spark, p, _df(spark, [(2, "z2"), (3, "c")]),
                                 ["k"], order_col="v")
        got = {r.k: r.v for r in versioned.read_version(spark, p).collect()}
        assert got == {1: "a", 2: "z2", 3: "c"}
        # old snapshot still intact (readers keep their version)
        old = {r.k for r in versioned.read_version(spark, p, version=1).collect()}
        assert old == {1, 2}

    def test_concurrent_writer_conflict(self, spark, tmp_path):
        p = str(tmp_path / "t")
        versioned.write_version(_df(spark, [(1, "a")]), p)
        # a racing writer claimed v=2 first
        os.mkdir(os.path.join(p, "v=2"))
        with pytest.raises(versioned.VersionConflict):
            versioned.write_version(_df(spark, [(9, "x")]), p)

    def test_vacuum_keeps_manifest_lineage(self, spark, tmp_path):
        p = str(tmp_path / "t")
        for i in range(4):
            versioned.write_version(_df(spark, [(i, str(i))]), p)
        dropped = versioned.vacuum(p, keep_last=2)
        assert dropped == [1, 2]
        assert len(versioned.history(p)) == 4  # lineage survives
        with pytest.raises(ValueError, match="vacuumed"):
            versioned.read_version(spark, p, version=1)
        assert versioned.read_version(spark, p, version=4).count() == 1


class TestEngineTimeTravel:
    def test_version_as_of_clause(self, spark, tmp_path):
        from corkscrew_spark import versioned
        from corkscrew_spark.engine import QueryEngine

        path = str(tmp_path / "vt")
        versioned.write_version(
            spark.createDataFrame([(1, "a")], "id long, v string"), path)
        versioned.write_version(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            path)
        eng = QueryEngine(spark, register_helpers=False)
        eng.register_versioned("items", path)
        # latest view
        assert eng.execute("SELECT COUNT(*) AS n FROM items").rows()[0].n == 2
        # explicit version travel
        r = eng.execute(
            "SELECT COUNT(*) AS n FROM items VERSION AS OF 1").rows()
        assert r[0].n == 1
        # timestamp travel: as-of far future resolves to latest
        r = eng.execute(
            "SELECT COUNT(*) AS n FROM items TIMESTAMP AS OF '2099-01-01'"
        ).rows()
        assert r[0].n == 2

    def test_unregistered_table_clause_untouched(self, spark, tmp_path):
        from corkscrew_spark.engine import QueryEngine, QueryValidationError
        import pytest as _pytest

        eng = QueryEngine(spark, register_helpers=False)
        with _pytest.raises(QueryValidationError):
            eng.execute("SELECT * FROM nosuch VERSION AS OF 1")

    def test_clause_inside_literal_or_comment_not_rewritten(self, spark, tmp_path):
        """`items VERSION AS OF 1` inside a string literal or comment is
        data/prose, not a time-travel clause — it must survive verbatim
        (regression: the rewrite was literal-blind)."""
        from corkscrew_spark import versioned
        from corkscrew_spark.engine import QueryEngine

        path = str(tmp_path / "lit")
        versioned.write_version(
            spark.createDataFrame([(1, "a")], "id long, v string"), path)
        versioned.write_version(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            path)
        eng = QueryEngine(spark, register_helpers=False)
        eng.register_versioned("items", path)
        r = eng.execute(
            "SELECT 'items VERSION AS OF 1' AS s, COUNT(*) AS n "
            "FROM items -- items VERSION AS OF 1\nGROUP BY s").rows()
        assert r[0].s == "items VERSION AS OF 1" and r[0].n == 2

    def test_rejected_query_registers_no_views(self, spark, tmp_path):
        """validate_readonly runs BEFORE the time-travel rewrite: a
        denied statement must not register `name__v<N>` views as a side
        effect."""
        from corkscrew_spark import versioned
        from corkscrew_spark.engine import QueryEngine, QueryValidationError
        import pytest as _pytest

        path = str(tmp_path / "gate")
        versioned.write_version(
            spark.createDataFrame([(1,)], "id long"), path)
        eng = QueryEngine(spark, register_helpers=False)
        eng.register_versioned("gated", path)
        with _pytest.raises(QueryValidationError):
            eng.execute("DELETE FROM gated VERSION AS OF 1")
        assert not spark.catalog.tableExists("gated__v1")


class TestFileScopedVersioning:
    """Round-5: partitioned snapshots commit file-scoped — an upsert
    writes ONLY the touched partitions into v=N; untouched partitions
    are carried by manifest reference (+ symlink), Delta/Iceberg cost
    model (O(touched files), not O(table))."""

    def _pdf(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, region string, v string, ts long")

    def _real_parquet_files(self, root):
        """{relpath: size} for parquet files physically inside root
        (symlinked dirs excluded — those are references, not copies)."""
        out = {}
        for cur, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs
                       if not os.path.islink(os.path.join(cur, d))]
            for name in files:
                if name.endswith(".parquet"):
                    p = os.path.join(cur, name)
                    out[os.path.relpath(p, root)] = os.path.getsize(p)
        return out

    def test_scoped_upsert_writes_only_touched_partition(
            self, spark, tmp_path):
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1),
                              (3, "ap", "c", 1)]),
            p, partition_cols=["region"])
        v1_files = self._real_parquet_files(os.path.join(p, "v=1"))
        v2 = versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a2", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        assert v2 == 2
        # v=2 physically holds ONLY the eu partition
        v2_files = self._real_parquet_files(os.path.join(p, "v=2"))
        assert v2_files and all("region=eu" in rel for rel in v2_files)
        # v=1 files untouched
        assert self._real_parquet_files(os.path.join(p, "v=1")) == v1_files
        # the manifest records shared ownership
        parts = versioned.history(p)[-1]["parts"]
        assert parts["region=eu"] == 2
        assert parts["region=us"] == 1 and parts["region=ap"] == 1
        # composed read is the full merged table
        got = {r.k: r.v for r in versioned.read_version(spark, p).collect()}
        assert got == {1: "a2", 2: "b", 3: "c"}
        # time travel still sees the pre-upsert snapshot
        old = {r.k: r.v
               for r in versioned.read_version(spark, p, version=1).collect()}
        assert old == {1: "a", 2: "b", 3: "c"}

    def test_chained_upserts_reference_original_owner(self, spark, tmp_path):
        """A partition untouched for many versions stays owned by its
        original writer — references resolve O(1), never chain."""
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1)]),
            p, partition_cols=["region"])
        for i in range(2, 5):
            versioned.upsert_version(
                spark, p, self._pdf(spark, [(1, "eu", f"a{i}", i)]),
                ["k"], order_col="ts", partition_cols=["region"])
        parts = versioned.history(p)[-1]["parts"]
        assert parts == {"region=eu": 4, "region=us": 1}
        # the us symlink in v=4 points straight at v=1
        link = os.path.join(p, "v=4", "data", "region=us")
        assert os.path.islink(link)
        assert "v=1" in os.readlink(link)
        got = {r.k: r.v for r in versioned.read_version(spark, p).collect()}
        assert got == {1: "a4", 2: "b"}

    def test_new_partition_in_batch(self, spark, tmp_path):
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1)]), p,
            partition_cols=["region"])
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(9, "sa", "new", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        parts = versioned.history(p)[-1]["parts"]
        assert parts == {"region=eu": 1, "region=sa": 2}
        assert versioned.read_version(spark, p).count() == 2

    def test_commit_row_count_is_o_touched(self, spark, tmp_path,
                                           monkeypatch):
        """The manifest row total must be ARITHMETIC over per-partition
        counts (part_rows carried commit to commit), not a count() over
        the composed snapshot — the old full count re-opened every
        carried partition on every commit just for a metadata field.
        Asserts: (1) the counting read covers ONLY freshly written
        partitions, (2) carried files keep their mtimes, (3) recorded
        totals still equal full recounts."""
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1),
                              (3, "ap", "c", 1), (4, "us", "d", 1)]),
            p, partition_cols=["region"])
        assert versioned.history(p)[-1]["part_rows"] == {
            "region=eu": 1, "region=us": 2, "region=ap": 1}
        before = {rel: os.path.getmtime(os.path.join(p, "v=1", rel))
                  for rel in self._real_parquet_files(
                      os.path.join(p, "v=1"))}
        seen = []
        real = versioned._rows_by_partition
        monkeypatch.setattr(
            versioned, "_rows_by_partition",
            lambda spark_, data, rels: seen.append(sorted(rels))
            or real(spark_, data, rels))
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a2", 2),
                                        (5, "eu", "e", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        assert seen == [["region=eu"]]  # counted ONLY the touched part
        h = versioned.history(p)[-1]
        assert h["part_rows"] == {"region=eu": 2, "region=us": 2,
                                  "region=ap": 1}
        assert h["rows"] == 5
        assert h["rows"] == versioned.read_version(spark, p).count()
        after = {rel: os.path.getmtime(os.path.join(p, "v=1", rel))
                 for rel in before}
        assert after == before  # carried files never rewritten

    def test_pre_part_rows_manifest_recounts_once_then_scopes(
            self, spark, tmp_path, monkeypatch):
        """A manifest written before part_rows existed gets ONE
        composed-snapshot recount (attributed per partition, including
        through carried symlinks) — and every commit after that is
        O(touched) again."""
        import json as _json

        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1)]),
            p, partition_cols=["region"])
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a2", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        mpath = versioned._manifest_path(p)
        entries = _json.load(open(mpath))
        for e in entries:
            e.pop("part_rows", None)  # simulate the older manifest era
        _json.dump(entries, open(mpath, "w"))
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(2, "us", "b2", 3)]),
            ["k"], order_col="ts", partition_cols=["region"])
        h = versioned.history(p)[-1]
        # the recount attributed rows correctly even for the eu
        # partition, which v=3 carries as a symlink into v=2
        assert h["part_rows"] == {"region=eu": 1, "region=us": 1}
        assert h["rows"] == 2 == versioned.read_version(spark, p).count()
        seen = []
        real = versioned._rows_by_partition
        monkeypatch.setattr(
            versioned, "_rows_by_partition",
            lambda spark_, data, rels: seen.append(sorted(rels))
            or real(spark_, data, rels))
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a4", 4)]),
            ["k"], order_col="ts", partition_cols=["region"])
        assert seen == [["region=eu"]]  # back to O(touched)
        assert versioned.history(p)[-1]["rows"] == 2

    def test_vacuum_respects_cross_version_sharing(self, spark, tmp_path):
        """Vacuuming the owner of a still-referenced partition must keep
        that partition's data (and fail loudly on a time-travel read of
        the partially-kept version), while unreferenced parts go."""
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1)]),
            p, partition_cols=["region"])
        for i in range(2, 5):  # v2, v3, v4 each rewrite only eu
            versioned.upsert_version(
                spark, p, self._pdf(spark, [(1, "eu", f"a{i}", i)]),
                ["k"], order_col="ts", partition_cols=["region"])
        dropped = versioned.vacuum(p, keep_last=2)  # keep v3, v4
        assert dropped == [1, 2]
        # v=2 (owned only superseded eu data) is fully gone
        assert not os.path.exists(os.path.join(p, "v=2"))
        # v=1 survives partially: us is still referenced by v3/v4
        assert os.path.isdir(os.path.join(p, "v=1", "data", "region=us"))
        assert not os.path.exists(os.path.join(p, "v=1", "data", "region=eu"))
        # latest still composes correctly after vacuum
        got = {r.k: r.v for r in versioned.read_version(spark, p).collect()}
        assert got == {1: "a4", 2: "b"}
        assert versioned.read_version(spark, p, version=3).count() == 2
        # the partially-kept version is no longer fully readable
        with pytest.raises(ValueError, match="vacuumed"):
            versioned.read_version(spark, p, version=1)
        # idempotent
        assert versioned.vacuum(p, keep_last=2) == []

    def test_flat_snapshot_migrates_then_scopes(self, spark, tmp_path):
        """First partitioned upsert over a flat snapshot is a full
        layout migration; the NEXT upsert scopes."""
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1)]), p)
        assert versioned.history(p)[-1].get("parts") is None
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a2", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        assert versioned.history(p)[-1]["parts"] == {
            "region=eu": 2, "region=us": 2}
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(2, "us", "b3", 3)]),
            ["k"], order_col="ts", partition_cols=["region"])
        parts = versioned.history(p)[-1]["parts"]
        assert parts == {"region=eu": 2, "region=us": 3}
        got = {r.k: r.v for r in versioned.read_version(spark, p).collect()}
        assert got == {1: "a2", 2: "b3"}

    def test_conflict_still_raised_on_scoped_path(self, spark, tmp_path):
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1)]), p,
            partition_cols=["region"])
        os.mkdir(os.path.join(p, "v=2"))
        with pytest.raises(versioned.VersionConflict):
            versioned.upsert_version(
                spark, p, self._pdf(spark, [(1, "eu", "z", 2)]),
                ["k"], order_col="ts", partition_cols=["region"])

    def test_upsert_inherits_partition_layout(self, spark, tmp_path):
        """An upsert that omits partition_cols on a partitioned history
        must inherit the layout and still scope, not demote to flat."""
        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1)]),
            p, partition_cols=["region"])
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a2", 2)]),
            ["k"], order_col="ts")  # no partition_cols
        parts = versioned.history(p)[-1]["parts"]
        assert parts == {"region=eu": 2, "region=us": 1}
        got = {r.k: r.v for r in versioned.read_version(spark, p).collect()}
        assert got == {1: "a2", 2: "b"}


class TestFileScopedModelCheck:
    """Seeded random scenarios against an in-memory model: any
    interleaving of partitioned writes, scoped upserts, and vacuums must
    keep the composed latest snapshot (and every retained historical
    version) exactly equal to the model — the manifest/symlink
    machinery can never lose, duplicate, or cross-wire a partition."""

    @pytest.mark.parametrize("seed", [11, 23, 47])
    def test_random_interleavings_match_model(self, spark, tmp_path, seed):
        import random
        rng = random.Random(seed)
        p = str(tmp_path / f"mc{seed}")

        def region_of(k):  # fixed key->partition mapping (locality holds)
            return f"r{k % 3}"

        def batch(ts):
            ks = rng.sample(range(8), rng.randint(1, 4))
            return [(k, region_of(k), f"v{ts}-{k}", ts) for k in ks]

        def df_of(rows):
            return spark.createDataFrame(
                rows, "k long, region string, v string, ts long")

        model: dict[int, tuple] = {}      # k -> (region, v, ts)
        history: dict[int, dict] = {}     # version -> snapshot of model
        vacuumed: set[int] = set()

        # initial full snapshot
        rows = batch(0)
        for k, r, v, ts in rows:
            model[k] = (r, v, ts)
        ver = versioned.write_version(df_of(rows), p,
                                      partition_cols=["region"])
        history[ver] = dict(model)

        for ts in range(1, 13):
            op = rng.random()
            if op < 0.65:
                rows = batch(ts)
                for k, r, v, t in rows:
                    # newest-ts wins; same-ts update beats existing
                    if k not in model or model[k][2] <= t:
                        model[k] = (r, v, t)
                ver = versioned.upsert_version(
                    spark, p, df_of(rows), ["k"], order_col="ts",
                    partition_cols=["region"])
                history[ver] = dict(model)
            elif op < 0.85:
                rows = batch(ts)
                model = {k: (r, v, t) for k, r, v, t in rows}
                ver = versioned.write_version(
                    df_of(rows), p, partition_cols=["region"])
                history[ver] = dict(model)
            else:
                vacuumed.update(versioned.vacuum(p, keep_last=2))

            got = {r.k: (r.region, r.v, r.ts)
                   for r in versioned.read_version(spark, p).collect()}
            assert got == model, f"latest mismatch after ts={ts}"

        # every retained historical version still reads exactly as it
        # was committed; vacuumed ones fail loudly
        for ver, snap in history.items():
            if ver in vacuumed:
                with pytest.raises(ValueError, match="vacuum"):
                    versioned.read_version(spark, p, version=ver)
                continue
            got = {r.k: (r.region, r.v, r.ts)
                   for r in versioned.read_version(
                       spark, p, version=ver).collect()}
            assert got == snap, f"version {ver} drifted"


def test_vacuum_reclaims_orphaned_kept_partitions(spark, tmp_path):
    """A partition kept for a referencing version must be reclaimed
    once that referencing version itself ages out (no disk leak)."""
    def pdf(rows):
        return spark.createDataFrame(
            rows, "k long, region string, v string, ts long")

    p = str(tmp_path / "t")
    versioned.write_version(
        pdf([(1, "eu", "a", 1), (2, "us", "b", 1)]),
        p, partition_cols=["region"])
    for i in range(2, 5):  # v2..v4 touch only eu; us stays owned by v1
        versioned.upsert_version(
            spark, p, pdf([(1, "eu", f"a{i}", i)]),
            ["k"], order_col="ts", partition_cols=["region"])
    versioned.vacuum(p, keep_last=2)  # v1 partially kept (us)
    assert os.path.isdir(os.path.join(p, "v=1", "data", "region=us"))
    # two full overwrites: v5/v6 own everything, v3/v4 age out
    for i in (5, 6):
        versioned.write_version(
            pdf([(1, "eu", f"x{i}", i), (2, "us", "y", i)]),
            p, partition_cols=["region"])
    versioned.vacuum(p, keep_last=2)
    # the orphaned v1 remnant is gone now
    assert not os.path.exists(os.path.join(p, "v=1"))
    assert versioned.read_version(spark, p).count() == 2


class TestVersionStats:
    """compute_stats_version: zone maps over snapshots, with carried
    partitions' stats REUSED from their owner version (the manifest
    `parts` idea applied to statistics) — and time-travel reads pruned
    through them with result identity."""

    def _pdf(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, region string, v string, ts long")

    def test_carried_stats_reused_and_pruned_read_identical(
            self, spark, tmp_path, monkeypatch):
        from corkscrew_spark import skipping

        p = str(tmp_path / "t")
        base = [(i, r, f"{r}{i}", 1)
                for r in ("eu", "us", "ap") for i in range(10)]
        versioned.write_version(self._pdf(spark, base), p,
                                partition_cols=["region"])
        versioned.compute_stats_version(spark, p, ["k"], version=1)
        v1_stats_path = os.path.join(p, "v=1", "data",
                                     "_column_stats.json")
        v1_stats = skipping.load_stats(os.path.join(p, "v=1", "data"))
        v1_mtime = os.path.getmtime(v1_stats_path)
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(3, "eu", "eu3b", 2),
                                        (99, "eu", "eu99", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        # spy: the v=2 stats pass must scan ONLY the owned partition
        scanned = []
        real = skipping._per_file_stats
        monkeypatch.setattr(
            skipping, "_per_file_stats",
            lambda path, df, cols, bloom=None:
            scanned.append(path) or real(path, df, cols, bloom))
        stats2 = versioned.compute_stats_version(spark, p, ["k"],
                                                 version=2)
        assert len(scanned) == 1
        # the owner's stats file was REUSED, not recomputed: untouched
        assert os.path.getmtime(v1_stats_path) == v1_mtime
        # carried us/ap records are verbatim copies of v=1's
        for rel, rec in v1_stats["files"].items():
            if rel.startswith(("region=us/", "region=ap/")):
                assert stats2["files"][rel] == rec
        assert any(rel.startswith("region=eu/") for rel in stats2["files"])
        # pruned time-travel read == full read, and it actually pruned
        preds = [("k", ">=", 99)]
        pruned = versioned.read_version(spark, p, version=2,
                                        predicates=preds)
        full = versioned.read_version(spark, p, version=2).filter(
            skipping.predicate_filter(preds))
        assert sorted(map(tuple, pruned.collect())) \
            == sorted(map(tuple, full.collect()))
        assert pruned.count() == 1
        data2 = os.path.join(p, "v=2", "data")
        plan = skipping.plan_skip(data2, preds)
        assert plan["fallback"] is None and plan["pruned"]
        assert len(plan["kept"]) < len(plan["kept"]) + len(plan["pruned"])
        # v=1 pruned read still sees its own snapshot (no 99 yet)
        assert versioned.read_version(
            spark, p, version=1, predicates=[("k", ">=", 9)]).count() == 3

    def test_owner_without_stats_recomputes_through_symlink(
            self, spark, tmp_path):
        from corkscrew_spark import skipping

        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1)]),
            p, partition_cols=["region"])
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a2", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        # no v=1 stats exist: the carried us partition must be scanned
        # fresh THROUGH its symlink, with rel-paths staying inside v=2
        stats = versioned.compute_stats_version(spark, p, ["k"],
                                                version=2)
        rels = set(stats["files"])
        assert any(r.startswith("region=eu/") for r in rels)
        assert any(r.startswith("region=us/") for r in rels)
        assert not any(r.startswith("..") for r in rels)
        preds = [("k", "=", 2)]
        got = versioned.read_version(spark, p, predicates=preds)
        assert [r.v for r in got.collect()] == ["b"]


class TestVersionStatsBloom:
    def _pdf(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, region string, doc string, ts long")

    def test_bloom_config_inherited_and_bitmaps_carry(
            self, spark, tmp_path):
        from corkscrew_spark import skipping

        p = str(tmp_path / "t")
        base = [(i, r, f"doc-{r}-{i}", 1)
                for r in ("eu", "us") for i in range(20)]
        versioned.write_version(self._pdf(spark, base), p,
                                partition_cols=["region"])
        # v=1 stats WITH bloom on the id-like column
        data1 = os.path.join(p, "v=1", "data")
        skipping.compute_stats(spark, data1, ["k"], bloom_cols=["doc"])
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(3, "eu", "doc-eu-3b", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        stats2 = versioned.compute_stats_version(spark, p, ["k"],
                                                 version=2)
        cfg = stats2["bloom"]
        assert cfg["cols"] == ["doc"] and cfg["types"]["doc"] == "string"
        # carried us records keep their v=1 bitmaps verbatim
        v1 = skipping.load_stats(data1)
        for rel, rec in v1["files"].items():
            if rel.startswith("region=us/"):
                assert stats2["files"][rel]["bloom"] == rec["bloom"]
        # fresh eu records got bitmaps under the SAME config, and a
        # point probe on a v=2-only value prunes yet finds the row
        data2 = os.path.join(p, "v=2", "data")
        preds = [("doc", "=", "doc-eu-3b")]
        plan = skipping.plan_skip(data2, preds)
        assert plan["fallback"] is None and plan["pruned"]
        got = versioned.read_version(spark, p, version=2,
                                     predicates=preds)
        assert [r.k for r in got.collect()] == [3]
        # and a v=1 value absent from v=2 probes empty but never errors
        assert versioned.read_version(
            spark, p, version=2,
            predicates=[("doc", "=", "doc-eu-3")]).count() == 0

    def test_mixed_owner_configs_degrade_to_zone_only(
            self, spark, tmp_path):
        from corkscrew_spark import skipping

        p = str(tmp_path / "t")
        versioned.write_version(
            self._pdf(spark, [(1, "eu", "a", 1), (2, "us", "b", 1)]),
            p, partition_cols=["region"])
        skipping.compute_stats(spark, os.path.join(p, "v=1", "data"),
                               ["k"], bloom_cols=["doc"], bloom_bits=1024)
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(1, "eu", "a2", 2)]),
            ["k"], order_col="ts", partition_cols=["region"])
        skipping.compute_stats(spark, os.path.join(p, "v=2", "data"),
                               ["k"], bloom_cols=["doc"], bloom_bits=2048)
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(2, "us", "b2", 3)]),
            ["k"], order_col="ts", partition_cols=["region"])
        # v=3 carries eu from v=2 (1024 vs 2048 bloom bits across
        # owners? eu's owner is v=2 @2048, us is rewritten in v=3) —
        # force the mixed case by reusing BOTH older versions
        versioned.upsert_version(
            spark, p, self._pdf(spark, [(9, "ap", "c", 4)]),
            ["k"], order_col="ts", partition_cols=["region"])
        stats = versioned.compute_stats_version(spark, p, ["k"],
                                                version=4)
        # eu carried from v=2 (2048), us from v=3 (no stats -> fresh);
        # whatever the mix, every record must be bloom-consistent with
        # the global config or bloom-free
        cfg = stats.get("bloom")
        for rec in stats["files"].values():
            if "bloom" in rec:
                assert cfg is not None
                import base64
                for b64 in rec["bloom"].values():
                    assert len(base64.b64decode(b64)) * 8 == cfg["m"]
        # identity regardless of what was adopted
        preds = [("doc", "=", "b2")]
        got = versioned.read_version(spark, p, version=4,
                                     predicates=preds)
        assert [r.k for r in got.collect()] == [2]


def test_stats_opt_in_sticky_across_upserts(spark, tmp_path):
    """A versioned table whose snapshot has zone maps keeps them: the
    next upsert_version auto-computes v=N+1 stats (carried-record
    reuse, O(touched)) without the caller asking."""
    from pyspark.sql import functions as F  # noqa: F401

    from corkscrew_spark import skipping

    p = str(tmp_path / "t")
    pdf = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, region string, v string, ts long")
    versioned.write_version(
        pdf([(1, "eu", "a", 1), (2, "us", "b", 1)]), p,
        partition_cols=["region"])
    versioned.compute_stats_version(spark, p, ["k"], version=1)
    versioned.upsert_version(spark, p, pdf([(1, "eu", "a2", 2)]),
                             ["k"], order_col="ts",
                             partition_cols=["region"])
    st = skipping.load_stats(os.path.join(p, "v=2", "data"))
    assert st is not None and st["cols"] == ["k"]
    got = versioned.read_version(spark, p, predicates=[("k", "=", 2)])
    assert [r.v for r in got.collect()] == ["b"]
    # a table WITHOUT stats stays without them (no silent opt-in)
    p2 = str(tmp_path / "t2")
    versioned.write_version(pdf([(1, "eu", "a", 1)]), p2,
                            partition_cols=["region"])
    versioned.upsert_version(spark, p2, pdf([(1, "eu", "a2", 2)]),
                             ["k"], order_col="ts",
                             partition_cols=["region"])
    assert skipping.load_stats(os.path.join(p2, "v=2", "data")) is None


def test_time_travel_sql_prunes_through_snapshot_stats(spark, tmp_path):
    """`t VERSION AS OF n` SQL reads through the snapshot's zone maps
    (round-7: the resolved snapshot view registers as a warehouse
    entry) — previously only the read_version(predicates=...) API
    pruned history reads. Certified against the executed plan."""
    from pyspark.sql import functions as F

    from corkscrew_spark import skipping
    from corkscrew_spark.engine import QueryEngine

    p = str(tmp_path / "t")
    df = spark.range(800).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    versioned.write_version(df.repartitionByRange(8, "k"), p)
    versioned.write_version(
        df.withColumn("v", F.col("v") + 100).repartitionByRange(8, "k"),
        p)
    for n in (1, 2):
        versioned.compute_stats_version(spark, p, ["k"], version=n)
    eng = QueryEngine(spark, register_helpers=False)
    eng.register_versioned("tt", p)
    res = eng.execute(
        "SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv "
        "FROM tt VERSION AS OF 1 WHERE k >= 700")
    row = res.df.collect()[0]
    assert row.n == 100
    opened = [f for f in scanned_files(res.df) if "/v=1/" in f]
    assert 0 < len(opened) < 8  # the snapshot scan was pruned
    # each version prunes ITS OWN files; results stay version-correct
    r2 = eng.execute(
        "SELECT CAST(SUM(v) AS BIGINT) AS sv "
        "FROM tt VERSION AS OF 2 WHERE k >= 700")
    assert r2.df.first().sv == row.sv + 100 * 100
    assert 0 < len([f for f in scanned_files(r2.df) if "/v=2/" in f]) < 8
    # a snapshot without stats still answers (plain read fallback)
    p2 = str(tmp_path / "t2")
    versioned.write_version(df, p2)
    eng.register_versioned("tt2", p2)
    assert eng.execute("SELECT COUNT(*) AS n FROM tt2 VERSION AS OF 1 "
                       "WHERE k >= 700").rows()[0].n == 100
