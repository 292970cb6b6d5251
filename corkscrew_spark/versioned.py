"""Versioned parquet tables: snapshot isolation + time travel.

The reference keeps one mutable DuckDB file; the warehouse here keeps
parquet snapshots. This module adds the missing storage discipline — the
snapshot-log pattern of Delta Lake / Iceberg (public designs), reduced
to its load-bearing core so it stays dependency-free and testable:

* Every write lands in an immutable ``v=N`` directory; readers resolve
  the version from a manifest written via atomic rename, so a reader
  sees one consistent snapshot, never a half-written mix.
* Writers claim version N by atomically creating its directory —
  optimistic concurrency: two racing writers cannot both win the same
  version; the loser raises ``VersionConflict`` and can re-derive from
  the new latest (Delta's commit-conflict semantics).
* Time travel: read any retained version by number or "as of" a
  timestamp (audit/repro — what did the estate look like yesterday?).
* **File-level commits** (the Delta/Iceberg cost model): a partitioned
  table's upsert writes ONLY the hive partitions the batch touches into
  ``v=N``; every untouched partition is *referenced* from its owning
  older version via the manifest's ``parts`` map (``relpath → owner
  version``) and materialized as a relative symlink so Spark reads
  ``v=N/data`` as one ordinary hive tree. An hourly 1-partition upsert
  into a 100 TB table therefore costs O(touched partition) + manifest,
  not O(table) — on an object store the same ``parts`` map is the
  copy-free manifest; symlinks are just the local-filesystem
  materialization.
* ``vacuum`` drops old snapshot directories but never the manifest
  history rows (cheap lineage of what happened when), and RESPECTS
  cross-version sharing: a partition directory still referenced by a
  retained version's ``parts`` map survives its owner's vacuum.

On a real deployment these call sites map 1:1 onto Delta tables; this
keeps the semantics runnable with zero extra dependencies, like
warehouse.merge_upsert's directory-swap.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from corkscrew_spark.warehouse import (
    _aligned_updates,
    _partition_predicate,
    _partition_reldir,
    _touched_partitions,
    write_partitioned,
)

MANIFEST = "_versions.json"
VACUUMED_MARKER = "_vacuumed"
#: skipping._STATS_FILE without the import cycle (skipping imports
#: warehouse; keep versioned's module graph flat)
_SKIP_STATS_FILE = "_column_stats.json"


class VersionConflict(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def read_manifest(path: str) -> list[dict]:
    p = _manifest_path(path)
    if not os.path.exists(p):
        return []
    with open(p) as fh:
        return json.load(fh)


def _write_manifest(path: str, entries: list[dict]) -> None:
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(entries, fh, indent=1)
    os.replace(tmp, _manifest_path(path))  # atomic on POSIX


def latest_version(path: str) -> int | None:
    entries = read_manifest(path)
    return entries[-1]["version"] if entries else None


def _claim(path: str, version: int) -> str:
    """Atomically claim the ``v=N`` directory (optimistic concurrency)."""
    vdir = os.path.join(path, f"v={version}")
    try:
        os.mkdir(vdir)  # atomic claim
    except FileExistsError as ex:
        raise VersionConflict(
            f"version {version} at {path} was committed concurrently"
        ) from ex
    return vdir


def _leaf_partition_rels(data_dir: str, n_levels: int) -> list[str]:
    """Relpaths of the hive leaf partition dirs ``n_levels`` deep —
    metadata-sized directory walk, never reads data."""
    rels = [""]
    for _ in range(n_levels):
        nxt = []
        for rel in rels:
            base = os.path.join(data_dir, rel) if rel else data_dir
            if not os.path.isdir(base):
                continue
            for e in sorted(os.listdir(base)):
                if "=" in e and os.path.isdir(os.path.join(base, e)):
                    nxt.append(os.path.join(rel, e) if rel else e)
        rels = nxt
    return rels


def _link_shared(data_dir: str, rel: str, owner: int) -> None:
    """Materialize an unchanged-partition reference as a RELATIVE
    symlink into the owning version's data dir, so ``v=N/data`` reads
    as one ordinary hive tree and the whole table dir stays
    relocatable. Depth-aware: ``rel`` may be nested (multi-column
    partitioning)."""
    link = os.path.join(data_dir, rel)
    os.makedirs(os.path.dirname(link), exist_ok=True)
    depth = rel.count("/") + 2  # data/ + nested partition levels
    target = os.path.join(*[".."] * depth, f"v={owner}", "data", rel)
    os.symlink(target, link)


def _rows_by_partition(spark: SparkSession, data: str,
                       rels: list[str]) -> dict[str, int]:
    """Row count per partition dir, reading ONLY the named dirs — the
    O(touched) half of the manifest row-count arithmetic. One
    file-grained aggregate; counts attach to a rel via each file's
    dirname (no value re-escaping round-trip)."""
    from pyspark.sql import functions as F

    if not rels:
        return {}
    sub = spark.read.parquet(*[os.path.join(data, rel) for rel in rels])
    counts = (sub.groupBy(F.input_file_name().alias("__f"))
              .agg(F.count(F.lit(1)).alias("__n")).collect())
    base = os.path.abspath(data)
    out = {rel: 0 for rel in rels}
    import urllib.parse
    for r in counts:
        p = urllib.parse.unquote(urllib.parse.urlparse(r["__f"]).path)
        rel = os.path.relpath(os.path.dirname(p), base)
        out[rel] = out.get(rel, 0) + r["__n"]
    return out


def _commit(path: str, version: int, op: str, rows: int,
            commit_ts: float | None,
            parts: dict[str, int] | None = None,
            partition_cols: list[str] | None = None,
            part_rows: dict[str, int] | None = None) -> int:
    entries = read_manifest(path)
    entry: dict = {
        "version": version,
        "ts": commit_ts if commit_ts is not None else time.time(),
        "op": op,
        "rows": rows,
    }
    if parts is not None:
        entry["parts"] = parts
        entry["partition_cols"] = list(partition_cols or [])
    if part_rows is not None:
        # per-partition row counts: lets the NEXT upsert derive its
        # manifest total arithmetically (carried partitions keep their
        # recorded count) instead of re-counting the composed snapshot
        entry["part_rows"] = part_rows
    entries.append(entry)
    _write_manifest(path, entries)
    return version


def write_version(df: DataFrame, path: str, op: str = "overwrite",
                  commit_ts: float | None = None,
                  partition_cols: list[str] | None = None) -> int:
    """Commit ``df`` as the next snapshot; returns the version number.

    With ``partition_cols`` the snapshot is laid out hive-partitioned
    and the manifest records a ``parts`` map (every partition owned by
    this version) — the layout that lets every subsequent
    ``upsert_version`` commit file-scoped instead of rewriting the
    table.
    """
    os.makedirs(path, exist_ok=True)
    version = (latest_version(path) or 0) + 1
    vdir = _claim(path, version)
    data = os.path.join(vdir, "data")
    spark = df.sparkSession
    if partition_cols:
        write_partitioned(df, data, partition_cols)
        rels = _leaf_partition_rels(data, len(partition_cols))
        parts = {rel: version for rel in rels}
        part_rows = _rows_by_partition(spark, data, rels)
        rows = sum(part_rows.values())
    else:
        df.write.mode("overwrite").parquet(data)
        parts, part_rows = None, None
        rows = spark.read.parquet(data).count()
    return _commit(path, version, op, rows, commit_ts, parts,
                   partition_cols, part_rows)


def _resolve_version(path: str, version: int | None,
                     as_of_ts: float | None) -> tuple[dict, str]:
    """(manifest entry, data dir) for a readable snapshot selector."""
    entries = read_manifest(path)
    if not entries:
        raise FileNotFoundError(f"no versions at {path}")
    if version is not None and as_of_ts is not None:
        raise ValueError("pass version or as_of_ts, not both")
    if version is None:
        pool = (
            [e for e in entries if e["ts"] <= as_of_ts]
            if as_of_ts is not None else entries
        )
        if not pool:
            raise ValueError(
                f"no version at or before ts={as_of_ts} (earliest: "
                f"{entries[0]['ts']})")
        version = pool[-1]["version"]
    by_v = {e["version"]: e for e in entries}
    if version not in by_v:
        raise ValueError(
            f"unknown version {version} (have {sorted(by_v)})")
    vroot = os.path.join(path, f"v={version}")
    vdir = os.path.join(vroot, "data")
    if (not os.path.exists(vdir)
            or os.path.exists(os.path.join(vroot, VACUUMED_MARKER))):
        raise ValueError(f"version {version} was vacuumed")
    return by_v[version], vdir


def read_version(spark: SparkSession, path: str, version: int | None = None,
                 as_of_ts: float | None = None,
                 predicates: list[tuple] | None = None) -> DataFrame:
    """Read a snapshot: latest by default, a specific ``version``, or the
    newest version committed at or before ``as_of_ts`` (time travel).

    With ``predicates`` (AND-list of ``(col, op, value)``, ops per
    ``skipping._OPS``) the read consults the snapshot's zone-map stats
    (``compute_stats_version``) when present and opens only the files
    that can match — the predicate is always re-applied, so the result
    is identical to filtering the plain snapshot read."""
    _entry, vdir = _resolve_version(path, version, as_of_ts)
    plain = spark.read.parquet(vdir)
    if predicates:
        from corkscrew_spark import skipping

        return skipping.read_skipping(spark, vdir, predicates, base=plain)
    return plain


def compute_stats_version(spark: SparkSession, path: str,
                          cols: list[str],
                          version: int | None = None) -> dict:
    """Zone-map statistics for snapshot ``v=N``, REUSING carried
    partitions' per-file records from their owner version's stats —
    the manifest ``parts`` idea applied to statistics. Only partitions
    this version physically owns (plus carried ones whose owner has no
    usable stats for exactly these ``cols``) are scanned, so stats
    upkeep is O(touched), matching the file-scoped upsert itself.
    Writes ``v=N/data/_column_stats.json`` and returns it;
    ``read_version(..., predicates=...)`` then prunes time-travel
    reads with it. Rel-paths are identical between a version's data
    dir and the owner's (the symlink preserves layout), so records
    transfer verbatim. Bloom filters are INHERITED: when every carried
    record's owner built blooms under one identical config (cols/m/k —
    and, for timestamp columns, the same session time zone as now,
    since bitmaps render zone-dependently), the freshly scanned
    partitions get the same config and the carried bitmaps carry over;
    otherwise the snapshot's stats are zone-map-only and reused records
    are stripped of their bitmaps (a bitmap probed under the wrong
    config is a false negative — wrong rows, never acceptable). A
    version dir is immutable, so these stats never go stale."""
    from corkscrew_spark import skipping

    entry, data = _resolve_version(path, version, None)
    v = entry["version"]
    parts = entry.get("parts")
    if parts is None:
        return skipping.compute_stats(spark, data, cols)
    cur_tz = spark.conf.get("spark.sql.session.timeZone")
    reused: list[tuple[dict, dict | None]] = []  # (recs, owner bloom cfg)
    todo: list[str] = []
    owner_stats: dict[int, dict | None] = {}
    types: dict | None = None
    for rel, owner in sorted(parts.items()):
        if owner == v:
            todo.append(rel)
            continue
        if owner not in owner_stats:
            owner_stats[owner] = skipping.load_stats(
                os.path.join(path, f"v={owner}", "data"))
        ostats = owner_stats[owner]
        recs = None
        if (ostats and list(ostats.get("cols") or []) == list(cols)
                and (not skipping._ltz_cols(ostats)
                     or ostats.get("tz") == cur_tz)):
            # LTZ-timestamp bounds are session-zone renderings: an
            # owner snapshot rendered under another zone can't merge
            # with fresh current-zone records — recompute that dir
            pfx = rel + "/"
            recs = {f: r for f, r in ostats["files"].items()
                    if f.startswith(pfx)}
            on_disk = {
                os.path.join(rel, f) for f in skipping._list_data_files(
                    os.path.join(path, f"v={owner}", "data", rel))}
            if set(recs) != on_disk:
                recs = None  # owner stats don't cover this dir exactly
        if recs:
            reused.append((recs, ostats.get("bloom")))
            if types is None:
                types = ostats.get("types")
        else:
            todo.append(rel)

    def _cfg_key(cfg: dict | None):
        if not cfg:
            return None
        return (tuple(cfg["cols"]), cfg["m"], cfg["k"], cfg.get("tz"))

    cfg_keys = {_cfg_key(cfg) for _recs, cfg in reused} - {None}
    adopted: dict | None = None
    if len(cfg_keys) == 1:
        cand = next(cfg for _recs, cfg in reused
                    if _cfg_key(cfg) in cfg_keys)
        tz_now = spark.conf.get("spark.sql.session.timeZone")
        if ("timestamp" not in set(cand.get("types", {}).values())
                or cand.get("tz") == tz_now):
            adopted = {"cols": list(cand["cols"]), "m": cand["m"],
                       "k": cand["k"], "tz": cand.get("tz") or tz_now}
    files: dict[str, dict] = {}
    for recs, cfg in reused:
        if adopted is not None and _cfg_key(cfg) == (
                tuple(adopted["cols"]), adopted["m"], adopted["k"],
                adopted["tz"]):
            files.update(recs)
        else:
            # zone-only snapshot (or off-config owner): strip bitmaps —
            # a bitmap probed under the wrong config false-negatives
            files.update({f: ({k2: v2 for k2, v2 in r.items()
                               if k2 != "bloom"} if "bloom" in r else r)
                          for f, r in recs.items()})
    if todo:
        expected = [
            os.path.join(rel, f) for rel in todo
            for f in skipping._list_data_files(os.path.join(data, rel))]
        sub = spark.read.option("basePath", data).parquet(
            *[os.path.join(data, rel) for rel in todo])
        # _bloom_tag_map returns an enriched COPY (it no longer mutates
        # its argument); adopt the copy so the stored config carries
        # the rendering tag map the probes need
        bloom_arg = (skipping._bloom_tag_map(sub, adopted)
                     if adopted else None)
        files.update(skipping._per_file_stats(data, sub, cols, bloom_arg))
        skipping._fill_empty_files(files, expected, cols, data)
        types = skipping._schema_types(sub, cols, bloom_arg)
        if bloom_arg is not None:
            adopted = bloom_arg
    stats: dict = {"ts_ns": time.time_ns(), "cols": list(cols),
                   "tz": cur_tz, "files": files}
    if types is not None:
        stats["types"] = types
    if adopted is not None:
        if "types" not in adopted:
            # no fresh dirs were scanned: recover the tag map from the
            # config source so probes know each column's rendering
            src_cfg = next(cfg for _recs, cfg in reused
                           if _cfg_key(cfg) in cfg_keys)
            adopted["types"] = dict(src_cfg.get("types") or {})
        stats["bloom"] = adopted
    skipping._write_stats(data, stats)
    return stats


def history(path: str) -> list[dict]:
    """The commit log, oldest first (Delta DESCRIBE HISTORY analog)."""
    return list(read_manifest(path))


def vacuum(path: str, keep_last: int = 2) -> list[int]:
    """Drop snapshot data older than the last ``keep_last`` versions,
    RESPECTING cross-version sharing: a partition directory that a
    retained version's ``parts`` map still references survives (only
    the unreferenced parts of its owning ``v=N`` are deleted, and that
    version is marked vacuumed — no longer fully readable). Manifest
    rows are always kept (lineage survives); returns the versions made
    unreadable."""
    entries = read_manifest(path)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    retained = entries[-keep_last:]
    keep_versions = {e["version"] for e in retained}
    # (owner version, relpath) pairs still needed by retained snapshots
    referenced: dict[int, set[str]] = {}
    for e in retained:
        for rel, owner in (e.get("parts") or {}).items():
            if owner not in keep_versions:
                referenced.setdefault(owner, set()).add(rel)
    dropped = []
    for e in entries[:-keep_last]:
        v = e["version"]
        if v in keep_versions:
            continue
        vroot = os.path.join(path, f"v={v}")
        if not os.path.exists(vroot):
            continue
        needed = referenced.get(v, set())
        already_marked = os.path.exists(
            os.path.join(vroot, VACUUMED_MARKER))
        if not needed:
            # nothing retained references this version anymore — drop it
            # entirely, INCLUDING versions partially kept by an earlier
            # vacuum whose referencing snapshots have since been dropped
            # (otherwise their kept-for partitions would leak forever)
            shutil.rmtree(vroot)
            if not already_marked:
                dropped.append(v)
            continue
        # shared owner: delete only the unreferenced partition dirs
        # (symlinks inside it are never referenced — removing a symlink
        # never touches its target), mark the version vacuumed so a
        # time-travel read fails loudly instead of returning a partial
        # snapshot. Idempotent: re-running shrinks the kept set as
        # references age out.
        data = os.path.join(vroot, "data")
        pcols = e.get("partition_cols") or []
        for rel in _leaf_partition_rels(data, len(pcols)):
            full = os.path.join(data, rel)
            if rel in needed and not os.path.islink(full):
                continue
            if os.path.islink(full):
                os.unlink(full)
            else:
                shutil.rmtree(full)
        with open(os.path.join(vroot, VACUUMED_MARKER), "w") as fh:
            fh.write(json.dumps({"kept_for": sorted(needed)}))
        if not already_marked:
            dropped.append(v)
    return dropped


def upsert_version(spark: SparkSession, path: str, updates: DataFrame,
                   keys: list[str], order_col: str = "scanned_at",
                   partition_cols: list[str] | None = None) -> int:
    """Keyed merge committed as a new snapshot: newest ``order_col`` per
    key wins (update beats existing on ties). The versioned sibling of
    warehouse.merge_upsert — history stays queryable.

    With ``partition_cols`` (and a prior partitioned snapshot) the
    commit is FILE-SCOPED: only the hive partitions present in the
    batch are read, merged, and written into ``v=N``; every other
    partition is carried by reference (manifest ``parts`` + symlink) —
    the Delta/Iceberg upsert cost model, O(touched files) not O(table).
    Partition columns must bound key locality (every version of a key
    lives in one partition), exactly as in merge_upsert. A first
    partitioned upsert over a flat snapshot migrates the layout with
    one full rewrite; subsequent upserts scope.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    entries = read_manifest(path)
    prev = entries[-1] if entries else None
    prev_parts = (prev or {}).get("parts")
    if partition_cols is None and prev_parts is not None:
        # scoping is sticky: an upsert that doesn't name partition_cols
        # inherits the prior snapshot's layout instead of silently
        # demoting the table to flat full-rewrite versions
        partition_cols = list(prev.get("partition_cols") or []) or None
    scoped = (
        prev_parts is not None and bool(partition_cols)
        and list(partition_cols) == list(prev.get("partition_cols") or [])
    )

    tagged = updates.withColumn("_src", F.lit(1))
    touched_rels: list[str] = []
    if prev is not None:
        existing = read_version(spark, path).withColumn("_src", F.lit(0))
        if scoped:
            touched = _touched_partitions(updates, partition_cols)
            touched_rels = list(dict.fromkeys(
                _partition_reldir(partition_cols, values)
                for values in touched))
            existing = existing.filter(
                _partition_predicate(partition_cols, touched))
        merged = existing.unionByName(
            _aligned_updates(existing.columns, tagged))
    else:
        merged = tagged
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), F.desc("_src"))
    # No checkpoint needed: the merge writes a NEW v=N+1 directory while
    # the plan reads the prior snapshots, which stay in place.
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    if not scoped:
        return write_version(result, path, op="upsert",
                             partition_cols=partition_cols)

    version = prev["version"] + 1
    vdir = _claim(path, version)
    data = os.path.join(vdir, "data")
    write_partitioned(result, data, list(partition_cols))
    owned = sorted(_leaf_partition_rels(data, len(partition_cols)))
    parts = {rel: version for rel in owned}
    # O(touched) manifest row count: count ONLY the freshly written
    # partitions; carried partitions keep the count recorded when THEY
    # were written (part_rows carries forward commit to commit). The
    # old full `read.parquet(data).count()` re-opened every carried
    # partition — O(table files) on every commit for one metadata field.
    part_rows = _rows_by_partition(spark, data, owned)
    prev_rows = prev.get("part_rows") or {}
    carried = []
    for rel, owner in prev_parts.items():
        if rel in touched_rels or rel in owned:
            continue  # superseded (or re-written) by this commit
        _link_shared(data, rel, owner)
        parts[rel] = owner
        carried.append(rel)
    if all(rel in prev_rows for rel in carried):
        for rel in carried:
            part_rows[rel] = prev_rows[rel]
    else:
        # pre-part_rows manifest: one last composed-snapshot count,
        # attributed per partition so every FUTURE commit is O(touched)
        part_rows = _rows_by_partition(spark, data, sorted(parts))
    rows = sum(part_rows.values())
    out = _commit(path, version, "upsert", rows, None, parts,
                  list(partition_cols), part_rows)
    # Stats opt-in is STICKY across versions (like compaction
    # preserving the bloom opt-in): if the snapshot this upsert built
    # on had zone maps, the new version gets them too — O(touched) via
    # carried-record reuse, so keeping a versioned table stats-fresh
    # costs what the upsert itself cost.
    prev_stats_path = os.path.join(
        path, f"v={prev['version']}", "data", _SKIP_STATS_FILE)
    if os.path.exists(prev_stats_path):
        try:
            with open(prev_stats_path) as fh:
                prev_cols = json.load(fh).get("cols") or []
            if prev_cols:
                compute_stats_version(spark, path, prev_cols,
                                      version=version)
        except Exception as ex:  # noqa: BLE001 — upkeep never fails a commit
            # the commit itself is durable; reads fall back to plain
            # scans until the next compute_stats_version — but never
            # silently: a broken stats pipeline should be visible
            import warnings

            warnings.warn(
                f"versioned stats upkeep for v={version} at {path} "
                f"failed ({ex}); snapshot committed, reads fall back "
                "to plain scans until compute_stats_version is re-run",
                RuntimeWarning, stacklevel=2)
    return out
