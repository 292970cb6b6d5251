"""Warehouse sinks: upsert-by-key, retention, append (SURVEY §2.2).

The reference upserts with DuckDB ``INSERT ... ON CONFLICT DO UPDATE``
(graph_loader.go:174-184) / ``INSERT OR REPLACE`` (database_integration.
go:194-360) and deletes expired change events with a timestamp predicate
(change_storage.go:283-295). Plain parquet has no transactional merge, so
the Spark-native equivalent is overwrite-by-key: union the existing
snapshot with the updates, keep the newest row per key with a
row_number window, and atomically swap the table directory. On a real
deployment the same call sites map 1:1 onto Delta Lake ``MERGE`` /
``DELETE`` (SURVEY.md §4 "custom work" item 2); the directory-swap writer
keeps the semantics testable with zero extra dependencies.

Scale notes: the merge shuffles once on the key columns — at 100 TB,
partition the table by a stable prefix (provider/service or date) so the
rewrite touches only affected partitions, and bucket by the merge key so
the window never re-shuffles; the swap keeps readers consistent (they see
either the old or the new directory listing, never a mix).
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: how long a writer waits for a competing merge before giving up —
#: sized for a slow compaction ahead in the queue, not a quick merge
TABLE_LOCK_TIMEOUT_S = 600.0


@contextlib.contextmanager
def _table_lock(path: str, timeout_s: float | None = None,
                poll_s: float = 0.2):
    """Advisory writer lock (O_CREAT|O_EXCL sidecar file): two merges
    racing the same table would each read the pre-merge state and the
    second swap would silently drop the first's rows — plain parquet's
    stand-in for Delta's optimistic-concurrency commit. Readers are
    never blocked (the directory swap stays their consistency story).
    A crash can leave the sidecar behind; the timeout error names it so
    an operator can remove the stale lock."""
    lock = f"{path}.__lock__"
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    deadline = time.monotonic() + (timeout_s if timeout_s is not None
                                   else TABLE_LOCK_TIMEOUT_S)
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                holder = "?"
                try:
                    with open(lock) as fh:
                        holder = fh.read().strip() or "?"
                except OSError:
                    pass
                raise TimeoutError(
                    f"writer lock {lock} is held by pid {holder} — "
                    "another writer is in progress. Verify that pid is "
                    "dead before removing the lock file; deleting a "
                    "LIVE writer's lock reintroduces the lost-update "
                    "race this lock prevents")
            time.sleep(poll_s)
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _locked_writer(fn):
    """Serialize (spark, path, ...) table writers per table path."""
    @functools.wraps(fn)
    def wrapper(spark, path, *args, **kwargs):
        with _table_lock(path):
            return fn(spark, path, *args, **kwargs)
    return wrapper


_COMMIT_LOG = "_commits.jsonl"
#: zone-map stats file maintained by skipping.py; named here so the
#: swap/compaction carry logic and skipping share one constant
_STATS_FILE = "_column_stats.json"


def _log_commit(path: str, op: str, partitions: list[str] | None) -> None:
    """Append one JSON line to ``path/_commits.jsonl`` recording what a
    writer changed: ``{"ts_ns", "op", "partitions"}``. ``partitions``
    is the list of touched ``col=value`` relpaths for a scoped write,
    or null for a full rewrite (everything changed). Spark ignores
    underscore-prefixed files, so the log rides inside the table dir
    and survives partition swaps; full-rewrite swaps carry it over.
    This is the incremental-consumer hook: a downstream pipeline polls
    ``changed_partitions_since`` and rescans ONLY those directories."""
    import json as _json

    log = os.path.join(path, _COMMIT_LOG)
    if partitions is not None and not os.path.exists(log):
        # FIRST entry on a previously log-free table must be a
        # full-rewrite baseline: a scoped entry alone would make every
        # partition the table already held invisible to a consumer
        # bootstrapping via changed_partitions_since (pre-log tables
        # read as "assume all changed"; a log that starts scoped
        # silently narrows that to the one touched partition)
        base = {"ts_ns": time.time_ns(), "op": "baseline",
                "partitions": None}
        with open(log, "a") as fh:
            fh.write(_json.dumps(base) + "\n")
    rec = {"ts_ns": time.time_ns(), "op": op, "partitions": partitions}
    with open(log, "a") as fh:
        fh.write(_json.dumps(rec) + "\n")


def _carry_commit_log(old_dir: str, new_dir: str) -> None:
    """Carry table-level metadata files across a directory swap: the
    commit log (so incremental consumers keep their history) and the
    zone-map stats file — a table that opted into data skipping stays
    opted in across maintenance rewrites. The carried stats are stale
    (the rewrite's partitions=None commit invalidates them); the
    maintenance rewrites re-emit fresh ones themselves via
    ``_refresh_carried_stats`` so the table is never left unprunable."""
    for name in (_COMMIT_LOG, _STATS_FILE):
        src = os.path.join(old_dir, name)
        if os.path.exists(src):
            os.rename(src, os.path.join(new_dir, name))


def _refresh_carried_stats(spark: SparkSession, path: str) -> None:
    """Re-emit fresh `_column_stats.json` (recorded columns + bloom
    opt-in preserved) right after a maintenance rewrite. Without this,
    the very op that improves clustering (compaction, Z-order) would
    turn pruning OFF until someone ran a manual ``refresh_stats`` —
    and after a full rewrite that refresh is O(table) anyway, so the
    rewrite is the cheapest moment to pay it: one column-pruned pass
    over the files just written, decoding only the stats columns (a
    sliver of the rewrite's own full-width I/O). Never fails the
    rewrite — stale stats degrade to plain scans, which is safe; the
    failure is surfaced as a warning, not an exception."""
    from . import skipping  # local import: skipping imports us

    stats = skipping.load_stats(path)
    if stats is None:
        return  # table never opted into skipping
    try:
        skipping.recompute_stats(spark, path, stats["cols"])
    except Exception as ex:  # noqa: BLE001 — upkeep never fails a rewrite
        import warnings

        warnings.warn(
            f"zone-map refresh after rewrite of {path} failed ({ex}); "
            "reads fall back to plain scans until refresh_stats is run",
            RuntimeWarning, stacklevel=2)


def changed_partitions_since(path: str, ts_ns: int) -> list[str] | None:
    """Partition relpaths touched by commits strictly after ``ts_ns``.
    Returns None when any of those commits was a full rewrite (the
    caller must treat every partition as changed); [] when nothing
    changed. Metadata-only — reads one small JSONL file, never data."""
    import json as _json

    log = os.path.join(path, _COMMIT_LOG)
    if not os.path.exists(log):
        return None  # pre-log table (or never written): assume all changed
    touched: set[str] = set()
    with open(log) as fh:
        for line in fh:
            rec = _json.loads(line)
            if rec["ts_ns"] <= ts_ns:
                continue
            if rec["partitions"] is None:
                return None
            touched.update(rec["partitions"])
    return sorted(touched)


def read_table(spark: SparkSession, path: str,
               predicates: list[tuple] | None = None,
               predicates_any: list[list[tuple]] | None = None) -> DataFrame:
    """THE default read for a warehouse table directory. With
    ``predicates`` (AND-list of ``(col, op, value)``, ops per
    ``skipping._OPS``) the read consults the table's zone-map/bloom
    statistics when they exist and opens only the files that can match
    — the filter is always re-applied and the columns are the plain
    read's, so the result is identical to a plain filtered scan no
    matter how stale the stats are. Without predicates (or without
    stats) it is a plain scan.
    ``predicates_any`` is the disjunctive form (an OR of AND-lists,
    pruned via ``skipping.plan_skip_any``); pass one or the other.
    The SQL-surface twin is ``QueryEngine.register_warehouse``."""
    from corkscrew_spark import skipping as _skip

    if predicates and predicates_any:
        raise ValueError("pass predicates OR predicates_any, not both")
    plain = spark.read.parquet(path)
    if predicates_any is not None and not predicates_any:
        # an OR of ZERO branches is FALSE (matches nothing) — falling
        # through to a plain scan would return the whole table to a
        # caller whose DNF simplifier pruned every branch
        return plain.limit(0)
    if predicates_any or predicates:
        return _skip.read_skipping_any(
            spark, path, predicates_any or [predicates], base=plain)
    return plain


def read_changed(spark: SparkSession, path: str, since_ns: int,
                 schema=None) -> DataFrame:
    """The read half of the incremental loop: a DataFrame over ONLY the
    partitions written since ``since_ns`` (per the commit log). Falls
    back to the whole table when a full rewrite intervened (or the
    table predates the log); returns an empty frame when nothing
    changed. Partition dirs dropped since (retention/tombstones) simply
    don't appear — a mirroring consumer diffing keys sees the deletes.

    ``schema`` types the empty result when it can't be inferred (table
    not yet written, or every partition dropped) — without it those
    cases raise with a clear message instead of an executor-side
    AnalysisException. The empty/no-change path never lists the whole
    table: it infers from one partition directory (or ``schema``), so
    an idle poll costs one directory, not O(table).

    Caveat: the result enumerates individual partition directories, so
    an action racing a concurrent scoped merge can hit that merge's
    brief rename window (PATH_NOT_FOUND) — poll loops on hot tables
    should retry, exactly as they would around any eventual listing.
    """
    if not os.path.exists(path):
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(
            f"{path} does not exist — pass schema= for a typed empty "
            "result while the producer hasn't written yet")
    changed = changed_partitions_since(path, since_ns)
    if changed is None:
        return spark.read.parquet(path)
    live = [os.path.join(path, rel) for rel in changed
            if os.path.isdir(os.path.join(path, rel))]
    if live:
        return spark.read.option("basePath", path).parquet(*live)
    # nothing changed (or every changed dir was dropped): typed empty
    if schema is not None:
        return spark.createDataFrame([], schema)
    any_dir = next(
        (os.path.join(path, e) for e in sorted(os.listdir(path))
         if "=" in e and os.path.isdir(os.path.join(path, e))), None)
    from pyspark.errors import AnalysisException

    try:
        probe = (spark.read.option("basePath", path).parquet(any_dir)
                 if any_dir else spark.read.parquet(path))
        return probe.filter(F.lit(False))
    except AnalysisException as ex:
        raise ValueError(
            f"cannot infer a schema for the empty result on {path} "
            "(no readable partition left) — pass schema=") from ex


def _swap_write(df: DataFrame, path: str, op: str = "rewrite") -> None:
    """Write to a temp dir, then swap it into place. POSIX rename keeps
    the exposure window to one directory move (parquet's stand-in for a
    transactional commit). The staged write reads the live directory
    (it is only replaced after the write completes), so no checkpoint /
    re-materialization of the result is ever needed."""
    tmp = f"{path}.__staging__{time.time_ns()}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}.__old__{time.time_ns()}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        _carry_commit_log(old, path)
        shutil.rmtree(old)
    _log_commit(path, op, None)


#: Characters Spark/Hive percent-escape in partition directory names
#: (ExternalCatalogUtils.escapePathName's char set).
_HIVE_UNSAFE = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_escape(value) -> str:
    # Spark's getPartitionValueString maps BOTH null and the empty
    # string to the default partition directory.
    if value is None or value == "":
        return "__HIVE_DEFAULT_PARTITION__"
    # only types whose Python str() equals Spark's partition-value
    # rendering may name a directory: str(True) is 'True' but Spark
    # writes 'true', so a bool partition column would compute a reldir
    # that exists on NEITHER side of the swap — the staged batch would
    # be silently discarded as a no-op swap. Raise instead of losing
    # the batch. (floats/Decimals have repr edge cases — same rule.)
    import datetime as _dt
    if (not isinstance(value, (str, int, _dt.date))
            or isinstance(value, (bool, _dt.datetime))):
        raise TypeError(
            f"unsupported partition-column value type "
            f"{type(value).__name__!r} ({value!r}): Python's rendering "
            "is not guaranteed to match Spark's directory name — "
            "partition on string/int/date columns")
    return "".join(
        "%%%02X" % ord(ch) if ch in _HIVE_UNSAFE or ord(ch) < 32 else ch
        for ch in str(value))


def _partition_reldir(partition_cols: list[str], values: tuple) -> str:
    return "/".join(f"{c}={_hive_escape(v)}"
                    for c, v in zip(partition_cols, values))


def _layout_matches(path: str, partition_cols: list[str] | None) -> bool:
    """Scoped swaps are sound ONLY when the requested partition columns
    equal the table's FULL on-disk hive chain. Validating just the
    first column let a too-shallow ``partition_cols=['provider']`` on a
    ``provider/service`` table rename a staging dir of flat files in
    next to deeper ``service=`` dirs — an unreadable mixed layout that
    ``_table_count`` then reported as a successful empty merge. A
    mismatch now routes to the full swap-write (a layout migration,
    expensive but correct)."""
    return bool(partition_cols) and \
        _detect_partition_cols(path) == list(partition_cols)


def _detect_partition_cols(path: str) -> list[str]:
    """Partition column names from the on-disk hive layout (descend the
    first ``col=value`` chain); [] for a flat table."""
    cols: list[str] = []
    cur = path
    while os.path.isdir(cur):
        part_dirs = [e for e in os.listdir(cur)
                     if "=" in e and os.path.isdir(os.path.join(cur, e))]
        if not part_dirs:
            break
        name = part_dirs[0].split("=", 1)[0]
        cols.append(name)
        cur = os.path.join(cur, part_dirs[0])
    return cols


def _touched_partitions(updates: DataFrame,
                        partition_cols: list[str]) -> list[tuple]:
    """Distinct partition tuples present in the update batch — metadata-
    sized by construction (partition columns are low-cardinality
    provider/service/date values; a batch touches a handful)."""
    return [tuple(r) for r in
            updates.select(*partition_cols).distinct().collect()]


def _partition_predicate(partition_cols: list[str], touched: list[tuple]):
    """OR-of-ANDs partition filter that Catalyst turns into pure
    PARTITION PRUNING on the hive layout — untouched directories are
    never listed, read, or shuffled."""
    pred = F.lit(False)
    for values in touched:
        clause = F.lit(True)
        for c, v in zip(partition_cols, values):
            # null and "" share the default-partition directory, and
            # Spark reads that directory back as null — match both.
            clause = clause & (F.col(c).isNull() if v is None or v == ""
                               else (F.col(c) == F.lit(v)))
        pred = pred | clause
    return pred


def _swap_partitions(df: DataFrame, path: str, partition_cols: list[str],
                     touched: list[tuple]) -> None:
    """Write ONLY the merged partitions to staging, then swap each
    touched ``col=value`` directory into the live table — untouched
    partitions keep their exact files (no read, no rewrite, no
    listing). A touched partition absent from staging (every row
    deleted) is dropped. Old directories move to a trash dir OUTSIDE
    the table tree first so readers never see a non-hive entry."""
    tmp = f"{path}.__staging__{time.time_ns()}"
    # one task per partition directory, oversized output re-split by the
    # record cap — the shared partitioned-write recipe
    write_partitioned(df, tmp, partition_cols)
    trash = f"{path}.__old__{time.time_ns()}"
    os.makedirs(trash)
    displaced: list[tuple[str, str]] = []  # (trash location, live dir)
    # null and "" partition values share one directory — dedupe by the
    # resolved relpath so the swap never processes a directory twice.
    rels = list(dict.fromkeys(
        _partition_reldir(partition_cols, values) for values in touched))
    added: list[str] = []  # live dirs swapped in where none existed
    try:
        for i, rel in enumerate(rels):
            new_dir = os.path.join(tmp, rel)
            live_dir = os.path.join(path, rel)
            had_original = os.path.isdir(live_dir)
            if had_original:
                moved = os.path.join(trash, str(i))
                os.rename(live_dir, moved)
                displaced.append((moved, live_dir))
            if os.path.isdir(new_dir):
                os.makedirs(os.path.dirname(live_dir), exist_ok=True)
                os.rename(new_dir, live_dir)
                if not had_original:
                    added.append(live_dir)
    except BaseException as swap_err:
        # Roll the live table back to its pre-merge state before the
        # trash is dropped: remove every swapped-in staging dir (all
        # reproducible by re-running the merge) and put every displaced
        # original back — a mid-swap failure must neither lose pre-merge
        # data nor leave a half-merged mix. If the ROLLBACK itself fails
        # (e.g. an os.rename error restoring a displaced partition), the
        # trash dir is the only surviving copy of pre-merge data — leave
        # it in place and name it in the raised error for manual
        # recovery instead of rmtree'ing it below.
        try:
            for live_dir in added:
                shutil.rmtree(live_dir, ignore_errors=True)
            for moved, live_dir in displaced:
                if os.path.isdir(moved):
                    if os.path.exists(live_dir):
                        shutil.rmtree(live_dir, ignore_errors=True)
                    os.rename(moved, live_dir)
        except BaseException as rollback_err:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"partition swap failed AND rollback failed — displaced "
                f"pre-merge partitions are preserved at {trash} (numbered "
                f"dirs map to {rels}); restore them manually. Rollback "
                f"error: {rollback_err!r}") from swap_err
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    _log_commit(path, "merge-scoped", rels)


def _swap_write_partitioned(df: DataFrame, path: str,
                            partition_cols: list[str]) -> None:
    """First write / layout migration: full swap-write laying the table
    out hive-partitioned so every subsequent merge can scope. The
    pre-write repartition routes each partition's rows to one task
    (no small-files explosion)."""
    tmp = f"{path}.__staging__{time.time_ns()}"
    write_partitioned(df, tmp, partition_cols)
    old = f"{path}.__old__{time.time_ns()}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        _carry_commit_log(old, path)
        shutil.rmtree(old)
    _log_commit(path, "rewrite-partitioned", None)


def _table_count(spark: SparkSession, path: str) -> int:
    """Fresh post-swap row count. Parquet COUNT(*) aggregates row-group
    metadata without decoding columns — cheap at any table size. An
    all-deleted table may hold zero schema'd part files; ONLY that
    (schema-inference failure) reads as empty — real IO errors raise."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).count()
    except AnalysisException:
        return 0


def _aligned_updates(columns: list[str], updates: DataFrame) -> DataFrame:
    """Reorder ``updates`` to the existing table's ``columns``, raising
    on columns the table doesn't have — silent projection would hide
    schema drift (a new scanner field that never lands in the
    warehouse)."""
    extra = [c for c in updates.columns if c not in columns]
    if extra:
        raise ValueError(
            f"update batch has columns absent from the table: {extra} — "
            "migrate the table schema before writing (warehouse."
            "evolve_schema for a warehouse table; silent drops hide "
            "schema drift)")
    return updates.select(*columns)


def _footer_columns(path: str) -> list[str] | None:
    """The table's columns read from ONE data file's footer plus its
    hive partition directories — no Spark job. None when the table has
    no data file yet."""
    import pyarrow.parquet as pq

    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for name in sorted(names):
            if name.endswith(".parquet") \
                    and not name.startswith((".", "_")):
                parts = os.path.relpath(root, path).split(os.sep)
                return (pq.read_schema(os.path.join(root, name)).names
                        + [d.split("=", 1)[0] for d in parts if "=" in d])
    return None


def append(df: DataFrame, path: str) -> None:
    """Append-only sinks (scan_metadata K5, api_action_metadata K6).

    Refuses a frame with columns the table lacks, exactly as the merges
    do (``evolve_schema`` first): a plain read takes its schema from
    the first footer in path order, so an appended column would exist
    or not depending on part-file names. A missing table is created.

    Takes the same writer lock as the merge family so an append can
    never land between a swap-write's two renames, and logs a
    full-rewrite commit (partitions=None) when the table already has a
    commit log — appended rows must not be invisible to
    ``changed_partitions_since``/``read_changed`` consumers that trust
    the log. A table without a log stays log-free (pre-log tables
    already read as "assume all changed")."""
    with _table_lock(path):
        columns = _footer_columns(path)
        if columns is not None:
            df = _aligned_updates(columns, df)
        df.write.mode("append").parquet(path)
        if os.path.exists(os.path.join(path, _COMMIT_LOG)):
            _log_commit(path, "append", None)


@_locked_writer
def evolve_schema(spark: SparkSession, path: str, updates: DataFrame,
                  partition_cols: list[str] | None = None) -> list[str]:
    """ADD-COLUMN schema migration — the remedy the merge functions'
    schema-drift error points at. Every ``updates`` column absent from
    the table is added as NULL (typed from the update schema) via one
    rewrite-and-swap; existing columns are untouched, and a
    hive-partitioned layout is preserved when ``partition_cols`` is
    given. Idempotent: a no-drift call rewrites nothing.

    Delta's ``ALTER TABLE ADD COLUMNS`` / mergeSchema on the plain-
    parquet store. One full rewrite per migration — migrations are
    rare, deliberate events; merges stay partition-scoped. Returns the
    added column names.
    """
    existing = spark.read.parquet(path)
    if not partition_cols:
        # auto-detect: rewriting a hive-partitioned table flat would
        # silently demote every later merge to a full-table rewrite
        partition_cols = _detect_partition_cols(path)
    added = [c for c in updates.columns if c not in existing.columns]
    if not added:
        return []
    widened = existing.select(
        "*",
        *[F.lit(None).cast(updates.schema[c].dataType).alias(c)
          for c in added],
    )
    if partition_cols:
        # keep partition columns last, matching the hive read layout
        ordered = [c for c in widened.columns if c not in partition_cols]
        widened = widened.select(*ordered, *partition_cols)
        _swap_write_partitioned(widened, path, partition_cols)
    else:
        _swap_write(widened, path)
    return added


@_locked_writer
def merge_upsert(spark: SparkSession, path: str, updates: DataFrame,
                 keys: list[str], order_col: str = "scanned_at",
                 partition_cols: list[str] | None = None,
                 count_rows: bool = True) -> int:
    """Upsert ``updates`` into the parquet table at ``path``: rows whose
    ``keys`` match an existing row replace it (newest ``order_col`` wins,
    update beating existing on ties); new keys are inserted.

    With ``partition_cols`` (low-cardinality, string/date/int hive
    partition columns; must be a prefix of the merge locality — every
    version of a key lives in one partition), the merge is PARTITION-
    SCOPED: only the hive partitions containing the batch's partition
    values are read, shuffled, rewritten, and swapped; the rest of a
    100 TB table is untouched — no listing, no scan, no rewrite. This
    matches the reference's keyed-upsert cost model
    (internal/db/graph_loader.go:155-253 — ``INSERT … ON CONFLICT DO
    UPDATE`` touches only conflicting rows, never the table). A first
    merge (or a merge into a non-partitioned table) lays the table out
    hive-partitioned so subsequent merges scope.

    Returns the resulting row count, or -1 with ``count_rows=False`` —
    the post-merge count is a full-table parquet metadata read, which a
    high-frequency caller (the streaming sink) should skip. Equivalent
    to Delta ``MERGE WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT
    *``.
    """
    updates = updates.withColumn("_src", F.lit(1))
    scoped = _layout_matches(path, partition_cols)
    touched: list[tuple] = []
    if os.path.exists(path):
        existing = spark.read.parquet(path).withColumn("_src", F.lit(0))
        if scoped:
            touched = _touched_partitions(updates, partition_cols)
            existing = existing.filter(
                _partition_predicate(partition_cols, touched))
        merged = existing.unionByName(
            _aligned_updates(existing.columns, updates))
    else:
        merged = updates
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), F.desc("_src"))
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    if scoped:
        _swap_partitions(result, path, partition_cols, touched)
    elif partition_cols:
        _swap_write_partitioned(result, path, partition_cols)
    else:
        _swap_write(result, path)
    return _table_count(spark, path) if count_rows else -1


@_locked_writer
def retention_delete(spark: SparkSession, path: str, ts_col: str,
                     cutoff: str) -> int:
    """K7 retention: drop rows older than ``cutoff`` (change_storage.go:
    283-295). Returns rows kept.

    AUTO-ROUTES to the partition-drop path when ``ts_col`` IS the
    table's leading hive partition column: every row in a
    ``ts_col=value`` directory carries exactly that value, so dropping
    directories lexicographically below ``cutoff`` equals the row
    filter — a metadata-only delete that rewrites ZERO surviving bytes
    (the 100 TB retention story; use ISO / zero-padded partition
    values so string order is value order). Tables partitioned by a
    DERIVED column (e.g. ``dt=date(ts)``) should call
    ``retention_drop_partitions`` directly with an aligned cutoff —
    deriving the mapping here would guess. The generic path (non-
    partitioned, or partitioned on another column) rewrites the
    survivors via swap-write, unchanged."""
    if not os.path.exists(path):
        return 0
    pcols = _detect_partition_cols(path)
    if pcols and pcols[0] == ts_col:
        _drop_partitions_below(path, ts_col, cutoff)
    else:
        # NULL-timestamp rows are KEPT: null >= cutoff is null (row
        # silently deleted by a bare filter), while the partition-drop
        # path keeps them (__HIVE_DEFAULT_PARTITION__ sorts above any
        # date cutoff) — retention must not delete rows whose age is
        # unknown, and both paths must agree
        kept = spark.read.parquet(path).filter(
            F.col(ts_col).isNull() | (F.col(ts_col) >= F.lit(cutoff)))
        if pcols:
            # preserve the hive layout: rewriting a partitioned table
            # flat would silently demote every later merge to a
            # full-table rewrite
            _swap_write_partitioned(kept, path, pcols)
        else:
            _swap_write(kept, path)
    return _table_count(spark, path)


# ---------------------------------------------------------------------------
# Bucketed tables — co-located joins (the scale answer to the reference's
# secondary indexes, unified_schema.go:129-143 → SURVEY.md §4)
# ---------------------------------------------------------------------------

def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   buckets: int = 32, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Persist as a bucketed managed table: rows are hash-partitioned into
    ``buckets`` files by ``bucket_cols`` at write time, so a join or
    aggregation on those columns later needs NO shuffle — Spark's
    equivalent of the reference's indexes on hot join keys. Two tables
    bucketed the same way join shuffle-free (see tests/test_warehouse.py
    for the plan assertion). Bucket count is a layout decision: pick
    ~(table size / executor-memory-sized splits), same at 100 TB."""
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def salted_join(left: DataFrame, right: DataFrame, key: str,
                salts: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join resilient to extreme key skew: the big (left) side gets a
    random-ish salt in [0, salts) derived from a stable row hash, the
    small-to-medium (right) side is exploded ``salts``× with every salt
    value, and the join runs on (key, salt) — one hot key spreads over
    ``salts`` reducers instead of melting one. Use when AQE's skew-join
    split isn't enough (a single key beyond one executor's memory);
    costs a ``salts``× blow-up of the right side, so keep salts small.

    Inner and left joins only: under right/full/right-semi joins the
    ``salts`` exploded copies of an UNMATCHED right row all survive,
    duplicating it ``salts``× — refused rather than silently wrong.
    """
    if how not in ("inner", "left", "leftouter", "left_outer",
                   "left_semi", "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join supports inner/left joins, not {how!r}: an "
            f"unmatched right row would survive as {salts} salted copies")
    lsalt = (F.abs(F.xxhash64(*[F.col(c) for c in left.columns])) % salts).cast("int")
    l = left.withColumn("_salt", lsalt)
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(salts)]))
    )
    return l.join(r, [key, "_salt"], how).drop("_salt")


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: list[str],
                      max_records_per_file: int = 1_000_000,
                      mode: str = "overwrite") -> None:
    """Persist hive-partitioned parquet (``path/col=value/…``): the
    directory layout that turns per-provider / per-region / per-service
    predicates into PARTITION PRUNING — a 100 TB warehouse filtered to
    one region reads only that region's directories, no data scan at
    all. Complements write_bucketed (bucketing co-locates join keys
    *within* a partition; partitioning prunes whole directories).

    The pre-write ``repartition(*partition_cols)`` routes each output
    partition's rows to one task — without it every task writes a file
    into every partition directory (the small-files explosion);
    maxRecordsPerFile re-splits oversized partitions. Low-cardinality
    columns only (provider/region/service, never resource_id).
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet table directory tree —
    driver-side directory walk (metadata-sized, not data-sized)."""
    n_files = total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                n_files += 1
                total += os.path.getsize(os.path.join(root, name))
    return n_files, total


@_locked_writer
def compact_table(spark: SparkSession, path: str,
                  partition_cols: list[str] | None = None,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  sort_cols: list[str] | None = None,
                  stats_cols: list[str] | None = None) -> tuple[int, int]:
    """Small-file compaction (OPTIMIZE-style rewrite): coalesce a table's
    many small parquet files into ~``target_file_bytes`` files, keeping
    the hive partition layout when ``partition_cols`` is given.

    Why it exists: every streaming micro-batch / incremental append adds
    files; a long-running 100 TB warehouse degrades to millions of tiny
    files whose open/footer costs dominate scans. Rewrite-and-swap with
    a target size restores scan efficiency and is idempotent.

    The file-count target comes from the on-disk byte size (driver-side
    metadata walk, no data read); the rewrite itself is one distributed
    repartition + write, atomically swapped into place. Returns
    (files_before, files_after).

    ``sort_cols`` linearly clusters the rewrite (range-partition + sort
    within files for a flat table; sort within each hive partition's
    task otherwise) and ``stats_cols`` materializes file-level zone
    maps afterwards — compaction is the natural moment to tighten the
    layout that makes ``skipping.read_skipping`` pruning effective.
    A table that ALREADY has zone maps gets them refreshed as part of
    the rewrite even without ``stats_cols`` (recorded columns + bloom
    opt-in preserved), so pruning works immediately after compaction —
    no stale window, no separate O(table) ``refresh_stats``.
    """
    before, total_bytes = table_file_stats(spark, path)
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    tmp = f"{path}.__compact__{time.time_ns()}"
    if partition_cols:
        # one task per hive partition, files re-split by the record cap
        # — without maxRecordsPerFile a 10 GB partition hashes onto ONE
        # task and lands as ONE file, 80x the target (the comment said
        # 'record cap' but none was set)
        rows = df.count()  # parquet metadata only, no column decode
        cap = max(1, -(-rows // n_out))  # ~rows per target-sized file
        shaped = df.repartition(n_out, *[F.col(c) for c in partition_cols])
        if sort_cols:
            shaped = shaped.sortWithinPartitions(*partition_cols,
                                                 *sort_cols)
        (
            shaped.write.mode("overwrite")
            .option("maxRecordsPerFile", cap)
            .partitionBy(*partition_cols)
            .parquet(tmp)
        )
    else:
        shaped = (df.repartitionByRange(n_out, *sort_cols)
                  .sortWithinPartitions(*sort_cols)
                  if sort_cols else df.repartition(n_out))
        shaped.write.mode("overwrite").parquet(tmp)
    old = f"{path}.__old__{time.time_ns()}"
    os.rename(path, old)
    os.rename(tmp, path)
    # Deliberately NOT carrying the old commit log: compaction is a
    # full rewrite, so any consumer whose mark predates it must full-
    # rescan regardless — starting a fresh log with just the compact
    # record is semantically lossless AND bounds log growth through
    # routine maintenance.
    # carry the (now-stale) zone maps — the fresh log's compact commit
    # routes skipping straight to fallback/recompute, but the table
    # stays opted into data skipping without an operator re-bootstrap
    old_stats = os.path.join(old, _STATS_FILE)
    if os.path.exists(old_stats):
        os.rename(old_stats, os.path.join(path, _STATS_FILE))
    shutil.rmtree(old)
    _log_commit(path, "compact", None)
    if stats_cols:
        from . import skipping  # local import: skipping imports us

        skipping.recompute_stats(spark, path, stats_cols)
    else:
        # a table that already has zone maps gets them refreshed as
        # part of the rewrite — compact→query never pays a stale
        # window or a separate O(table) refresh_stats
        _refresh_carried_stats(spark, path)
    after, _ = table_file_stats(spark, path)
    return before, after


def _quantize(c: Column, lo: float, hi: float, bits: int) -> Column:
    span = (hi - lo) or 1.0
    scaled = ((c.cast("double") - F.lit(lo)) / F.lit(span)) * ((1 << bits) - 1)
    return F.least(F.greatest(F.round(scaled).cast("long"), F.lit(0)),
                   F.lit((1 << bits) - 1))


def zorder_value_nd(cols: list[Column], mins: list[float],
                    maxs: list[float], bits: int = 16) -> Column:
    """N-dimensional Morton key: bit i of quantized dim j lands at
    position ``i*k + j`` so every dimension contributes equally at
    every scale — each output file covers a small k-dim hyper-box and
    a selective predicate on ANY clustered column prunes. Still pure
    integer Column arithmetic in whole-stage codegen (k*bits
    shift/or terms). ``k * bits`` must fit a signed long; bits is
    capped accordingly (e.g. 4 dims -> <=15 bits/dim)."""
    k = len(cols)
    if not (k and k == len(mins) == len(maxs)):
        raise ValueError("cols/mins/maxs must be equal, non-zero length")
    if k * bits > 62:
        raise ValueError(f"{k} dims x {bits} bits overflows a long — "
                         f"use bits<={62 // k}")
    qs = [_quantize(c, lo, hi, bits)
          for c, lo, hi in zip(cols, mins, maxs)]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(qs):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * k + j))
    return z


def zorder_write(df: DataFrame, path: str, x_col: str, y_col: str,
                 n_files: int = 16, bits: int = 16,
                 stats_cols: list[str] | None = None) -> None:
    """Write ``df`` clustered by the Z-order of (x_col, y_col) so that
    parquet row-group/file min-max statistics prune BOTH dimensions.

    A table sorted by one column skips scans only for predicates on that
    column; the Morton interleave gives every output file a small
    rectangle of (x, y) space, so a selective predicate on either column
    (or both) eliminates most files from the scan — the layout half of
    data skipping, complementing partition pruning (categorical dirs)
    and bucketing (join co-location).

    The min/max bounds come from one metadata-sized aggregate;
    repartitionByRange on the z-key gives contiguous key ranges per
    file; the within-partition sort keeps row groups tight.

    ``stats_cols`` additionally materializes file-level zone maps
    (``skipping.compute_stats``) right after the rewrite — the moment
    the layout makes them tight — so ``skipping.read_skipping`` prunes
    files driver-side before Spark opens a single footer.
    """
    zorder_write_nd(df, path, [x_col, y_col], n_files=n_files,
                    bits=bits, stats_cols=stats_cols)


def zorder_write_nd(df: DataFrame, path: str, cols: list[str],
                    n_files: int = 16, bits: int | None = None,
                    stats_cols: list[str] | None = None) -> None:
    """N-dimensional Z-order rewrite: every output file covers a small
    hyper-box of the k clustered columns, so selective predicates on
    ANY of them prune files (Delta's OPTIMIZE ZORDER BY shape). bits
    defaults to the largest per-dim resolution that fits a long key."""
    if bits is None:
        bits = min(16, 62 // len(cols))
    bounds = df.agg(*[f for c in cols
                      for f in (F.min(c).cast("double"),
                                F.max(c).cast("double"))]).first()
    missing = [c for j, c in enumerate(cols)
               if bounds[2 * j] is None or bounds[2 * j + 1] is None]
    if missing:
        # empty df or all-NULL clustered column: (hi - lo) on None
        # would raise a TypeError deep in expression construction
        raise ValueError(
            f"zorder_write_nd: no min/max bounds for {missing} — the "
            "DataFrame is empty or those clustered columns are entirely "
            "NULL; Z-ordering needs at least one non-NULL value per "
            "clustered column")
    z = zorder_value_nd([F.col(c) for c in cols],
                        [bounds[2 * j] for j in range(len(cols))],
                        [bounds[2 * j + 1] for j in range(len(cols))],
                        bits=bits)
    with _table_lock(path):
        # Stage-and-swap like every other writer: an in-place overwrite
        # deletes the live dir first, so readers (and a df derived from
        # reading this same path) would observe a missing/partial table
        # mid-rewrite.
        _swap_write(
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z"),
            path, op="zorder-rewrite")
        if stats_cols:
            from . import skipping  # local import: skipping imports us

            skipping.recompute_stats(df.sparkSession, path,
                                     stats_cols)
        else:
            # carried zone maps refresh in-pass (see compact_table)
            _refresh_carried_stats(df.sparkSession, path)


@_locked_writer
def scd2_merge(spark: SparkSession, path: str, updates: DataFrame,
               keys: list[str], tracked_cols: list[str],
               effective_col: str = "scanned_at",
               snapshot: bool = False,
               snapshot_ts=None,
               partition_cols: list[str] | None = None,
               count_rows: bool = True) -> int:
    """Type-2 slowly-changing-dimension merge: instead of overwriting a
    changed row (merge_upsert, SCD1), close out the current version
    (set ``valid_to`` = the update's effective time, ``is_current`` =
    false) and insert the new version — the full change history stays
    queryable, which is what the reference's change tracking promises
    but its upsert storage discards (internal/changes/change_storage.go
    keeps events, not versioned state).

    ``tracked_cols`` decide what counts as a change; updates identical on
    all of them are no-ops (no new version). The dimension table gains
    ``valid_from`` / ``valid_to`` (NULL = open) / ``is_current``.

    ``snapshot=True`` treats ``updates`` as a FULL snapshot: current
    rows whose key is absent from it are closed out at ``snapshot_ts``
    (deletion detection — the reference's DetectDrift "missing resource"
    case, pkg/drift/detector.go, expressed as history instead of a
    report).

    Plan shape: one join of updates to current rows on the key (updates
    are batch-sized; AQE broadcasts small ones), no window over the full
    history — closed versions are untouched pass-through rows.

    ``partition_cols`` makes the merge PARTITION-SCOPED exactly as in
    merge_upsert: only the hive partitions carrying the batch's
    partition values are read and rewritten (history AND current rows
    of other partitions keep their files untouched). In snapshot mode
    the completeness contract becomes per-partition: deletion detection
    closes out keys missing from the snapshot WITHIN the touched
    partitions only.

    Returns the resulting row count (-1 with ``count_rows=False``,
    skipping the full-table metadata read — see merge_upsert).
    """
    meta = {"valid_from", "valid_to", "is_current"}
    scoped = _layout_matches(path, partition_cols)
    touched: list[tuple] = []
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        if scoped:
            touched = _touched_partitions(updates, partition_cols)
            existing = existing.filter(
                _partition_predicate(partition_cols, touched))
    else:
        empty_schema = (
            updates
            .withColumn("valid_from", F.col(effective_col))
            .withColumn("valid_to", F.col(effective_col))
            .withColumn("is_current", F.lit(True))
            .schema
        )
        existing = spark.createDataFrame([], empty_schema)
    data_cols = [c for c in existing.columns if c not in meta]
    extra = [c for c in updates.columns if c not in data_cols]
    if extra:
        raise ValueError(
            f"update batch has columns absent from the table: {extra} — "
            "migrate the table schema before merging (silent drops hide "
            "schema drift)")

    # one version decision per key per batch: a replayed/duplicated key
    # in one batch would otherwise join every current row twice —
    # duplicate open versions and double close-outs, a permanently
    # corrupted dimension. Keep the newest update per key (the same
    # newest-wins rule merge_upsert applies).
    upd_w = Window.partitionBy(*keys).orderBy(F.col(effective_col).desc())
    updates = (updates.withColumn("__rn", F.row_number().over(upd_w))
               .filter(F.col("__rn") == 1).drop("__rn"))
    # explicit presence sentinels: testing keys[0] IS NOT NULL would
    # silently DROP rows whose first key column is null (they match
    # neither kept/closed/inserted); null-key rows never equi-join, so
    # each side's row passes through independently
    upd = updates.select(*data_cols).withColumn("__u", F.lit(1)).alias("u")
    cur = (existing.filter(F.col("is_current"))
           .withColumn("__c", F.lit(1)).alias("c"))
    closed = existing.filter(~F.col("is_current"))

    changed = [
        ~(F.col(f"u.{c}").eqNullSafe(F.col(f"c.{c}"))) for c in tracked_cols
    ]
    change_pred = changed[0]
    for p in changed[1:]:
        change_pred = change_pred | p

    joined = cur.join(upd, [F.col(f"c.{k}") == F.col(f"u.{k}") for k in keys],
                      "full_outer")
    has_cur = F.col("c.__c").isNotNull()
    has_upd = F.col("u.__u").isNotNull()

    # current rows: keep unchanged ones open; close out changed ones.
    # In snapshot mode a current row with no update means the resource
    # vanished: close it at snapshot_ts instead of keeping it open.
    if snapshot and snapshot_ts is None:
        raise ValueError("snapshot=True requires snapshot_ts")
    keep_pred = has_cur & (~has_upd if not snapshot else F.lit(False))
    kept_open = joined.filter(
        (has_cur & has_upd & ~change_pred) | keep_pred
    ).select(
        *[F.col(f"c.{c}").alias(c) for c in data_cols],
        F.col("c.valid_from").alias("valid_from"),
        F.col("c.valid_to").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed_out = joined.filter(has_cur & has_upd & change_pred).select(
        *[F.col(f"c.{c}").alias(c) for c in data_cols],
        F.col("c.valid_from").alias("valid_from"),
        F.col(f"u.{effective_col}").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    if snapshot:
        vanished = joined.filter(has_cur & ~has_upd).select(
            *[F.col(f"c.{c}").alias(c) for c in data_cols],
            F.col("c.valid_from").alias("valid_from"),
            F.lit(snapshot_ts).cast(
                updates.schema[effective_col].dataType).alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
        closed_out = closed_out.unionByName(vanished)
    # new versions: changed keys + brand-new keys
    inserted = joined.filter(has_upd & (~has_cur | change_pred)).select(
        *[F.col(f"u.{c}").alias(c) for c in data_cols],
        F.col(f"u.{effective_col}").alias("valid_from"),
        F.lit(None).cast(updates.schema[effective_col].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    result = (
        closed.unionByName(kept_open)
        .unionByName(closed_out)
        .unionByName(inserted)
    )
    if scoped:
        _swap_partitions(result, path, partition_cols, touched)
    elif partition_cols:
        _swap_write_partitioned(result, path, partition_cols)
    else:
        _swap_write(result, path)
    return _table_count(spark, path) if count_rows else -1


def table_diff(before: DataFrame, after: DataFrame, keys: list[str],
               compare_cols: list[str] | None = None) -> DataFrame:
    """Snapshot reconciliation: classify every key as ADDED / REMOVED /
    CHANGED / UNCHANGED between two table versions.

    The anti-entropy pass a warehouse runs after a migration or replica
    sync — the row-set generalization of the per-key checksum surface
    (reference drift detection compares per-resource property maps,
    aws_change_tracker.go:750-811; this compares whole relations).

    Scale shape: each side reduces to (key, xxhash64 of the compared
    columns) map-side, then ONE full-outer hash join on the key decides
    the status — no column-by-column join, no second shuffle, and the
    hash comparison is O(1) per row regardless of column count. NULL vs
    absent is disambiguated by hashing a struct (field order fixed by
    ``compare_cols``).

    Returns (*keys, status) with status in
    {'ADDED','REMOVED','CHANGED','UNCHANGED'}.
    """
    cols = compare_cols or [c for c in after.columns if c not in keys]

    def hashed(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            *keys, F.xxhash64(F.struct(*[F.col(c) for c in cols])).alias(out)
        )

    b = hashed(before, "__hb")
    a = hashed(after, "__ha")
    status = (
        F.when(F.col("__hb").isNull(), F.lit("ADDED"))
        .when(F.col("__ha").isNull(), F.lit("REMOVED"))
        .when(F.col("__ha") == F.col("__hb"), F.lit("UNCHANGED"))
        .otherwise(F.lit("CHANGED"))
    )
    return b.join(a, keys, "full_outer").select(*keys, status.alias("status"))


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — mergeable partial-aggregation state
# tables (the materialized-rollup pattern: refresh by merging the new
# batch's state, never by re-scanning history).
# ---------------------------------------------------------------------------

def init_agg_state(df: DataFrame, keys: list[str], value_col: str,
                   distinct_col: str | None = None) -> DataFrame:
    """Reduce a batch to per-key mergeable aggregate state:
    (keys..., cnt, total, vmin, vmax[, dsk]) — counts/sums/extrema merge
    by sum/min/max, the distinct sketch (DataSketches HLL binary) merges
    by union. This is exactly the map-side partial-aggregation state
    Spark itself shuffles; persisting it per batch makes a 100 TB rollup
    refresh cost O(|new batch| + |key space|) instead of O(history).
    """
    aggs = [
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col(value_col).cast("double")).alias("total"),
        F.min(F.col(value_col).cast("double")).alias("vmin"),
        F.max(F.col(value_col).cast("double")).alias("vmax"),
    ]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col).alias("dsk"))
    return df.groupBy(*keys).agg(*aggs)


def merge_agg_state(*states: DataFrame, keys: list[str]) -> DataFrame:
    """Merge any number of state tables into one (union + one groupBy —
    a single shuffle over |keys| rows per input, commutative and
    associative so batch order never matters)."""
    if not states:
        raise ValueError("merge_agg_state: no states given")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s, allowMissingColumns=False)
    has_sketch = "dsk" in u.columns
    aggs = [
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("total").alias("total"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    ]
    if has_sketch:
        aggs.append(F.hll_union_agg("dsk").alias("dsk"))
    return u.groupBy(*keys).agg(*aggs)


def finalize_agg_state(state: DataFrame, keys: list[str]) -> DataFrame:
    """Render state as user-facing aggregates (avg derived from
    sum/count; sketch rendered as an estimate)."""
    cols = [
        *keys,
        F.col("cnt"),
        F.col("total"),
        (F.col("total") / F.col("cnt")).alias("avg"),
        F.col("vmin"),
        F.col("vmax"),
    ]
    if "dsk" in state.columns:
        cols.append(
            F.hll_sketch_estimate("dsk").cast("long").alias("approx_distinct"))
    return state.select(*cols)


def write_sharded_corpus(df: DataFrame, path: str, key_col: str,
                         n_shards: int, seed: str = "shard-v1") -> dict:
    """Export a corpus as ``n_shards`` deterministic shard files plus a
    manifest — the layout a training data-loader consumes (each worker
    reads shard ``i`` of ``n``; re-exports of the same corpus are
    byte-stable, so loaders can resume by manifest).

    Shard assignment is the engine-portable md5 idiom over (seed, key):
    every engine, and every re-run, routes a document to the same shard.
    One shuffle (repartition on the shard id) routes each shard's rows
    to exactly one task → exactly one file per shard directory, no
    small-files explosion. Rows are sorted by key within each shard so
    file contents are deterministic, not partition-arrival-ordered.

    Returns the manifest: {n_shards, seed, total_rows, shards: [{shard,
    n_rows, key_checksum}]} — key_checksum is an order-insensitive
    64-bit xor-fold of the member keys, letting a loader verify a shard
    without reading the data twice. The manifest is also written to
    ``path/_manifest.json``.
    """
    import json as _json
    import os as _os

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = F.col(key_col)
    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))),
                           1, 8), 16, 10)
        .cast("long") % n_shards
    ).alias("shard")
    (
        df.withColumn("shard", shard)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    stats = (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # bit_xor of xxhash64(key): commutative and overflow-free,
            # so neither partition order nor row order can change it
            F.expr(f"bit_xor(xxhash64(cast({key_col} as string)))")
            .alias("key_checksum"),
        )
        .orderBy("shard")
        .collect()
    )
    manifest = {
        "n_shards": n_shards,
        "seed": seed,
        "total_rows": int(sum(r.n_rows for r in stats)),
        "shards": [
            {"shard": int(r.shard), "n_rows": int(r.n_rows),
             "key_checksum": int(r.key_checksum)}
            for r in stats
        ],
    }
    with open(_os.path.join(path, "_manifest.json"), "w") as fh:
        _json.dump(manifest, fh)
    return manifest


def validate_expectations(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Data-contract validation: evaluate declarative expectations over a
    table in ONE aggregation pass and return a violations summary — the
    post-ingest gate a warehouse runs before publishing a snapshot.

    Each rule is a dict with ``name`` plus one of:

    * ``{"not_null": col}`` — no NULLs in col;
    * ``{"unique": col}`` — col values are distinct (NULLs ignored);
    * ``{"range": col, "min": x, "max": y}`` — values inside [x, y]
      (either bound optional);
    * ``{"in_set": col, "values": [...]}`` — values drawn from a set;
    * ``{"expr": sql_bool}`` — arbitrary SQL predicate that must hold
      for every row.

    All non-unique checks compile to conditional counts inside one
    ``agg`` (single scan, map-side combine); each ``unique`` rule adds
    one countDistinct (Expand pass shared by all unique rules). Returns
    (rule, violations, n_rows, passed) — a rule passes iff violations
    is 0.
    """
    if not rules:
        raise ValueError("validate_expectations: no rules given")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    uniques: list[tuple[str, str]] = []
    for rule in rules:
        name = rule["name"]
        if "not_null" in rule:
            cond = F.col(rule["not_null"]).isNull()
        elif "unique" in rule:
            uniques.append((name, rule["unique"]))
            continue
        elif "range" in rule:
            c = F.col(rule["range"])
            cond = F.lit(False)
            if "min" in rule:
                cond = cond | (c < rule["min"])
            if "max" in rule:
                cond = cond | (c > rule["max"])
            cond = cond & c.isNotNull()
        elif "in_set" in rule:
            cond = (~F.col(rule["in_set"]).isin(rule["values"])
                    & F.col(rule["in_set"]).isNotNull())
        elif "expr" in rule:
            cond = ~F.expr(rule["expr"])
        else:
            raise ValueError(f"unknown expectation kind in rule {name!r}")
        aggs.append(F.sum(F.when(cond, 1).otherwise(0))
                    .cast("long").alias(f"__v_{name}"))
    for name, col in uniques:
        aggs.append(F.count(F.col(col)).cast("long").alias(f"__c_{name}"))
        aggs.append(F.countDistinct(F.col(col)).cast("long")
                    .alias(f"__d_{name}"))
    row = df.agg(*aggs)
    structs = []
    for rule in rules:
        name = rule["name"]
        if "unique" in rule:
            viol = F.col(f"__c_{name}") - F.col(f"__d_{name}")
        else:
            viol = F.col(f"__v_{name}")
        structs.append(F.struct(
            F.lit(name).alias("rule"),
            viol.alias("violations"),
            F.col("__n").alias("n_rows"),
            (viol == 0).alias("passed"),
        ))
    return (
        row.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
    )


@_locked_writer
def merge_upsert_cdc(spark: SparkSession, path: str, updates: DataFrame,
                     keys: list[str], order_col: str = "scanned_at",
                     op_col: str = "op", delete_value: str = "DELETE",
                     partition_cols: list[str] | None = None,
                     count_rows: bool = True) -> int:
    """CDC merge with delete propagation: rows whose ``op_col`` equals
    ``delete_value`` act as TOMBSTONES — if the tombstone is the newest
    version of its key, the key disappears from the table; otherwise the
    newest non-delete row wins as in ``merge_upsert``. Delta's
    ``MERGE … WHEN MATCHED AND op = 'DELETE' THEN DELETE`` on the plain-
    parquet snapshot store.

    ``partition_cols`` scopes the merge to the hive partitions the batch
    touches, exactly as in ``merge_upsert`` — a partition whose every
    row is tombstoned is dropped as a directory (no empty-dir residue).

    Same single shuffle on the key columns (keep-newest window), one
    extra map-side filter for the tombstones. Replay-safe: re-applying
    the same batch reaches the same table (newest-wins + the update
    side beating existing on order ties). Returns the resulting row
    count (-1 with ``count_rows=False``, skipping the full-table
    metadata read — see merge_upsert).
    """
    updates = updates.withColumn("_src", F.lit(1))
    scoped = _layout_matches(path, partition_cols)
    touched: list[tuple] = []
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        if op_col in existing.columns:
            # withColumn would silently NULL a real data column named
            # like the CDC flag, and the final drop would destroy it
            raise ValueError(
                f"table already has a column named {op_col!r} — pass a "
                "different op_col; overwriting it would destroy data")
        existing = (
            existing
            .withColumn("_src", F.lit(0))
            .withColumn(op_col, F.lit(None).cast("string"))
        )
        if scoped:
            touched = _touched_partitions(updates, partition_cols)
            existing = existing.filter(
                _partition_predicate(partition_cols, touched))
        merged = existing.unionByName(
            _aligned_updates(existing.columns, updates))
    else:
        merged = updates
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), F.desc("_src"))
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.coalesce(F.col(op_col), F.lit("")) != delete_value)
        .drop("_rn", "_src", op_col)
    )
    if scoped:
        _swap_partitions(result, path, partition_cols, touched)
    elif partition_cols:
        _swap_write_partitioned(result, path, partition_cols)
    else:
        _swap_write(result, path)
    return _table_count(spark, path) if count_rows else -1


def _drop_partitions_below(path: str, partition_col: str,
                           cutoff: str) -> list[str]:
    """Lock-free core of the partition-drop retention path (callers hold
    the table lock). Returns the dropped partition values."""
    prefix = f"{partition_col}="
    dropped = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(prefix):
            continue
        value = entry[len(prefix):]
        if value < cutoff:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(value)
    if dropped:
        # deletions are changes too — incremental consumers must
        # drop these partitions from their mirror
        _log_commit(path, "retention-drop",
                    [f"{prefix}{v}" for v in dropped])
    return dropped


def retention_drop_partitions(path: str, partition_col: str,
                              cutoff: str) -> list[str]:
    """K7 retention on a hive-partitioned table as a PARTITION DROP:
    remove every ``partition_col=value`` directory whose value sorts
    strictly below ``cutoff`` — a metadata-only operation (no data read,
    no rewrite), which is why date-partitioned layouts are the retention
    story at 100 TB (``retention_delete`` auto-routes here when its
    ``ts_col`` is the partition column; its generic path rewrites all
    survivors). String comparison matches hive's lexicographic partition
    values; use zero-padded / ISO-formatted partition values (dates
    already are). Returns the dropped partition values.
    """
    with _table_lock(path):
        return _drop_partitions_below(path, partition_col, cutoff)
