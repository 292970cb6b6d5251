"""File-statistics data skipping (zone maps) for parquet tables.

Delta-lake-style min/max pruning on NON-partition columns: a one-pass
Spark job records per-data-file column statistics (min, max, null
count, row count) into ``_column_stats.json`` inside the table
directory, and ``read_skipping`` consults them to open ONLY the files
whose [min, max] range can satisfy a conjunctive predicate. Hive
partition pruning eliminates directories by partition VALUE; zone maps
eliminate files by DATA range — together with ``warehouse.zorder_write``
/ ``compact_table(sort_cols=...)`` clustering, a selective predicate on
a 100 TB table touches a handful of files instead of every footer.

Correctness never depends on the statistics:

* the real predicate is always re-applied to whatever is read, so a
  stale or wrong zone map can only cost extra I/O, never wrong rows;
* files NOT present in the stats (appended since) are always read;
* partitions written since the stats snapshot (per the table's
  ``_commits.jsonl``, see ``warehouse._log_commit``) are always read,
  and a full-rewrite commit drops back to a plain scan;
* an all-null file is skipped for comparison predicates (SQL
  comparisons never match NULL) but kept for ``is_null``;
* edge values never prune on a guess: NaN bounds keep the file (Spark
  orders NaN largest, Python won't compare it), Decimal bounds widen
  outward by one float ulp, and comparison-domain coercion is gated
  on the column's RECORDED Spark type (``types`` in the stats file):
  only date/timestamp columns parse ISO bounds into datetimes
  (matching Spark's date→timestamp promotion) — string columns
  compare lexicographically exactly as Spark compares them, and a
  column whose type is unknown (pre-``types`` snapshot) only prunes
  on unambiguous bounds.

Reference parity: the reference delegates scans to DuckDB, whose
parquet reader prunes row groups via zone maps automatically
(duckdb row-group min/max statistics; the reference's storage layer at
``internal/storage`` inherits it). At 100 TB the same decision must
happen BEFORE listing/opening files — materialized file-level
statistics are the distributed analogue (Delta data skipping /
Iceberg manifest column bounds).
"""

from __future__ import annotations

import base64
import datetime as _dt
import decimal as _decimal
import json
import math
import os
import threading
import time
import urllib.parse
import zlib
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import ScanBudgetExceeded
from .warehouse import _COMMIT_LOG, _STATS_FILE

#: Supported predicate operators, AND-combined: ``(col, op, value)``;
#: ``between`` takes ``value=(lo, hi)`` inclusive; ``in`` takes a list
#: (prunable only when EVERY member misses); ``is_null``/``is_not_null``
#: ignore ``value``.
_OPS = ("<", "<=", ">", ">=", "=", "between", "in",
        "is_null", "is_not_null")


def _norm(v):
    """JSON-safe, order-preserving scalar encoding. Timestamps and
    dates become ISO-8601 strings (lexicographic order == temporal
    order), Decimal becomes float; numbers and strings pass through."""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        return float(v)
    return v


def _enc_bound(v, direction: int):
    """Encode a file's min (direction=-1) or max (+1) bound. Decimals
    widen OUTWARD by one float ulp: float() rounds to nearest, and a
    max rounded down (or min rounded up) would let a matching row's
    file be pruned — the bound must always contain the true value."""
    if isinstance(v, _decimal.Decimal):
        return math.nextafter(float(v), -math.inf if direction < 0
                              else math.inf)
    return _norm(v)


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


def _is_temporal(t: str | None) -> bool:
    """Is a recorded Spark simpleString type date/timestamp-family?"""
    return bool(t) and (t == "date" or t.startswith("timestamp"))


#: Sentinel for bounds whose comparison domain can't be determined
#: (pre-``types`` stats snapshot + ISO-parseable string bound, which
#: could be genuine string data OR a temporal encoding — the two
#: orders disagree). Comparisons with anything raise TypeError, which
#: every pruning kernel catches as "keep the file".
_INCOMPARABLE = object()


def _cmp_key(x, temporal: bool | None = True):
    """Comparison-domain coercion, gated on the column's RECORDED Spark
    type. For date/timestamp columns (``temporal=True``) ISO strings
    (the stored bound encoding) and date/datetime values all become
    datetimes, so date-typed stats compare correctly against datetime
    predicates and vice versa — Spark promotes date to
    timestamp-at-midnight in real filters, and lexicographic
    'YYYY-MM-DD' vs 'YYYY-MM-DD HH:MM:SS' does NOT reproduce that.

    For every OTHER column type no coercion happens: Spark compares
    string columns lexicographically, and datetime order is NOT
    isomorphic to it (mixed 'T'/space separators, date-only vs
    'date 00:00:00'), so parsing an ISO-looking string bound of a
    genuine STRING column would mis-prune matching rows. A string
    column probed with a date/datetime literal (Spark casts the
    COLUMN) stays un-coerced too: the str-vs-datetime TypeError keeps
    the file — conservative, never wrong.

    ``temporal=None`` = the column's type is UNKNOWN (a stats snapshot
    written before types were recorded): coerce only what is
    unambiguous — date/datetime objects and non-ISO strings — and mark
    ISO-parseable strings ``_INCOMPARABLE`` so neither wrong order can
    prune; the file is kept."""
    if temporal is None:
        if isinstance(x, str):
            try:
                _dt.datetime.fromisoformat(x)
            except ValueError:
                return x  # unambiguously a plain string
            return _INCOMPARABLE
        temporal = True  # date/datetime objects are unambiguous below
    if not temporal:
        return x
    if isinstance(x, str):
        try:
            return _dt.datetime.fromisoformat(x)
        except ValueError:
            return x
    if isinstance(x, _dt.datetime):
        return x
    if isinstance(x, _dt.date):
        return _dt.datetime(x.year, x.month, x.day)
    return x


def _widen(value, temporal: bool | None = True) -> tuple:
    """Predicate value -> (lo, hi) comparison keys. Decimals widen one
    float ulp each way (their float image is inexact); everything else
    is an exact point. Callers pick the conservative side per op."""
    if isinstance(value, _decimal.Decimal):
        f = float(value)
        return (math.nextafter(f, -math.inf), math.nextafter(f, math.inf))
    v = _cmp_key(value, temporal)
    return v, v


def _stats_path(path: str) -> str:
    return os.path.join(path, _STATS_FILE)


def _file_rel(path: str, uri: str) -> str:
    """input_file_name() URI -> relpath under the table dir. The URI
    percent-encodes the on-disk name once, so one unquote restores it
    (a disk name already containing hive-escaped ``%3A`` arrives as
    ``%253A`` and round-trips correctly)."""
    p = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
    return os.path.relpath(p, os.path.abspath(path))


def bloom_bits_for(keys_per_file: int, hashes: int = 5,
                   fp: float = 0.01) -> int:
    """Bloom bitmap size (bits) for ~``keys_per_file`` distinct values
    per file at the target false-positive rate: the classic
    ``fp = (1 - e^{-kn/m})^k`` solved for m, rounded up to a byte
    multiple with the 8192-bit default as the floor. The default
    config saturates above ~800 keys/file (FP → 1, bloom pruning
    silently stops winning); size per table instead:
    ``compute_stats(..., bloom_bits=bloom_bits_for(rows // n_files))``.
    For fp=1% at k=5 this is the ~10 bits/key rule of thumb."""
    if keys_per_file <= 0:
        return 8192
    m = math.ceil(-hashes * keys_per_file
                  / math.log(1 - fp ** (1.0 / hashes)))
    return max(8192, ((m + 7) // 8) * 8)


def compute_stats(spark: SparkSession, path: str,
                  cols: list[str],
                  bloom_cols: list[str] | None = None,
                  bloom_bits: int = 8192,
                  bloom_hashes: int = 5) -> dict:
    """One distributed pass recording per-file zone maps for ``cols``
    and (optionally) per-file Bloom filters for ``bloom_cols``.

    Zone maps prune RANGES — useless for equality probes on
    high-cardinality id-like columns whose values spread across every
    file. A per-file Bloom filter answers "can this file contain
    value X?" for ``=`` predicates with ~``(1-e^{-kn/m})^k`` false-
    positive rate and zero false negatives: the point-lookup path at
    100 TB (Delta's bloom filter index). Bits are set with
    ``crc32(concat(cast(col as string), '#', seed))`` — chosen because
    Python's ``zlib.crc32`` computes the identical value, so the probe
    side needs no Spark session. Defaults (8192 bits, 5 hashes) hold
    <1% false positives to ~800 distinct values per file.

    ``groupBy(input_file_name())`` makes the aggregate exactly
    file-grained; map-side partial aggregation reduces each file to one
    row before the (tiny, #files-sized) shuffle, and column pruning
    means only the stats columns are decoded. The JSON goes through a
    tmp file + ``os.replace`` so readers never see a torn stats file.
    Returns the stats dict that was written."""
    if bloom_cols and bloom_bits % 8:
        raise ValueError("bloom_bits must be a multiple of 8 "
                         "(bitmap is packed bytes)")
    # List BEFORE the scan: a file appended mid-pass must stay out of
    # the snapshot (and be caught later as unknown), not be given a
    # fabricated empty record that would prune its rows forever.
    expected = _list_data_files(path)
    bloom = ({"cols": list(bloom_cols), "m": bloom_bits, "k": bloom_hashes,
              # timestamp bloom canonicalization renders in the session
              # time zone; record it so probes under a DIFFERENT zone
              # know to stand down (see _bloom_tz_ok)
              "tz": spark.conf.get("spark.sql.session.timeZone")}
             if bloom_cols else None)
    df = spark.read.parquet(path)
    if bloom:
        # enrich the STORED config with the rendering tag map (probes
        # need it); _per_file_stats enriches its own copy internally
        bloom = _bloom_tag_map(df, bloom)
    files = _per_file_stats(path, df, cols, bloom)
    _fill_empty_files(files, expected, cols, path)
    stats = {"ts_ns": time.time_ns(), "cols": list(cols),
             # per-column Spark types gate the comparison-domain
             # coercion: only date/timestamp bounds parse as datetimes;
             # string columns compare lexicographically like Spark does
             "types": _schema_types(df, cols, bloom),
             # the zone LTZ-timestamp bounds were rendered in; pruning
             # on such columns requires the probing session to match
             "tz": spark.conf.get("spark.sql.session.timeZone"),
             "files": files}
    if bloom:
        stats["bloom"] = bloom
    _write_stats(path, stats)
    return stats


def _schema_types(df: DataFrame, cols: list[str],
                  bloom: dict | None) -> dict[str, str]:
    stat_cols = list(dict.fromkeys(
        list(cols) + (bloom["cols"] if bloom else [])))
    return {c: df.schema[c].dataType.simpleString() for c in stat_cols}


#: Spark types bloom filters support, mapped to a canonical-rendering
#: tag. Float/double/decimal/boolean/binary are REJECTED at build
#: time: their Spark string images (scientific notation, trailing
#: zeros) aren't reproducible from a Python literal, and a mismatched
#: hash is a false-negative prune — wrong results, not just wasted I/O.
_BLOOM_TYPES = {"string": "string",
                "byte": "integral", "short": "integral",
                "int": "integral", "integer": "integral",
                "long": "integral", "bigint": "integral",
                "date": "date", "timestamp": "timestamp"}


def _bloom_canonical_col(c: str, tag: str):
    """Spark-side canonical string image per type tag. date_format with
    a fixed-width fraction makes timestamps reproducible (CAST trims
    trailing zeros — '00:00:00.5' — which Python's %f never emits)."""
    if tag == "string":
        return F.col(c)
    if tag == "integral":
        return F.col(c).cast("string")
    if tag == "date":
        return F.date_format(c, "yyyy-MM-dd")
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")


def _bloom_positions_col(expr, seed: int, m: int):
    """Spark-side bit position: crc32 of the canonical image plus a
    seed suffix — byte-identical to the Python probe in
    ``_bloom_positions`` (verified: zlib.crc32 == F.crc32 on UTF-8)."""
    return F.crc32(F.concat(expr, F.lit(f"#{seed}")).cast("binary")) % m


def _bloom_positions(text: str, m: int, k: int) -> list[int]:
    return [zlib.crc32(f"{text}#{s}".encode("utf-8")) % m
            for s in range(k)]


def _bloom_probe_str(v, tag: str) -> str | None:
    """The predicate literal's canonical image for a column of type
    ``tag``, mirroring Spark's equality-comparison coercion of the
    LITERAL toward the COLUMN type — or None when the coercion isn't
    reproducible, in which case the bloom is skipped (zone maps still
    apply, file kept: only ever conservative)."""
    if v is None or isinstance(v, bool):
        return None
    if tag == "string":
        # a non-string literal makes Spark cast the COLUMN, not the
        # literal ('042' == 42 matches) — only same-type probes are sound
        return v if isinstance(v, str) else None
    if tag == "integral":
        # Spark casts a string literal to the int ('042' -> 42). A
        # FLOAT literal promotes the COLUMN to double — a lossy cast
        # above 2^53 under which distinct bigints alias onto the
        # literal (10**18+63 == 1e18 in double), so no canonical
        # string image exists: stand down (zone maps still apply)
        if isinstance(v, int):
            return str(v)
        if isinstance(v, str):
            try:
                return str(int(v))
            except ValueError:
                return None
        return None
    if tag == "date":
        if isinstance(v, _dt.datetime):
            # an OFFSET-carrying literal is converted by Spark to the
            # session zone's wall clock before the comparison — our
            # wall-clock rendering would drop the offset (false
            # negative = wrong rows): stand down
            if v.tzinfo is not None:
                return None
            # date col == timestamp literal promotes the COLUMN to
            # timestamp-at-midnight: only a midnight literal can match
            if (v.hour, v.minute, v.second, v.microsecond) != (0, 0, 0, 0):
                return None
            return v.date().isoformat()
        if isinstance(v, _dt.date):
            return v.isoformat()
        return None
    if tag == "timestamp":
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:  # same offset-dropping hazard
                return None
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day).strftime(
                "%Y-%m-%d %H:%M:%S.%f")
        return None
    return None


def _bloom_tag_map(df: DataFrame, bloom: dict) -> dict:
    """COPY of ``bloom`` enriched with the per-column rendering tag map
    (``bloom['types']``). Never mutates the input: refresh paths hand
    over the cache-shared stored config, and enriching it in place
    would break the stats cache's immutability contract — a concurrent
    planner could observe a transiently empty tag map and silently
    skip bloom pruning (review finding). Raises on types whose Spark
    string image the Python probe can't reproduce."""
    out = dict(bloom)
    out["types"] = {}
    for c in out["cols"]:
        t = df.schema[c].dataType.simpleString()
        tag = _BLOOM_TYPES.get("timestamp" if t.startswith("timestamp")
                               else t)
        if tag is None:
            raise ValueError(
                f"bloom filter on {c!r} ({t}) unsupported — the "
                f"probe can't reproduce that type's string image; "
                f"supported: {sorted(set(_BLOOM_TYPES))}")
        out["types"][c] = tag
    return out


def _per_file_stats(path: str, df: DataFrame, cols: list[str],
                    bloom: dict | None = None) -> dict[str, dict]:
    """min/max/null-count/rows (and optional bloom bitmaps) per data
    file of ``df`` — one row per file after map-side partial
    aggregation. Bloom sets are collect_set over bit POSITIONS (already
    reduced mod m), so each set is bounded by m, never by row count."""
    stat_cols = list(dict.fromkeys(
        list(cols) + (bloom["cols"] if bloom else [])))
    df = df.select(F.input_file_name().alias("__file"), *stat_cols)
    if bloom and "types" not in bloom:
        # callers that already adopted an enriched copy (compute_stats,
        # refresh_stats, compute_stats_version) pass it through; only a
        # bare config gets the schema walk here
        bloom = _bloom_tag_map(df, bloom)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        if df.schema[c].dataType.simpleString() == "timestamp":
            # SESSION-zoned (LTZ) timestamps: collect() would convert
            # the bound through the DRIVER OS zone (fromInternal uses
            # fromtimestamp), while predicate literals are session-tz
            # wall clock — render the bounds to session-tz strings
            # JVM-side instead, and record the zone (stats["tz"]) so
            # pruning stands down when a later session's zone differs.
            # timestamp_ntz is zone-free and keeps the raw path.
            mn = F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            mx = F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        else:
            mn, mx = F.min(c), F.max(c)
        aggs += [
            mn.alias(f"__min_{c}"),
            mx.alias(f"__max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            # HLL distinct-count: powers estimate_scan's selectivity
            # guess for equality probes (rows/ndv per kept file)
            F.approx_count_distinct(c).alias(f"__ndv_{c}"),
        ]
    if bloom:
        for c in bloom["cols"]:
            for s in range(bloom["k"]):
                aggs.append(F.collect_set(_bloom_positions_col(
                    _bloom_canonical_col(c, bloom["types"][c]),
                    s, bloom["m"])).alias(f"__bloom_{c}_{s}"))
    rows = df.groupBy("__file").agg(*aggs).collect()
    files: dict[str, dict] = {}
    for r in rows:
        rel = _file_rel(path, r["__file"])
        # record the on-disk size ONCE at stats time so estimate_scan
        # never walks the filesystem (O(files) getsize syscalls per
        # estimate would be the million-file anti-pattern)
        try:
            nbytes = os.path.getsize(os.path.join(path, rel))
        except OSError:
            nbytes = None
        rec = {"rows": r["__rows"], "bytes": nbytes, "stats": {}}
        for c in cols:
            rec["stats"][c] = [_enc_bound(r[f"__min_{c}"], -1),
                               _enc_bound(r[f"__max_{c}"], +1),
                               int(r[f"__nulls_{c}"] or 0),
                               int(r[f"__ndv_{c}"] or 0)]
        if bloom:
            rec["bloom"] = {}
            for c in bloom["cols"]:
                bits = bytearray(bloom["m"] // 8)
                for s in range(bloom["k"]):
                    for pos in r[f"__bloom_{c}_{s}"]:
                        bits[pos // 8] |= 1 << (pos % 8)
                rec["bloom"][c] = base64.b64encode(bytes(bits)).decode()
        files[rel] = rec
    return files


def _fill_empty_files(files: dict, expected: list[str],
                      cols: list[str], path: str | None = None) -> None:
    """Zero-row part files never surface in the input_file_name
    aggregation (no rows to group); give them explicit empty records so
    they don't stay perpetually 'unknown'. An empty file matches no
    predicate, so pruning it is exact: all-NULL bounds prune every
    comparison and a 0 null count prunes is_null."""
    for rel in expected:
        if rel not in files:
            try:
                nbytes = (os.path.getsize(os.path.join(path, rel))
                          if path else None)
            except OSError:
                nbytes = None
            files[rel] = {"rows": 0, "bytes": nbytes,
                          "stats": {c: [None, None, 0, 0] for c in cols}}


def recompute_stats(spark: SparkSession, path: str,
                    cols: list[str]) -> dict:
    """Full recompute that PRESERVES an existing stats file's bloom
    opt-in — the call maintenance rewrites (compaction, Z-order) make,
    so a table that built bloom filters doesn't silently lose its
    point-lookup pruning on the next OPTIMIZE."""
    bloom = (load_stats(path) or {}).get("bloom")
    return compute_stats(
        spark, path, cols,
        bloom_cols=bloom["cols"] if bloom else None,
        bloom_bits=bloom["m"] if bloom else 8192,
        bloom_hashes=bloom["k"] if bloom else 5)


def refresh_stats(spark: SparkSession, path: str) -> dict:
    """Incremental zone-map maintenance: recompute statistics ONLY for
    files the snapshot doesn't cover — appended (unknown) files and
    files under partitions invalidated by scoped merges — and drop
    entries for files gone from disk. Cost is O(delta), not O(table):
    the steady-state upkeep for a continuously-ingested table, where
    ``compute_stats`` is the one-off bootstrap. Falls back to a full
    recompute after a full-rewrite commit (everything changed anyway).
    Returns the refreshed stats dict."""
    stats = load_stats(path)
    if stats is None:
        raise FileNotFoundError(
            f"{path}/{_STATS_FILE} missing — run compute_stats first")
    cols = stats["cols"]
    cur_tz = spark.conf.get("spark.sql.session.timeZone")
    if stats.get("types") is None:
        # pre-types snapshot: its timestamp bounds were rendered under
        # an UNRECORDED zone, so they are only safe while the missing
        # types keep them _INCOMPARABLE. Stamping current types + tz
        # onto the OLD records (as the incremental path below would)
        # would retroactively arm them under the wrong zone — one full
        # recompute upgrades the snapshot, incremental forever after.
        return recompute_stats(spark, path, cols)
    if _ltz_cols(stats) and stats.get("tz") != cur_tz:
        # new files would render bounds in the CURRENT zone while old
        # records hold another zone's strings — never mix; recompute
        # (bloom opt-in preserved, same as every recompute path)
        return recompute_stats(spark, path, cols)
    changed = _invalidated_since(path, stats["ts_ns"])
    if changed is None:
        return recompute_stats(spark, path, cols)
    stale_pfx = tuple(r + "/" for r in changed)
    current = _list_data_files(path)
    current_set = set(current)
    todo = [rel for rel in current
            if rel not in stats["files"]
            or (stale_pfx and rel.startswith(stale_pfx))]
    files = {rel: rec for rel, rec in stats["files"].items()
             if rel in current_set}
    bloom_cfg = stats.get("bloom")
    if todo:
        sub = spark.read.option("basePath", path).parquet(
            *[os.path.join(path, rel) for rel in todo])
        if bloom_cfg:
            # enrich a COPY with the tag map (never the cache-shared
            # stored dict — review finding: in-place enrichment let a
            # concurrent planner observe a transiently empty map);
            # also upgrades pre-tag-era snapshots on refresh
            bloom_cfg = _bloom_tag_map(sub, bloom_cfg)
        files.update(_per_file_stats(path, sub, cols, bloom_cfg))
        _fill_empty_files(files, todo, cols, path)
    out = {"ts_ns": time.time_ns(), "cols": cols, "files": files,
           "tz": cur_tz, "types": stats["types"]}
    if bloom_cfg:
        out["bloom"] = bloom_cfg
    _write_stats(path, out)
    return out


def _write_stats(path: str, stats: dict) -> None:
    stats["dirs"] = _dir_rollup(stats)
    if stats.get("bloom"):
        stats["dir_blooms"] = _dir_bloom_rollup(stats)
    tmp = _stats_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stats, fh)
    os.replace(tmp, _stats_path(path))  # atomic on POSIX


def _dir_bloom_rollup(stats: dict) -> dict:
    """Directory-level Bloom filters: the bitwise OR of the member
    files' bitmaps — a union of sets is the OR of their filters, so the
    dir filter has the same zero-false-negative guarantee. Point
    lookups and IN lists on a million-file table then rule out whole
    directories with one probe each before any per-file bitmap is
    decoded (FP rate is higher — the dir holds more distinct values —
    which only costs descending into the per-file pass)."""
    dirs: dict[str, dict] = {}
    for rel, rec in stats["files"].items():
        if "bloom" not in rec:
            continue
        d = os.path.dirname(rel)
        acc = dirs.setdefault(d, {})
        for c, b64 in rec["bloom"].items():
            bits = base64.b64decode(b64)
            if c in acc:
                # big-int OR: one machine-word pass instead of a
                # per-byte Python loop (matters at many files x 1-32 KB)
                acc[c] = (int.from_bytes(acc[c], "big")
                          | int.from_bytes(bits, "big")
                          ).to_bytes(len(bits), "big")
            else:
                acc[c] = bits
    return {d: {c: base64.b64encode(bits).decode()
                for c, bits in acc.items()}
            for d, acc in dirs.items()}


def _dir_rollup(stats: dict) -> dict:
    """Partition-directory bounds combined from the per-file records
    (Iceberg's manifest-level pruning): at millions of files, plan_skip
    rules out a whole `date=…` directory with ONE comparison instead of
    one per file (blooms roll up separately in ``_dir_bloom_rollup``);
    null/ndv counts don't participate in dir pruning. A column whose
    bounds won't combine (mixed un-comparable encodings) is simply
    absent — per-file checks still run."""
    types = stats.get("types") or {}
    dirs: dict[str, dict] = {}
    for rel, rec in stats["files"].items():
        d = os.path.dirname(rel)
        bounds = dirs.setdefault(d, {})
        for c, cs in rec["stats"].items():
            mn, mx = cs[0], cs[1]
            if mn is None and mx is None:
                continue  # all-null file constrains nothing
            cur = bounds.get(c)
            if cur is ...:
                continue  # poisoned: uncombinable encodings
            try:
                # accumulator carries the coerced comparison keys
                # ([2]=min key, [3]=max key) so each file's bounds are
                # coerced ONCE, not re-parsed per combine — the rollup
                # is O(files), and ISO strings parse one time each
                temporal = (_is_temporal(types[c]) if c in types
                            else None)
                mnk = _cmp_key(mn, temporal)
                mxk = _cmp_key(mx, temporal)
                if cur is None:
                    bounds[c] = [mn, mx, mnk, mxk]
                    continue
                # Spark orders NaN largest: a NaN max IS the dir max
                # (plain `nan > x` is False and would silently DROP it,
                # leaving bounds that wrongly prune the NaN rows); a
                # NaN min never lowers the bound
                if _is_nan(cur[2]):
                    cur[0], cur[2] = mn, mnk
                elif not _is_nan(mnk) and mnk < cur[2]:
                    cur[0], cur[2] = mn, mnk
                if _is_nan(mxk):
                    cur[1], cur[3] = mx, mxk
                elif not _is_nan(cur[3]) and mxk > cur[3]:
                    cur[1], cur[3] = mx, mxk
            except TypeError:
                bounds[c] = ...
    return {d: {c: b[:2] for c, b in bounds.items() if b is not ...}
            for d, bounds in dirs.items()}


def _dir_may_match(bounds: dict, predicates: list[tuple],
                   types: dict | None = None) -> bool:
    """Dir-level analogue of the comparison half of _file_may_match:
    False only when the combined [min,max] of EVERY file in the dir
    provably misses the predicate — including ``=`` and ``in`` (any
    member in range keeps). Null-count ops fall through to the
    per-file pass (null counts don't roll up here); bloom probes have
    their own rollup in ``_dir_bloom_rollup``."""
    types = types or {}
    for col, op, value in predicates:
        b = bounds.get(col)
        if b is None or op in ("is_null", "is_not_null"):
            continue
        temporal = _is_temporal(types[col]) if col in types else None
        mnk = _cmp_key(b[0], temporal)
        mxk = _cmp_key(b[1], temporal)
        if op == "in":
            if value and not any(
                    _range_may_match(mnk, mxk, "=", m, temporal)
                    for m in value):
                return False
            continue
        if not _range_may_match(mnk, mxk, op, value, temporal):
            return False
    return True


#: (mtime_ns, size) -> parsed stats, keyed by stats-file path. A
#: resident engine (ApiServer / QueryEngine) plans EVERY query through
#: load_stats; re-parsing a multi-MB bloom-bearing JSON per query makes
#: planning, not scanning, the hot path. _write_stats goes through
#: os.replace, so any rewrite changes mtime_ns and misses the cache —
#: staleness detection stays exactly the file's own identity. Entries
#: are treated as IMMUTABLE by every reader (the write paths build
#: fresh dicts); bounded so long-lived sessions over many tables don't
#: accrete unbounded parsed JSON. Guarded by a lock: the API server
#: executes queries CONCURRENTLY, and an unguarded evict-then-insert
#: races (two threads pop the same oldest key → KeyError on a valid
#: query). The parse itself happens outside the lock — only the
#: get/evict/insert bookkeeping serializes.
_STATS_CACHE: dict[str, tuple[tuple[int, int], dict]] = {}
_STATS_CACHE_MAX = 64
_STATS_CACHE_LOCK = threading.Lock()


def _stats_usable(stats) -> bool:
    """Does a parsed stats file carry every key the planner and the
    pricing read: the snapshot time, and per file a row count and a
    column-stats map?"""
    if not (isinstance(stats, dict) and isinstance(stats.get("ts_ns"), int)
            and isinstance(stats.get("files"), dict)):
        return False
    return all(isinstance(rec, dict) and "rows" in rec
               and isinstance(rec.get("stats"), dict)
               for rec in stats["files"].values())


def load_stats(path: str) -> dict | None:
    p = _stats_path(path)
    try:
        st = os.stat(p)
    except OSError:
        return None
    key = (st.st_mtime_ns, st.st_size)
    with _STATS_CACHE_LOCK:
        hit = _STATS_CACHE.get(p)
        if hit is not None and hit[0] == key:
            return hit[1]
    try:
        with open(p) as fh:
            stats = json.load(fh)
    except (OSError, ValueError):
        stats = None
    if not _stats_usable(stats):
        # a corrupt, raced or malformed stats file degrades exactly like
        # a MISSING one: plain read, priced at the full listing bytes
        return None
    with _STATS_CACHE_LOCK:
        if p not in _STATS_CACHE and \
                len(_STATS_CACHE) >= _STATS_CACHE_MAX:
            _STATS_CACHE.pop(next(iter(_STATS_CACHE)))  # oldest insert
        _STATS_CACHE[p] = (key, stats)
    return stats


def _range_may_match(mnk, mxk, op, value,
                     temporal: bool | None = True) -> bool:
    """The ONE range check behind file-level, directory-level, and
    equality pruning, over pre-coerced bound keys: True = the range
    cannot be ruled out (keep). All the conservatism lives here — NaN
    anywhere keeps (Spark orders NaN largest, Python won't compare
    it), incomparable types keep, Decimal literals compare against
    their widened side. ``temporal`` is the COLUMN's recorded
    comparison domain (see ``_cmp_key``) and governs how the predicate
    VALUE is coerced — the bound keys arrive pre-coerced the same way."""
    def _align(a, b):
        # Spark compares in DOUBLE whenever either side is double: a
        # Python int-vs-float comparison is EXACT, disagreeing with
        # the lossy bigint→double promotion above 2^53 (10**18+63
        # equals 1e18 as doubles but not to Python) — convert the int
        # side exactly as the cast would, or the mismatch prunes rows
        # Spark matches
        if isinstance(a, int) and not isinstance(a, bool) \
                and isinstance(b, float):
            return float(a), b
        if isinstance(b, int) and not isinstance(b, bool) \
                and isinstance(a, float):
            return a, float(b)
        return a, b

    try:
        if op == "between":
            lo, _ = _widen(value[0], temporal)
            _, hi = _widen(value[1], temporal)
            if any(_is_nan(x) for x in (mnk, mxk, lo, hi)):
                return True
            a, lo = _align(mxk, lo)
            b, hi = _align(mnk, hi)
            return not (a < lo or b > hi)
        v_lo, v_hi = _widen(value, temporal)
        if any(_is_nan(x) for x in (mnk, mxk, v_lo)):
            return True
        # one comparison per op, short-circuited: an eager dict of all
        # five would pay 5x on the per-file hot path AND let a
        # TypeError from an IRRELEVANT bound (mixed-encoding column)
        # forfeit pruning the requested op could prove
        if op == "<":
            a, b = _align(mnk, v_hi)
            return a < b
        if op == "<=":
            a, b = _align(mnk, v_hi)
            return a <= b
        if op == ">":
            a, b = _align(mxk, v_lo)
            return a > b
        if op == ">=":
            a, b = _align(mxk, v_lo)
            return a >= b
        a, b = _align(mnk, v_hi)
        c, d = _align(v_lo, mxk)
        return a <= b and c <= d  # "="
    except (TypeError, OverflowError):
        return True  # incomparable/unconvertible: never prune on a guess


def _ltz_cols(stats: dict) -> set[str]:
    """Stat columns typed session-zoned timestamp ("timestamp"; the
    zone-free "timestamp_ntz" is excluded) — the columns whose stored
    bounds are zone-dependent renderings."""
    return {c for c, t in (stats.get("types") or {}).items()
            if t == "timestamp"}


def _tz_disabled_cols(stats: dict) -> set[str]:
    """LTZ-timestamp columns whose bounds must NOT prune right now:
    the stats were rendered under a different session time zone than
    the one the probing session would interpret literals in (or under
    an unrecorded one). Mirrors _bloom_tz_ok for zone maps."""
    ltz = _ltz_cols(stats)
    if not ltz:
        return set()
    stz = stats.get("tz")
    sess = SparkSession.getActiveSession()
    try:
        cur = (sess.conf.get("spark.sql.session.timeZone")
               if sess is not None else None)
    except Exception:  # noqa: BLE001 — conservative on any probe error
        cur = None
    if stz is not None and cur is not None and stz == cur:
        return set()
    return ltz


def _bloom_tz_ok(bloom: dict) -> bool:
    """Are TIMESTAMP bloom probes sound right now? Timestamp bitmaps
    were built from ``date_format`` strings rendered in the SESSION
    time zone at compute time, while the probe strftime's the naive
    predicate literal directly — the literal a query session would
    interpret in ITS zone. The canonical images agree only when the
    two zones match; otherwise a matching file could probe false — a
    false-negative prune, wrong rows. So: stand down (probe returns
    may-match) unless the recorded zone equals the active session's.
    Non-timestamp bloom columns are zone-free and never gated."""
    if "timestamp" not in set(bloom.get("types", {}).values()):
        return True
    stored = bloom.get("tz")
    if stored is None:
        return False  # pre-tz snapshot: never trust timestamp probes
    sess = SparkSession.getActiveSession()
    if sess is None:
        return False
    try:
        return sess.conf.get("spark.sql.session.timeZone") == stored
    except Exception:
        return False


def _bloom_hit(b64maps: dict, col: str, value, bloom: dict,
               cache: dict, tz_ok: bool = True) -> bool:
    """Probe one base64 bitmap container (a file record's ``bloom``
    map, or a directory's OR-rollup) for ``value``. True = may be
    present (or the probe isn't reproducible); False = provably
    absent. ``cache`` holds decoded bitmaps per column so an L-member
    IN decodes once, not L times. ``tz_ok`` (from ``_bloom_tz_ok``,
    computed once per plan) disables timestamp probes when the session
    time zone differs from the one the bitmaps were rendered under."""
    tag = bloom.get("types", {}).get(col, "")
    if tag == "timestamp" and not tz_ok:
        return True
    if col not in cache:
        cache[col] = base64.b64decode(b64maps[col])
    bits = cache[col]
    text = _bloom_probe_str(value, tag)
    if text is None:
        return True
    return all((bits[p // 8] >> (p % 8)) & 1
               for p in _bloom_positions(text, bloom["m"], bloom["k"]))


def _eq_may_match(rec: dict, col: str, value, bloom: dict | None,
                  cache: dict, temporal: bool | None = True,
                  tz_ok: bool = True) -> bool:
    """Single-equality test behind ``=`` and each IN member: the Bloom
    probe (bitmap decoded ONCE per file+column via ``cache`` — an
    L-member IN over many files would otherwise re-decode L times)
    then the zone-map range check. Conservative like everything here:
    only a provable miss returns False."""
    if (bloom is not None and "bloom" in rec and col in rec["bloom"]
            and not _bloom_hit(rec["bloom"], col, value, bloom, cache,
                               tz_ok)):
        return False
    cs = rec["stats"].get(col)
    if cs is None:
        return True  # bloom-only column: no range to check
    mn, mx = cs[0], cs[1]
    if mn is None and mx is None:
        return False  # all-NULL file: equality never matches
    return _range_may_match(_cmp_key(mn, temporal),
                            _cmp_key(mx, temporal), "=", value, temporal)


def _file_may_match(rec: dict, predicates: list[tuple],
                    bloom: dict | None = None,
                    types: dict | None = None,
                    tz_ok: bool = True) -> bool:
    """Can any row of a file with zone map ``rec`` satisfy the AND of
    ``predicates``? Conservative: unknown column / type mismatch /
    unparseable bound => True (read the file). Equality and IN
    predicates additionally probe the file's Bloom filter when one was
    built for the column — no false negatives, so a missing bit proves
    absence. ``types`` is the stats snapshot's recorded column-type
    map (absent for a pre-``types`` snapshot: each column's comparison
    domain is then 'unknown' and only unambiguous bounds prune)."""
    types = types or {}
    bloom_cache: dict = {}
    for col, op, value in predicates:
        temporal = _is_temporal(types[col]) if col in types else None
        if op == "=":
            if not _eq_may_match(rec, col, value, bloom, bloom_cache,
                                 temporal, tz_ok):
                return False
            continue
        if op == "in":
            # prunable only when EVERY member misses (an empty/None IN
            # matches nothing — same reading as predicate_filter and
            # the dir-level pass, not a TypeError); runs BEFORE the
            # stats guard so bloom-only columns still prune
            if not any(_eq_may_match(rec, col, m, bloom, bloom_cache,
                                     temporal, tz_ok)
                       for m in (value or ())):
                return False
            continue
        cs = rec["stats"].get(col)
        if cs is None:
            continue  # no stats for this column: cannot prune on it
        mn, mx, nulls = cs[:3]  # [3]=ndv (absent in pre-ndv snapshots)
        if op == "is_null":
            if nulls == 0:
                return False
            continue
        if op == "is_not_null":
            if nulls >= rec["rows"]:
                return False  # every row (possibly zero) is NULL
            continue
        if mn is None and mx is None:
            return False  # all-NULL file: comparisons never match
        if not _range_may_match(_cmp_key(mn, temporal),
                                _cmp_key(mx, temporal), op, value,
                                temporal):
            return False
    return True


def _predicate_column(col: str, op: str, value):
    c = F.col(col)
    if op == "is_null":
        return c.isNull()
    if op == "is_not_null":
        return c.isNotNull()
    if op == "in":
        if not value:
            # SQL: IN () matches nothing — mirror the planner, which
            # prunes every file, instead of raising asymmetrically
            return F.lit(False)
        return c.isin(*value)
    if op == "between":
        return c.between(F.lit(value[0]), F.lit(value[1]))
    return {"<": c < F.lit(value), "<=": c <= F.lit(value),
            ">": c > F.lit(value), ">=": c >= F.lit(value),
            "=": c == F.lit(value)}[op]


def predicate_filter(predicates: list[tuple]):
    """The AND of ``predicates`` as a Column — ALWAYS re-applied on top
    of the pruned read so stats can only cost I/O, never rows."""
    out = F.lit(True)
    for col, op, value in predicates:
        if op not in _OPS:
            raise ValueError(f"unsupported op {op!r}; one of {_OPS}")
        out = out & _predicate_column(col, op, value)
    return out


def _list_data_files(path: str) -> list[str]:
    """Current data-file relpaths — driver-side metadata walk, the same
    listing any parquet scan performs (skips dot/underscore dirs and
    the staging/trash siblings, which live OUTSIDE the table dir).
    Follows directory symlinks: a versioned snapshot's ``v=N/data``
    materializes carried partitions as symlinks into older versions
    (versioned._link_shared), and those files are part of the table."""
    out = []
    base = os.path.abspath(path)
    for root, dirs, names in os.walk(base, followlinks=True):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in names:
            if name.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, name), base))
    return sorted(out)


#: parsed commit-log cache, keyed like _STATS_CACHE on the file's own
#: (mtime_ns, size) identity: the log grows one JSONL line per commit
#: FOREVER, and _plan consults it on every planned query (a 6-branch
#: estimate_scan_any consulted it 7 times) — a resident server over a
#: long-ingested table was paying O(total commits) json.loads per plan
_LOG_CACHE: dict[str, tuple[tuple[int, int], list]] = {}
_LOG_CACHE_MAX = 64
_LOG_CACHE_LOCK = threading.Lock()


def _commit_entries(log: str) -> list[dict]:
    try:
        st = os.stat(log)
    except OSError:
        return []
    key = (st.st_mtime_ns, st.st_size)
    with _LOG_CACHE_LOCK:
        hit = _LOG_CACHE.get(log)
        if hit is not None and hit[0] == key:
            return hit[1]
    with open(log) as fh:
        entries = [json.loads(line) for line in fh]
    with _LOG_CACHE_LOCK:
        if log not in _LOG_CACHE and len(_LOG_CACHE) >= _LOG_CACHE_MAX:
            _LOG_CACHE.pop(next(iter(_LOG_CACHE)))  # oldest insert
        _LOG_CACHE[log] = (key, entries)
    return entries


def _invalidated_since(path: str, ts_ns: int) -> list[str] | None:
    """Partition relpaths whose EXISTING files may have changed since
    ``ts_ns`` per the commit log; None when a full rewrite invalidates
    everything. Unlike ``warehouse.changed_partitions_since`` this is
    op-aware: ``append`` commits are ignored — an append only ADDS
    uniquely-named files (caught by the unknown-file net), it never
    rewrites a file a zone map describes."""
    log = os.path.join(path, _COMMIT_LOG)
    if not os.path.exists(log):
        return []  # no log: rewrites rename files, unknown-net catches
    touched: set[str] = set()
    for rec in _commit_entries(log):
        if rec["ts_ns"] <= ts_ns or rec["op"] == "append":
            continue
        if rec["partitions"] is None:
            return None
        touched.update(rec["partitions"])
    return sorted(touched)


def plan_skip(path: str, predicates: list[tuple],
              stats: dict | None = None,
              files: list[str] | None = None) -> dict:
    """The pruning decision, file by file, without reading anything:
    ``{"kept": [...], "pruned": [...], "stale": [...], "unknown": [...],
    "fallback": reason|None}``. ``kept`` includes stale and unknown
    files (they must be read); ``fallback`` is set when the whole table
    must be scanned (no stats, or a full rewrite since the snapshot).
    ``files`` short-circuits the directory walk when the caller already
    holds the CURRENT listing (per-branch re-plans over one snapshot);
    never pass a stale one — an appended file missing from it would be
    silently dropped from the read."""
    _validate_ops(predicates)
    return _plan(path, [list(predicates)], stats, files=files)


def _validate_ops(predicates: list[tuple]) -> None:
    for _c, op, _v in predicates:
        if op not in _OPS:
            # reject up front: a typo'd op reaching the comparison
            # kernel would either crash or silently mis-prune
            raise ValueError(f"unsupported op {op!r}; one of {_OPS}")


def _plan(path: str, branches: list[list[tuple]],
          stats: dict | None, files: list[str] | None = None) -> dict:
    """ONE planner for conjunctive and disjunctive (DNF) pruning:
    ``branches`` is an OR of AND-lists — a file survives when ANY
    branch may match it (a single branch reproduces plan_skip's
    semantics exactly). Directory short-circuits (bounds rollup AND
    bloom rollup) apply branch-wise; a branch emptied by the LTZ-zone
    guard (or passed empty) is unconstrained, so nothing can be
    pruned — every file is kept without falling back."""
    stats = stats if stats is not None else load_stats(path)
    if stats is None:
        return {"kept": None, "pruned": [], "stale": [], "unknown": [],
                "fallback": "no stats file"}
    changed = _invalidated_since(path, stats["ts_ns"])
    if changed is None:
        return {"kept": None, "pruned": [], "stale": [], "unknown": [],
                "fallback": "full rewrite since stats snapshot"}
    stale_pfx = tuple(r + "/" for r in changed)
    kept, pruned, stale, unknown = [], [], [], []
    dir_verdicts: dict[str, bool] = {}  # manifest-level short-circuit
    rollup = stats.get("dirs") or {}
    dir_blooms = stats.get("dir_blooms") or {}
    bloom_cfg = stats.get("bloom")
    types = stats.get("types")
    tz_ok = _bloom_tz_ok(bloom_cfg) if bloom_cfg else True
    disabled = _tz_disabled_cols(stats)
    if disabled:
        # drop conjuncts on zone-mismatched LTZ columns from the
        # PRUNING decision only — read_skipping still re-applies the
        # full predicate, so this costs I/O, never rows. Null checks
        # are zone-INDEPENDENT (they read the null count, not the
        # rendered bounds): keep them pruning
        branches = [[p for p in b
                     if p[0] not in disabled
                     or p[1] in ("is_null", "is_not_null")]
                    for b in branches]
    eff: list[list[tuple]] | None = branches
    if not branches or any(not b for b in branches):
        eff = None  # an unconstrained branch matches anything

    def _dir_branch_ok(d: str, preds: list[tuple]) -> bool:
        bounds = rollup.get(d)
        if bounds is not None and not _dir_may_match(bounds, preds,
                                                     types):
            return False
        dbl = dir_blooms.get(d)
        if dbl and bloom_cfg:
            cache: dict = {}
            for col, op, value in preds:
                if col not in dbl:
                    continue
                if op == "=" and not _bloom_hit(dbl, col, value,
                                                bloom_cfg, cache, tz_ok):
                    return False
                if op == "in" and value and not any(
                        _bloom_hit(dbl, col, m, bloom_cfg, cache, tz_ok)
                        for m in value):
                    return False
        return True

    def _dir_ok(d: str) -> bool:
        return eff is None or any(_dir_branch_ok(d, b) for b in eff)

    for rel in (files if files is not None else _list_data_files(path)):
        if stale_pfx and rel.startswith(stale_pfx):
            stale.append(rel)
            kept.append(rel)
            continue
        rec = stats["files"].get(rel)
        if rec is None:
            unknown.append(rel)  # appended after the snapshot
            kept.append(rel)
            continue
        if eff is None:
            kept.append(rel)
            continue
        d = os.path.dirname(rel)
        verdict = dir_verdicts.get(d)
        if verdict is None:
            verdict = dir_verdicts[d] = _dir_ok(d)
        if not verdict:
            pruned.append(rel)  # whole-directory miss on every branch
        elif any(_file_may_match(rec, b, bloom_cfg, types, tz_ok)
                 for b in eff):
            kept.append(rel)
        else:
            pruned.append(rel)
    return {"kept": kept, "pruned": pruned, "stale": stale,
            "unknown": unknown, "fallback": None}


def estimate_scan(path: str, predicates: list[tuple],
                  stats: dict | None = None,
                  plan: dict | None = None,
                  files: list[str] | None = None) -> dict:
    """Metadata-only scan-cost estimate for a predicate: how many
    files/bytes the pruned read will open vs the whole table, and the
    known row count behind the kept files (stale/unknown files have no
    trustworthy stats row count). The admission-control half of data
    skipping: a scheduler can refuse or re-cluster a query that would
    open 95% of a 100 TB table. Pass ``stats``/``plan`` from an earlier
    call to avoid re-parsing and re-walking; ``files`` as in
    ``plan_skip`` (a caller-held CURRENT listing, used only when a
    plan must be computed or the fallback needs the full list).

    Sizes come from the stats records (captured once at compute time),
    NOT a per-call filesystem walk: on a stats-fresh table the estimate
    makes ZERO getsize syscalls — only stale/unknown files (and the
    no-stats fallback) touch the filesystem, because their recorded
    size is the one thing that may have changed."""
    stats = stats if stats is not None else load_stats(path)
    plan = plan if plan is not None else plan_skip(
        path, predicates, stats=stats, files=files)
    recs = (stats or {}).get("files", {})
    if plan["fallback"] is not None:
        all_files = files if files is not None else _list_data_files(path)
        sized: set = set()
    else:
        # kept + pruned IS the current file listing plan_skip just
        # walked — no second walk
        all_files = plan["kept"] + plan["pruned"]
        untrusted = set(plan["stale"]) | set(plan["unknown"])
        sized = {rel for rel in all_files
                 if rel not in untrusted
                 and recs.get(rel, {}).get("bytes") is not None}

    def _size(rel: str) -> int:
        if rel in sized:
            return recs[rel]["bytes"]
        try:
            return os.path.getsize(os.path.join(path, rel))
        except OSError:
            return 0  # raced with a concurrent rewrite: estimate only

    bytes_total = sum(_size(rel) for rel in all_files)
    if plan["fallback"] is not None:
        return {"files_total": len(all_files), "files_kept": len(all_files),
                "bytes_total": bytes_total, "bytes_kept": bytes_total,
                "rows_known_kept": None, "rows_est_matched": None,
                "fallback": plan["fallback"]}
    fresh = set(plan["kept"]) - set(plan["stale"]) - set(plan["unknown"])
    return {
        "files_total": len(all_files),
        "files_kept": len(plan["kept"]),
        "bytes_total": bytes_total,
        "bytes_kept": sum(_size(rel) for rel in plan["kept"]),
        "rows_known_kept": sum(stats["files"][rel]["rows"]
                               for rel in fresh),
        "rows_est_matched": _est_matched(stats, fresh, predicates),
        "fallback": None,
    }


def _est_matched(stats: dict, fresh: set, predicates: list[tuple]):
    """Uniform-distribution row estimate for equality/IN predicates:
    per kept file, rows × Π 1/ndv (or L/ndv for an L-member IN) over
    the eq-predicates that have an HLL distinct count — the classic
    CBO selectivity guess. None when no predicate is estimable (no
    eq ops, or pre-ndv stats snapshots)."""
    eq = [(c, 1) for c, op, _ in predicates if op == "="] + \
         [(c, len(v)) for c, op, v in predicates if op == "in"]
    if not eq:
        return None
    est = 0.0
    for rel in fresh:
        rec = stats["files"][rel]
        if rec["rows"] == 0:
            continue
        sel = 1.0
        for c, members in eq:
            cs = rec["stats"].get(c)
            if cs is None or len(cs) <= 3 or cs[3] <= 0:
                # a kept file with no ndv for this column would count
                # at FULL row weight — one pre-ndv snapshot file among
                # fresh ones could inflate the estimate 10^6x, so the
                # whole answer degrades to "unknown" instead of wrong
                return None
            sel *= min(1.0, members / cs[3])
        est += rec["rows"] * sel
    return round(est, 1)


def read_skipping(spark: SparkSession, path: str,
                  predicates: list[tuple],
                  stats: dict | None = None,
                  plan: dict | None = None,
                  base: DataFrame | None = None) -> DataFrame:
    """Predicate-filtered read that opens only the files the zone maps
    cannot rule out. ``predicates`` is an AND-list of
    ``(col, op, value)`` with ops from ``_OPS``: the one-branch case of
    ``read_skipping_any``, whose ``stats``, ``plan`` and ``base`` it
    takes. The result is ALWAYS identical to
    ``spark.read.parquet(path).filter(...)`` — stats only change how
    many files are opened."""
    return read_skipping_any(spark, path, [predicates], stats=stats,
                             plan=plan, base=base)


def _pruned_read(path: str, plan: dict, flt, base: DataFrame) -> DataFrame:
    """THE query read over a subset of a table's files: the table's
    plain read ``base`` filtered to the files ``plan`` kept, ``flt``
    re-applied. The file filter is on the hidden
    ``_metadata.file_path``, which Spark applies while it lists, before
    any file opens — so the pruned read shares the plain read's
    listing, schema and reader: no second listing job, no footer read
    for a schema, and a kept file lacking a column reads it as null.
    ``metadataColumn`` resolves the hidden column even when the table
    has a user column named ``_metadata``."""
    if plan["fallback"] is not None:
        return base.filter(flt)
    if not plan["kept"]:
        return base.filter(F.lit(False))
    # file_path spells a path as inputFiles() does, with file:/ for
    # file:///; one unquote maps either back to the on-disk relpath
    uris = {_file_rel(path, u): u.replace("file:///", "file:/", 1)
            for u in base.inputFiles()}
    if not all(rel in uris for rel in plan["kept"]):
        return base.filter(flt)  # a spelling miss costs I/O, never rows
    file_path = base.metadataColumn("_metadata").getField("file_path")
    return base.filter(
        file_path.isin([uris[rel] for rel in plan["kept"]]) & flt)


def plan_skip_any(path: str, branches: list[list[tuple]],
                  stats: dict | None = None,
                  files: list[str] | None = None) -> dict:
    """Disjunctive (DNF) pruning: ``branches`` is an OR of AND-lists —
    a file is pruned only when EVERY branch provably misses it. Same
    result dict as ``plan_skip`` (which is the single-branch case of
    the same shared planner, so directory rollups, bloom rollups, and
    the LTZ-zone guard behave identically in both). ``files`` as in
    ``plan_skip``: a caller-held CURRENT listing, never a stale one."""
    for branch in branches:
        _validate_ops(branch)
    return _plan(path, [list(b) for b in branches], stats, files=files)


def predicate_filter_any(branches: list[list[tuple]]):
    """The OR of the branches' AND-filters as a Column — always
    re-applied on top of the pruned read."""
    out = F.lit(False)
    for branch in branches:
        out = out | predicate_filter(branch)
    return out


def read_skipping_any(spark: SparkSession, path: str,
                      branches: list[list[tuple]],
                      stats: dict | None = None,
                      plan: dict | None = None,
                      base: DataFrame | None = None) -> DataFrame:
    """THE pruned read of a table: opens only the files some branch of
    the OR-of-ANDs ``branches`` may match and re-applies the full
    predicate, so the result is ALWAYS identical to the plain filtered
    scan. Pass ``plan`` from an earlier ``plan_skip``/``plan_skip_any``
    of the SAME branches to skip re-planning (the engine and the KQL
    surface reuse their admission plan), and the table's plain read as
    ``base`` when the caller holds one (read here otherwise)."""
    if plan is None:
        plan = plan_skip_any(path, branches, stats=stats)
    if base is None:
        base = spark.read.parquet(path)
    return _pruned_read(path, plan, predicate_filter_any(branches), base)


def estimate_scan_any(path: str, branches: list[list[tuple]],
                      stats: dict | None = None,
                      plan: dict | None = None,
                      files: list[str] | None = None) -> dict:
    """DNF twin of ``estimate_scan``: files/bytes the disjunctive
    pruned read will open vs the whole table. A point matched-rows
    estimate is still omitted (``rows_est_matched`` = None) — branch
    overlap is unknowable from per-file statistics — but the union
    bound IS knowable: |A ∪ B| <= |A| + |B|, each branch bounded by
    the rows recorded behind the files that branch ALONE keeps (a
    branch can only match rows inside its own kept set — a TRUE upper
    bound, unlike the uniform-selectivity ndv guess, which undercounts
    arbitrarily on skewed columns), the sum clamped to the rows
    recorded for the whole table. Emitted as ``rows_est_upper`` so
    admission control covers OR queries too: a scheduler can refuse a
    disjunctive query whose bound says it touches most of a 100 TB
    table. None when the branch list is empty or any branch is
    unconstrained (nothing bounds an unconstrained scan) or any
    branch's kept set includes files without trustworthy row counts
    (stale/unknown) — a bound that silently under-counts is not a
    bound."""
    plan = plan if plan is not None else plan_skip_any(
        path, branches, stats=stats, files=files)
    stats = stats if stats is not None else load_stats(path)
    out = estimate_scan(path, [], stats=stats, plan=plan, files=files)
    out["rows_est_upper"] = None
    if out["fallback"] is not None or stats is None:
        return out
    if not branches or any(not b for b in branches):
        return out  # unconstrained: every row may match, no bound
    total_known = sum(rec.get("rows", 0)
                      for rec in stats["files"].values())
    # the union plan already walked the CURRENT listing (kept+pruned);
    # per-branch passes reuse it instead of N more directory walks. They
    # call the kernel directly: a bound is not a plan of the read
    listing = plan["kept"] + plan["pruned"]
    upper = 0
    for branch in branches:
        _validate_ops(branch)
        bplan = _plan(path, [list(branch)], stats, files=listing)
        if bplan["fallback"] is not None:
            return out
        fresh = (set(bplan["kept"]) - set(bplan["stale"])
                 - set(bplan["unknown"]))
        if fresh != set(bplan["kept"]):
            return out  # untrusted rows behind this branch: no bound
        upper += sum(stats["files"][rel]["rows"] for rel in fresh)
    out["rows_est_upper"] = min(upper, total_known)
    return out


class ScanRead(NamedTuple):
    """One resolved read of a statement, as scan admission sees it.
    ``branches`` is the read's predicate in DNF: one AND-list per
    branch, ``[[]]`` for a read that prunes nothing. ``refs`` counts
    how often the statement scans it (each reference is its own scan).
    ``files`` is the caller's cached CURRENT listing (None: walk).
    ``nbytes`` marks a read of raw files with no table behind it
    (``path`` None, ``files`` the paths): it costs what they weigh."""
    name: str
    path: str | None
    branches: list[list[tuple]]
    refs: int = 1
    files: list[str] | None = None
    nbytes: int | None = None


def admit(reads: list[ScanRead], max_scan_bytes: int | None = None,
          price: bool = True) -> tuple[dict, list[dict | None]]:
    """THE scan-admission decision for one statement, shared by the SQL
    engine, the KQL surface and both dry-runs (a dry-run is this call
    with no budget). Per read, in order: plan it ONCE (``plan_skip``
    for one branch, ``plan_skip_any`` for several), price that plan
    (``estimate_scan`` / ``estimate_scan_any``), add bytes × refs to
    the statement total, and, with a budget, raise
    ``ScanBudgetExceeded`` on the first read or running total over it —
    before any file opens. A table without usable stats prices at its
    full listing bytes. ``price=False`` plans only: an execution with
    no budget reads no estimate.

    Returns ``({"tables": {name: widest estimate}, "bytes_kept":
    statement total, "reads": scans}, plans)`` with each read's plan
    (None for raw-file reads), for the pruned reads to reuse."""
    tables: dict[str, dict] = {}
    plans: list[dict | None] = []
    total = scans = 0
    for read in reads:
        one = len(read.branches) == 1
        plan = stats = None
        if read.nbytes is None:
            stats = load_stats(read.path)
            plan = (plan_skip(read.path, read.branches[0], stats=stats,
                              files=read.files) if one else
                    plan_skip_any(read.path, read.branches, stats=stats,
                                  files=read.files))
        plans.append(plan)
        if not (price or max_scan_bytes is not None):
            continue
        if plan is None:
            n = len(read.files)
            est = {"files_total": n, "files_kept": n,
                   "bytes_total": read.nbytes, "bytes_kept": read.nbytes,
                   "rows_est_matched": None, "fallback": None}
        elif one:
            est = estimate_scan(read.path, read.branches[0], stats=stats,
                                plan=plan, files=read.files)
        else:
            est = estimate_scan_any(read.path, read.branches, stats=stats,
                                    plan=plan, files=read.files)
        key = read.name.lower()
        if key not in tables or est["bytes_kept"] > tables[key]["bytes_kept"]:
            tables[key] = est
        total += est["bytes_kept"] * read.refs
        scans += read.refs
        if max_scan_bytes is None:
            continue
        if est["bytes_kept"] > max_scan_bytes:
            if plan is None:
                remedy = ("raw files are priced at raw file weight and "
                          "cannot be pruned — convert them to a "
                          "stats-bearing warehouse table to scan less")
            elif est["fallback"] is not None:
                remedy = (f"its skipping stats are unavailable "
                          f"({est['fallback']}), so the estimate is the "
                          "full table — run skipping.compute_stats/"
                          "refresh_stats on it")
            else:
                remedy = ("add a more selective predicate or re-cluster "
                          "the table")
            raise ScanBudgetExceeded(
                f"estimated scan of {read.name} is {est['bytes_kept']:,} "
                f"bytes ({est['files_kept']} of {est['files_total']} "
                f"files) — over the {max_scan_bytes:,}-byte budget; "
                f"{remedy}")
        if total > max_scan_bytes:
            raise ScanBudgetExceeded(
                f"estimated STATEMENT scan is {total:,} bytes across "
                f"{scans} table reads (latest: {read.name}) — over the "
                f"{max_scan_bytes:,}-byte budget; the ceiling applies to "
                "the statement's total I/O, not per reference")
    return {"tables": tables, "bytes_kept": total, "reads": scans}, plans
