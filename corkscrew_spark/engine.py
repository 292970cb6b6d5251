"""Validated SQL passthrough — the reference's query engine surface.

Reference lifecycle (pkg/query/engine.go:130-229): named-param rewrite →
EXPLAIN-based validation → execute → rows + stats. Here the execution
engine is Catalyst; this layer adds exactly what Spark doesn't have:

* read-only gate: statement-type check + keyword denylist
  (engine.go:368-386) BEFORE anything reaches the session;
* named ``:param`` binding with proper literal quoting, including list →
  IN-expansion (engine.go:441-456; compliance executor.go:397-436);
* friendly error UX: unknown-table fuzzy suggestions over the catalog
  (cmd/corkscrew/main.go:1238-1297);
* result stats (duration, row count on demand).
"""

from __future__ import annotations

import difflib
import itertools
import math
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from corkscrew_spark.functions import register_json_helpers


class QueryValidationError(ValueError):
    pass


#: Mutating / DDL keywords denied at the gate (engine.go:371-377). Word
#: boundary match, case-insensitive, comments stripped first.
_DENY = (
    "DROP", "DELETE", "UPDATE", "INSERT", "ALTER", "CREATE", "TRUNCATE",
    "MERGE", "GRANT", "REVOKE", "SET", "REFRESH",
)
_ALLOWED_STARTS = ("SELECT", "WITH", "EXPLAIN", "SHOW", "DESCRIBE", "DESC", "VALUES", "TABLE")

#: Process-wide counter for the one-statement pruned-view names the
#: skipping rewrite registers — unique across engines sharing a
#: SparkSession, so two concurrent queries can never collide on (or
#: observe) each other's pruned reads.
_SKIP_SEQ = itertools.count(1)

_PARAM_RE = re.compile(r"(?<!:):([a-zA-Z_][a-zA-Z0-9_]*)")
_TABLE_ERR_RE = re.compile(r"TABLE_OR_VIEW_NOT_FOUND|Table or view not found", re.IGNORECASE)


def quote_literal(value: Any) -> str:
    """Render a Python value as a safe SQL literal."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, float) and not math.isfinite(value):
        # repr() would emit 'inf'/'nan', which Spark parses as a COLUMN
        # reference — a confusing unresolved-column error far from the
        # actual mistake
        raise QueryValidationError(
            f"non-finite float parameter {value!r} has no SQL literal "
            "form — write CAST('Infinity'/'NaN' AS DOUBLE) in the SQL "
            "text instead")
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, (list, tuple, set)):
        if not value:
            return "(NULL)"  # empty IN-list matches nothing
        return "(" + ", ".join(quote_literal(v) for v in value) + ")"
    # Spark's default lexer treats backslash as an escape inside string
    # literals (and `\'` never closes one), so literals are emitted in
    # that dialect: double each backslash, backslash-escape each quote.
    # ''-doubling alone corrupts values containing backslashes.
    s = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


#: Regions opaque to parameter binding: single- AND double-quoted
#: string literals ('' / "" are the escaped quotes; Spark's default
#: lexer treats "..." as a STRING unless doubleQuotedIdentifiers is
#: on) and SQL comments — a LIKE pattern such as '%s3:DeleteBucket%'
#: or prose like "aws:kms" is never mistaken for a :param placeholder,
#: and the read-only gate never scans literal content.
_OPAQUE_RE = re.compile(
    r"'(?:\\.|''|[^'\\])*'|\"(?:\\.|\"\"|[^\"\\])*\"|--[^\n]*|/\*.*?\*/",
    re.DOTALL)


def bind_params(sql: str, params: dict[str, Any] | None) -> str:
    """Replace ``:name`` placeholders with quoted literals.

    Lists expand for IN-predicates: ``x IN (:ids)`` and ``x IN :ids``
    both work (the pre-wrapped parens case is normalized). Placeholders
    inside string literals are left untouched (engine.go:441-456 rewrites
    via the SQL tokenizer, which has the same property).
    """
    if params is None:
        params = {}

    _not_in_tail = re.compile(r"\bNOT\s+IN\s*\(?\s*$", re.IGNORECASE)
    _wrapped_tail = re.compile(r"\b(?:IN|ARRAY)\s*\(\s*$", re.IGNORECASE)

    def _seg_sub(seg: str) -> str:
        def sub(m: re.Match[str]) -> str:
            name = m.group(1)
            if name not in params:
                raise QueryValidationError(f"missing parameter: :{name}")
            v = params[name]
            if isinstance(v, (list, tuple, set)):
                if not v and _not_in_tail.search(seg[:m.start()]):
                    # (NULL) matches nothing for IN (intended) but
                    # ALSO nothing for NOT IN, where an empty
                    # exclusion list means keep everything — silently
                    # returning zero rows is the worst outcome
                    raise QueryValidationError(
                        f"empty list bound to NOT IN (:{name}) — under "
                        "SQL NULL semantics every row would be "
                        "dropped; an empty exclusion list means 'keep "
                        "all rows', so omit the predicate instead")
                if _wrapped_tail.search(seg[:m.start()]):
                    if not v:
                        return "NULL"  # IN (NULL): matches nothing
                    # 'IN (:ids)' / 'array(:ids)': the caller already
                    # wrote the parens — emit bare elements instead of
                    # doubling them into a row-value constructor.
                    # (The old approach normalized 'IN ((...))' with a
                    # whole-text regex AFTER binding, which also
                    # rewrote matching text inside bound string
                    # values and user-written struct constructors.)
                    return ", ".join(quote_literal(x) for x in v)
            return quote_literal(v)

        return _PARAM_RE.sub(sub, seg)

    out: list[str] = []
    pos = 0
    for lit in _OPAQUE_RE.finditer(sql):
        out.append(_seg_sub(sql[pos:lit.start()]))
        out.append(lit.group(0))
        pos = lit.end()
    out.append(_seg_sub(sql[pos:]))
    return "".join(out)


def _blank_opaque(sql: str) -> str:
    """Blank literals to '' and comments to a space in ONE literal-aware
    pass. The alternation in _OPAQUE_RE tries string literals before
    comments, so a ``--`` or ``/*`` *inside* a quoted literal never
    starts a comment — stripping comments with a literal-blind regex
    first would let ``SELECT '--'`` swallow the rest of the statement
    and hide DML from the keyword scan."""
    def repl(m: re.Match[str]) -> str:
        head = m.group(0)[0]
        if head == "'":
            return "''"
        if head == '"':
            return '""'
        return " "

    return _OPAQUE_RE.sub(repl, sql)


def validate_readonly(sql: str) -> None:
    """Deny mutating statements (engine.go:368-386).

    Both the first-word check and the keyword scan run on the same
    literal-blanked, comment-stripped text — prose inside a literal
    ('Set an env tag', '%DELETE%' LIKE patterns) must never trip the
    gate, and a comment opener inside a literal must never hide what
    follows it. The reference gets the same property from its SQL
    tokenizer.
    """
    scannable = _blank_opaque(sql).strip()
    if not scannable:
        raise QueryValidationError("empty query")
    # `(SELECT …) UNION (SELECT …)` is valid Spark SQL: the
    # first-word check looks through leading parens (the _DENY
    # keyword scan below still covers the FULL text, so no mutating
    # statement can hide behind a paren)
    # strip parens AND whitespace together: `( (SELECT …) UNION … )`
    # has whitespace between the parens, which lstrip("(") alone
    # left behind (r10 advice) — the statement then spuriously
    # failed the first-word check with "starts with (SELECT"
    head = re.sub(r"^[(\s]+", "", scannable)
    if not head:
        raise QueryValidationError("empty query")
    first = head.split(None, 1)[0].upper()
    if first not in _ALLOWED_STARTS:
        raise QueryValidationError(
            f"only read-only queries are allowed (statement starts with {first})"
        )
    for kw in _DENY:
        if re.search(rf"\b{kw}\b", scannable, re.IGNORECASE):
            raise QueryValidationError(f"read-only gate: {kw} is not allowed")


@dataclass
class QueryResult:
    df: DataFrame
    sql: str
    duration_s: float
    columns: list[str] = field(default_factory=list)

    def rows(self) -> list:
        return self.df.collect()


#: `<table> VERSION AS OF <n>` / `<table> TIMESTAMP AS OF '<ts>'` —
#: the Delta/Iceberg time-travel clause, resolved against tables
#: registered with QueryEngine.register_versioned.
_TIME_TRAVEL_RE = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(\d+|'[^']*')", re.IGNORECASE)


class ScanBudgetExceeded(QueryValidationError):
    """A query's METADATA-ONLY scan estimate exceeds the engine's
    ``max_scan_bytes`` budget — refused before a single file opens."""


class QueryEngine:
    """Session wrapper: macro registration + validated execution.

    ``max_scan_bytes`` arms admission control: when a query's
    metadata-only scan estimate (``estimate_scan`` — zone-map pruning
    over recorded per-file sizes, zero data I/O) says a registered
    warehouse table will be read past the budget, ``execute`` raises
    ``ScanBudgetExceeded`` instead of running it. A resolvable
    reference with NO extractable conjuncts — the bare
    ``SELECT * FROM big_table`` — is estimated at FULL scan and
    enforced too (the most obviously over-budget query must be the
    first one refused, review finding). A registered table with NO
    usable skipping stats (missing, malformed or fully invalidated)
    counts at its honest full-scan bytes — the listing's actual size
    sum (r10 verdict #1: at 100 TB, stats-less tables are exactly the
    ones admission control must not wave through). The decision is
    ``skipping.admit``, the one admission function the KQL surface
    and both dry-runs share. Enforcement stays advisory only
    for what genuinely can't be RESOLVED: references in shapes none
    of the resolvers understand, and unregistered tables — the
    governor exists to stop the 95%-of-100TB scan, not to guess."""

    def __init__(self, spark: SparkSession, register_helpers: bool = True,
                 max_scan_bytes: int | None = None):
        self.spark = spark
        self._versioned: dict[str, str] = {}
        self._warehouse: dict[str, str] = {}  # every registered dir
        self._plain: dict[str, DataFrame] = {}  # each view's plain read
        self._view_sig: dict[str, tuple | None] = {}  # freshness keys
        self._listing_cache: dict[str, tuple] = {}  # path -> (sig, files)
        self._snapshots: set[str] = set()  # per-statement __v entries
        self._snap_refs: dict[str, int] = {}  # view -> in-flight holders
        self._snap_lock = threading.Lock()
        self._snap_tl = threading.local()  # per-thread statement state
        self.max_scan_bytes = max_scan_bytes
        if register_helpers:
            register_json_helpers(spark, self_test=False)

    def register_warehouse(self, name: str, path: str) -> None:
        """Attach a warehouse table DIRECTORY to the SQL surface:
        registers its contents as view ``name``, and — when the table
        has zone-map/bloom statistics (``skipping.compute_stats``) —
        routes single-table queries whose WHERE contains simple
        conjunctive predicates through file-level data skipping
        automatically, so the engine's own SQL benefits from the stats
        the same way the reference's SQL benefits from DuckDB's
        row-group pruning (internal/db). Soundness: the full SQL always
        re-applies its WHERE on the pruned view, and pruning uses only
        conjuncts implied by the whole predicate — result identity with
        the plain view is structural, not statistical, so pruning
        needs no switch: a table without stats simply reads plain, and
        an armed budget prices it at its full listing bytes.

        Freshness contract (IN-REPO WRITERS ONLY): the per-query view
        refresh and the file-listing cache are gated on ``_table_sig``
        — top-dir (mtime_ns, inode) + ``_commits.jsonl`` identity —
        which every write path IN THIS PACKAGE moves (directory swaps,
        top-level appends, scoped merges with a commit-log line). An
        out-of-band writer that drops files into an existing PARTITION
        SUBDIRECTORY moves neither, and the engine would keep serving
        the cached listing. Tables written by external jobs must
        either touch the table dir / commit log, or run the engine
        with env ``CORKSCREW_VIEW_SIG=0``, which restores the
        refresh-every-query behavior (and disables the listing
        cache)."""
        # sig BEFORE the read (same order as _refresh_warehouse_views):
        # a swap landing between them makes the stored sig pre-date the
        # table, so the next query refreshes — the reverse order could
        # freeze a stale listing behind a post-swap signature
        sig = self._table_sig(path)
        # keyed lower-cased: Spark resolves view names case-
        # insensitively, so `FROM Estate` must find the registration
        # made as "estate"
        self._register_plain(name.lower(), path)
        self._warehouse[name.lower()] = path
        self._view_sig[name.lower()] = sig

    def _register_plain(self, key: str, path: str) -> None:
        """Read the table plain, register it as view ``key`` and hold
        the frame: every pruned read of the view filters this frame
        (``_metadata`` does not resolve through ``spark.table``)."""
        plain = self.spark.read.parquet(path)
        plain.createOrReplaceTempView(key)
        self._plain[key] = plain

    @staticmethod
    def _table_sig(path: str) -> tuple | None:
        """Change signature for a warehouse table directory: the top
        dir's (mtime_ns, ino) plus the commit log's (mtime_ns, size).
        Every in-repo write path moves it — directory swaps replace
        the dir (new inode), appends create files in it (dir mtime),
        and partition-scoped merges append a `_commits.jsonl` line —
        so an unchanged signature proves the cached view's file
        listing is still current. None (= always refresh) when the
        signature can't be read."""
        import os

        try:
            st = os.stat(path)
            sig: list = [st.st_mtime_ns, st.st_ino]
        except OSError:
            return None
        try:
            cl = os.stat(os.path.join(path, "_commits.jsonl"))
            sig += [cl.st_mtime_ns, cl.st_size]
        except OSError:
            sig += [None, None]  # no log yet: dir identity still covers
        return tuple(sig)

    @staticmethod
    def _vet_region_preds(stats: dict | None, preds: list,
                          branches: list | None) -> tuple[list, list | None]:
        """Stats-column vetting for SUBQUERY-BODY (region) rows, done
        once in ``_resolved_reads`` for the governor and the dry-run
        alike: a correlated body may reference OUTER columns
        UNQUALIFIED, so attribute only columns the zone maps record
        for this table — an unknown column can't prune anyway, and
        read_skipping's re-applied filter must never name a column
        the table lacks.
        A disjunct emptied by vetting matches anything: the whole
        OR-list degrades to no-pruning (None)."""
        if not (preds or branches):
            return preds, branches
        known = {c.lower() for c in
                 ((stats or {}).get("types")
                  or (stats or {}).get("cols") or ())}
        preds = [p for p in preds if p[0].lower() in known]
        if branches is not None:
            branches = [[p for p in b if p[0].lower() in known]
                        for b in branches]
            if any(not b for b in branches):
                branches = None
        return preds, branches

    def _cached_listing(self, path: str) -> list[str] | None:
        """The table's data-file listing, cached per path and keyed on
        the freshness signature: a governed/pruned query on an
        UNCHANGED table costs two os.stats instead of an O(files)
        directory walk per statement (round-7 review nit —
        ``plan_skip`` re-listed on every call). Soundness is the view
        refresh's argument verbatim: the sig is read BEFORE the walk
        (a swap landing between them leaves an old sig behind a new
        listing, forcing a refresh next query — never the reverse),
        and an unchanged signature proves the listing current under
        the in-repo-writers contract (``register_warehouse``). None —
        let the planner walk for itself — when the signature is
        unreadable or env ``CORKSCREW_VIEW_SIG=0`` opts out."""
        import os

        from corkscrew_spark import skipping as _skip

        if os.environ.get("CORKSCREW_VIEW_SIG", "1") == "0":
            return None
        sig = self._table_sig(path)
        if sig is None:
            return None
        got = self._listing_cache.get(path)
        if got is not None and got[0] == sig:
            return got[1]
        files = _skip._list_data_files(path)
        self._listing_cache[path] = (sig, files)
        return files

    def _gc_snapshots(self) -> None:
        """Drop the time-travel registrations ``_resolve_time_travel``
        accumulated: a long-lived server receiving arbitrary
        VERSION/TIMESTAMP AS OF literals must not grow the warehouse
        registry OR the session catalog (each registry entry costs a
        regex search plus two os.stats per refresh; each temp view
        holds an analyzed plan forever) without bound. Called before
        each statement resolves and after it executes.

        Concurrency (the lock-free ApiServer runs statements in
        parallel on one engine): entries are REFCOUNTED —
        ``_resolve_time_travel`` takes a reference per statement and
        execute/execute_stream release it in their ``finally`` — and
        GC skips any entry an in-flight statement still holds, so a
        concurrent statement's registry entry can neither lose its
        pruning NOR slip past the scan-budget governor mid-statement
        (the pre-refcount design popped it and the scan ran
        ungoverned). Iteration is over a snapshot of the set with
        per-key discard, never a blanket clear."""
        for key in list(self._snapshots):
            with self._snap_lock:
                if self._snap_refs.get(key, 0) > 0:
                    continue  # in use by an in-flight statement
                self._snap_refs.pop(key, None)
                path = self._warehouse.pop(key, None)
                self._view_sig.pop(key, None)
                self._plain.pop(key, None)
                if path is not None:
                    self._listing_cache.pop(path, None)
                self._snapshots.discard(key)
                # dropTempView runs INSIDE the lock: a concurrent
                # _resolve_time_travel for the same AS OF literal
                # creates-and-refcounts its view atomically under this
                # lock, so a drop deferred past the release could land
                # AFTER that create and fail the valid statement with a
                # spurious view-not-found (TOCTOU, review finding).
                # Under the lock the two critical sections serialize:
                # either the resolver registers first (refs > 0, GC
                # skips) or the drop completes first and the resolver
                # re-creates a fresh view.
                try:
                    self.spark.catalog.dropTempView(key)
                except Exception:  # noqa: BLE001 — already gone is fine
                    pass

    def _release_snapshots(self, views: list[str]) -> None:
        """Release a finished statement's time-travel references (the
        views themselves are collected by the next ``_gc_snapshots``
        once no statement holds them)."""
        with self._snap_lock:
            for v in views:
                n = self._snap_refs.get(v, 0)
                if n > 1:
                    self._snap_refs[v] = n - 1
                else:
                    self._snap_refs.pop(v, None)

    def _warehouse_targets(self, bound: str,
                           exclude: frozenset | set = frozenset(),
                           include_unprunable: bool = False
                           ) -> list[tuple]:
        """(name, alias, qualified_only, prunable) per warehouse table
        the query's shape lets us RESOLVE — the ONE implementation of
        the soundness-critical resolution shared by the execution
        rewrite, estimate_scan, and the governor: single-table
        queries, or INNER/LEFT join chains. ``prunable`` is the
        attribution verdict: only PRESERVED, once-referenced tables
        may have conjuncts attributed (the right side of a LEFT join
        null-extends — see predicates.join_chain_tables — and a
        self-joined table's two references share files, so one
        reference's predicate must not prune the other's rows).
        Non-prunable chain members are still RESOLVED reads that will
        scan their whole table; ``include_unprunable`` keeps them
        (ONE ROW PER REFERENCE, prunable=False — r10 advice: a
        self-joined table is scanned once per reference, so
        ``FROM t a JOIN t b`` must add t's bytes twice to the
        statement-total ceiling, matching the KQL surface's
        nrefs weighting) so the governor/estimator can enforce their
        full-scan bytes — without it only prunable rows return (the
        rewrite path has nothing to do with the others).
        ``exclude`` drops names shadowed in the current statement
        (CTE names shadow registered views)."""
        from collections import Counter

        from corkscrew_spark import predicates as _pred

        names = self._warehouse
        st = _pred.single_table(bound)
        if st is not None:
            return ([(st[0], st[1], False, True)]
                    if st[0].lower() in names
                    and st[0].lower() not in exclude else [])
        tabs = _pred.join_chain_tables(bound)
        if tabs is None and include_unprunable:
            # neither resolver accepts the shape (comma-list FROM,
            # RIGHT/FULL/CROSS/NATURAL members, mixed chains): every
            # depth-0 FROM/JOIN-position reference is still a
            # whole-table read, so surface EACH ONE as a bare
            # governed row (per reference, not per name — a
            # self-reference is its own scan) — attribution is
            # unsound for pruning (never rewritten) but a full-scan
            # estimate needs no attribution (r9 verdict #1: these
            # shapes executed unpruned AND ungoverned)
            out = []
            for t, a in _pred.loose_table_refs(bound):
                low = t.lower()
                if low in names and low not in exclude:
                    out.append((t, a, True, False))
            return out
        tabs = tabs or []
        counts = Counter(t.lower() for t, _a, _p in tabs)
        out: list[tuple] = []
        for t, a, prunable in tabs:
            low = t.lower()
            if low not in names or low in exclude:
                continue
            if prunable and counts[low] == 1:
                out.append((t, a, True, True))
            elif include_unprunable:
                # one row PER REFERENCE: N self-references at
                # budget−ε must not admit ~N× the budget (r10
                # advice — the KQL twin already multiplies by nrefs)
                out.append((t, a, True, False))
        return out

    def _statement_spans(self, bound: str) -> tuple[list[tuple[int, int]],
                                                    frozenset]:
        """The independently-prunable spans of ``bound``: the whole
        statement for plain SELECTs; each CTE body plus the final query
        for WITH statements (the reference's compliance-pack shape,
        where DuckDB prunes inside CTE bodies), with the CTE names to
        exclude from warehouse attribution (shadowing). A span
        containing depth-1 DERIVED TABLES (``FROM (SELECT …) t``) is
        replaced by those bodies — each a self-contained SELECT, same
        soundness as CTE bodies. The enclosing text is dropped, not
        kept alongside: its references are unextractable anyway (both
        resolvers require exactly one FROM, and the derived body adds
        one), and keeping it would nest spans — the rewrite splices
        per-span edits back by offset, so spans MUST stay disjoint."""
        from corkscrew_spark import predicates as _pred

        segs = _pred.statement_segments(bound)
        if segs is None:
            spans, names = [(0, len(bound))], frozenset()
        else:
            spans, names = segs[0], frozenset(segs[1])
        # split depth-0 set operators WITHIN each span (r9 verdict #1:
        # each UNION/INTERSECT/EXCEPT branch is a self-contained
        # SELECT — same soundness as a CTE body — and was the last
        # statement shape escaping both pruning and the governor).
        # Worklist because a parenthesized branch can itself be a set
        # statement (`A UNION (B INTERSECT C)` unwraps to one).
        split: list[tuple[int, int]] = []
        work = list(spans)
        while work:
            start, end = work.pop()
            branches = _pred.set_operator_spans(bound[start:end])
            if branches:
                work.extend((start + s, start + e) for s, e in branches)
            else:
                split.append((start, end))
        split.sort()
        out: list[tuple[int, int]] = []
        for start, end in split:
            sub = _pred.derived_table_spans(bound[start:end])
            if sub:
                out.extend((start + s, start + e) for s, e in sub)
            else:
                out.append((start, end))
        return out, names

    def _segment_targets(self, bound: str, include_bare: bool = False):
        """THE extraction cascade, shared by the execution rewrite,
        estimate_scan, and the scan governor so what the engine
        executes can never drift from what it estimates or enforces
        (review finding): per statement segment, yield
        ``(start, end, seg_text, found)`` where ``found`` is
        ``[(name, preds, branches, region), ...]`` — ``preds`` an
        AND-list, or ``branches`` a DNF (a WHERE whose TOP level is an
        OR still prunes when every disjunct contributes a conjunct: a
        file is dropped only if ALL branches provably miss), and
        ``region`` locates the reference for the rewrite: None for the
        segment's enclosing statement, or the ``(start, end)``
        character span (absolute in ``bound``) of the EXISTS/IN
        SUBQUERY BODY it sits in; the trailing ``regions`` element is
        the ``[(region, resolution_text)]`` list the rewrite needs to
        compute reference edits against the SAME (masked) text this
        cascade resolved. Subquery handling: each segment's
        outermost ``EXISTS (SELECT …)`` / ``IN (SELECT …)`` ranges are
        length-preservingly MASKED for the enclosing statement's own
        resolution (siblings of the subquery conjunct still extract;
        the enclosing table resolves and is governed), and each body —
        a self-contained SELECT block whose result pruning-wrt-its-own-
        WHERE provably preserves, however the outer predicate consumes
        it — runs the same cascade as its own region (its nested
        subqueries masked likewise; depth-1 bodies only, a deeper
        body's tables stay unresolved exactly as the whole statement
        did before). Every registered table resolves.
        ``include_bare`` keeps resolvable references with NO
        extractable conjuncts as ``(name, [], None, region)`` rows —
        the governor/estimator's full-scan case (an empty AND-list
        prunes nothing, so ``plan_skip`` yields the trivial
        bytes_kept == bytes_total estimate) — and additionally
        resolves NON-PRUNABLE chain members (the right side of a LEFT
        join, self-joined tables): attribution there is unsound but
        the read is still a whole-table scan, so they surface as bare
        rows too. Segments with no resolvable reference are
        skipped."""
        from corkscrew_spark import predicates as _pred

        spans, exclude = self._statement_spans(bound)
        for start, end in spans:
            seg = bound[start:end]
            # (region, text): region None = the enclosing statement
            # (masked when it has subqueries), else the body's
            # absolute span. Bodies recurse to ANY depth (r9 stretch
            # #8: depth-2 bodies' tables stayed unresolved): each
            # level's text is masked for ITS OWN nested subqueries so
            # its table still resolves, and each nested body becomes
            # its own region — the soundness argument applies
            # recursively (pruning a body's table w.r.t. that body's
            # own WHERE preserves the body's exact result, however
            # the enclosing predicate consumes it). Offsets stay
            # absolute in ``bound``: masking is length-preserving, so
            # a body's character offsets are identical in masked and
            # original text.
            regions: list[tuple[tuple[int, int] | None, str]] = []
            work: list[tuple[tuple[int, int] | None, int, str]] = [
                (None, start, seg)]
            while work:
                region, off, text = work.pop()
                if region is not None:
                    # strip redundant wrapping parens from a body
                    # (`IN ((SELECT …))`) so the resolvers and the
                    # set-splitter see a plain SELECT; offsets stay
                    # absolute (only a prefix/suffix is dropped)
                    s0, e0 = _pred.enclosing_paren_span(text)
                    if (s0, e0) != (0, len(text)):
                        off += s0
                        text = text[s0:e0]
                        region = (off, off + len(text))
                    # a body can itself be a set statement (`WHERE x
                    # IN (SELECT … UNION SELECT …)`): split it into
                    # branch regions so each branch prunes like a
                    # top-level branch (offsets stay absolute)
                    branches = _pred.set_operator_spans(text)
                    if branches:
                        for s_, e_ in branches:
                            work.append(((off + s_, off + e_),
                                         off + s_, text[s_:e_]))
                        continue
                subs = _pred.subquery_spans(text)
                if subs:
                    regions.append((region, _pred.mask_subqueries(
                        text, [(ms, me) for ms, _b, _e, me in subs])))
                    for _ms, bs, be, _me in subs:
                        work.append(((off + bs, off + be), off + bs,
                                     text[bs:be]))
                else:
                    regions.append((region, text))
            found: list[tuple] = []
            for region, text in regions:
                for name, alias, qualified_only, prunable \
                        in self._warehouse_targets(
                            text, exclude,
                            include_unprunable=include_bare):
                    if not prunable:
                        found.append((name, [], None, region))
                        continue
                    preds = _pred.extract_predicates(text, name, alias,
                                                     qualified_only)
                    branches = None
                    if not preds:
                        branches = _pred.extract_disjuncts(
                            text, name, alias, qualified_only)
                        if not branches and not include_bare:
                            continue
                    found.append((name, preds, branches, region))
            if found:
                yield start, end, seg, found, regions

    def _resolved_reads(self, bound: str, include_bare: bool) -> list:
        """The statement's resolved warehouse reads per segment, as
        ``(start, end, seg, regions, [(region, skipping.ScanRead)])``:
        the ``_segment_targets`` rows over each table's cached listing,
        subquery-body rows vetted against the table's stats columns.
        The rewrite and the dry-run both admit exactly these reads."""
        from corkscrew_spark import skipping as _skip

        out = []
        for start, end, seg, found, regions in self._segment_targets(
                bound, include_bare=include_bare):
            rows = []
            for name, preds, branches, region in found:
                # .get(), not []: a concurrent statement's
                # _gc_snapshots() may pop a time-travel registry entry
                # after resolution — the documented contract is "at
                # worst unpruned" (the snapshot temp view still
                # exists), never a KeyError failing the statement
                path = self._warehouse.get(name.lower())
                if path is None:
                    continue
                if region is not None:
                    preds, branches = self._vet_region_preds(
                        _skip.load_stats(path), preds, branches)
                rows.append((region, _skip.ScanRead(
                    name, path, branches or [preds],
                    files=self._cached_listing(path))))
            out.append((start, end, seg, regions, rows))
        return out

    def _skipping_rewrite(self, bound: str) -> tuple[str, list[str]]:
        """When ``bound`` is a single-table query (or pure inner-join
        chain) over registered warehouse tables with extractable
        conjuncts, register each table's ``read_skipping`` pruned read
        under a UNIQUE generated temp-view name and rewrite this
        statement's table references to it (aliased back to the
        original name so qualified column refs resolve). Returns
        ``(sql_to_execute, temp_views_to_drop)``.

        Why not re-point the shared view: view resolution happens at
        DataFrame creation, so a concurrent query on the same
        SparkSession (second thread, second QueryEngine, a direct
        spark.sql call) that resolved the shared name inside a
        repoint/restore window would silently read a file subset
        pruned for a DIFFERENT predicate — missing rows, not wasted
        I/O. Unique names make the pruned read invisible to every
        other statement; the shared view is never touched.

        WITH statements prune PER SEGMENT: every CTE body and the
        final query are independently-shaped SELECTs, so each runs the
        same extraction on its own text — two segments reading one
        table under different predicates each get their own pruned
        view (the reference's compliance packs are exactly this shape,
        pruned inside DuckDB; CTE names shadow registered views and
        are excluded from attribution).

        The scan-budget governor enforces HERE, through
        ``skipping.admit`` over EVERY resolved read, before any pruned
        view is registered (a refusal leaves nothing to drop) and on
        the same plan each pruned read then reuses (one listing/zone-map
        walk per read, never two). The budget is BOTH a per-reference
        and a statement-total ceiling (r10 — N references at budget−ε
        must not admit N×)."""
        from corkscrew_spark import predicates as _pred
        from corkscrew_spark import skipping as _skip

        enforce = self.max_scan_bytes is not None
        segments = self._resolved_reads(bound, include_bare=enforce)
        _est, plans = _skip.admit(
            [read for *_, rows in segments for _region, read in rows],
            self.max_scan_bytes, price=enforce)
        plans = iter(plans)
        views: list[str] = []
        edits: list[tuple[int, int, str]] = []
        try:
            for start, end, seg, regions, rows in segments:
                texts = dict(regions)
                # view mapping PER REGION: the same table pruned in the
                # enclosing statement and inside a subquery body gets
                # two independent views, each rewritten in its own text
                mapping: dict[tuple | None, dict[str, str]] = {}
                region_views: dict[tuple | None, list[str]] = {}
                for region, read in rows:
                    plan = next(plans)
                    # the frame behind the plain view validation
                    # refreshed; gone only if a concurrent GC took it
                    base = self._plain.get(read.name.lower())
                    if not any(read.branches) or base is None:
                        continue  # bare or unprunable: the plain view
                    try:
                        pruned = _skip.read_skipping_any(
                            self.spark, read.path, read.branches,
                            plan=plan, base=base)
                    except Exception:  # noqa: BLE001
                        continue  # unreadable stats/files: plain view
                    view = f"{read.name}__skip_{next(_SKIP_SEQ)}"
                    pruned.createOrReplaceTempView(view)
                    views.append(view)
                    mapping.setdefault(region, {})[read.name.lower()] = view
                    region_views.setdefault(region, []).append(view)
                if not mapping:
                    continue
                # reference edits are computed against each region's
                # RESOLUTION text (the masked statement / the body) —
                # masking is length-preserving, so outer-region offsets
                # are valid in the original seg, and body offsets shift
                # by the body's start
                ref_edits: list[tuple[int, int, str]] = []
                for region, m in mapping.items():
                    sub = _pred.table_ref_edits(texts[region], m)
                    if sub is None:
                        # the targets resolver accepted the shape, so
                        # the refs must be locatable; if not, never
                        # execute against this region's pruned views
                        for view in region_views[region]:
                            self.spark.catalog.dropTempView(view)
                            views.remove(view)
                        continue
                    off = 0 if region is None else region[0] - start
                    ref_edits.extend(
                        (s + off, e + off, r) for s, e, r in sub)
                if not ref_edits:
                    continue
                new_seg = seg
                for s, e, r in sorted(ref_edits, reverse=True):
                    new_seg = new_seg[:s] + r + new_seg[e:]
                edits.append((start, end, new_seg))
        except Exception:
            # ANY failure out of this loop (an unexpected rewrite error
            # in a later segment) must not leak earlier segments'
            # one-statement views into the shared session — execute()'s
            # finally never sees them
            for view in views:
                self.spark.catalog.dropTempView(view)
            raise
        if not edits:
            return bound, views
        out = bound
        for start, end, repl in reversed(edits):
            out = out[:start] + repl + out[end:]
        return out, views

    def register_versioned(self, name: str, path: str) -> None:
        """Attach a versioned table (versioned.py snapshot log) to the SQL
        surface: registers the LATEST snapshot as view ``name`` and
        enables `name VERSION AS OF n` / `name TIMESTAMP AS OF 'ts'`
        time-travel clauses in queries (Delta/Iceberg SQL parity over
        the plain-parquet snapshot store)."""
        from corkscrew_spark import versioned

        versioned.read_version(self.spark, path).createOrReplaceTempView(name)
        self._versioned[name] = path

    def _resolve_time_travel(self, sql: str) -> str:
        """Rewrite time-travel clauses on registered versioned tables to
        snapshot views (registered on demand as ``name__v<N>``).

        Matches that *start* inside a string literal or comment are left
        untouched — the clause identifier must be real SQL text (the
        quoted TIMESTAMP argument is itself a literal, so the opaque-span
        check applies to the match start, not its full extent).

        Each snapshot view also registers as a WAREHOUSE entry pointing
        at the version's immutable data dir, so time-travel SQL prunes
        through the snapshot's zone maps (``compute_stats_version``)
        exactly like any registered table — previously only the
        ``read_version(predicates=…)`` API pruned history reads. An
        immutable dir means the freshness signature never moves: the
        per-query refresh costs two stats and nothing else."""
        from corkscrew_spark import versioned

        opaque = [m.span() for m in _OPAQUE_RE.finditer(sql)]

        def _in_opaque(pos: int) -> bool:
            return any(a <= pos < b for a, b in opaque)

        # how many time-travel clauses reference each base table in
        # THIS statement: when the same table is time-traveled more
        # than once (`FROM t VERSION AS OF 1 JOIN t VERSION AS OF 2`),
        # the implicit alias-back below would name BOTH references
        # ``t`` and make every column reference ambiguous — those
        # statements keep the distinct ``name__v<N>`` view names
        # instead (users must qualify by alias or view name, as with
        # any self-join; review finding)
        from collections import Counter
        clause_counts = Counter(
            m.group(1) for m in _TIME_TRAVEL_RE.finditer(sql)
            if not _in_opaque(m.start()))

        clause_offsets = {
            m.start() for m in _TIME_TRAVEL_RE.finditer(sql)
            if not _in_opaque(m.start())}

        def _bare_mention(name: str) -> bool:
            # ANY bare mention of the name that is neither this travel
            # clause's own head nor a `name.` qualifier — a plain
            # table ref (`FROM vt JOIN vt VERSION AS OF 1`), a derived
            # -table alias (`FROM (SELECT …) vt`), a column alias —
            # could denote another relation named ``name``; minting
            # the implicit `AS name` then makes every reference
            # ambiguous. Token-level so string literals and comments
            # never count. Unparseable text keeps the alias (either
            # choice surfaces as an analysis error, never silently).
            from corkscrew_spark import predicates as _pred
            try:
                toks, spans = _pred._tokens_spans(sql)
            except Exception:  # noqa: BLE001
                return False
            low = name.lower()
            for i, (k, v) in enumerate(toks):
                if k not in ("ident", "bq"):
                    continue
                if _pred._unquote_ident((k, v)).lower() != low:
                    continue
                if spans[i][0] in clause_offsets:
                    continue  # a travel clause's own head
                if i + 1 < len(toks) and toks[i + 1] == ("punc", "."):
                    continue  # qualifier use — what the alias is FOR
                return True
            return False

        _clause_kws = {
            "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
            "EXCEPT", "INTERSECT", "JOIN", "LEFT", "RIGHT", "FULL",
            "INNER", "CROSS", "NATURAL", "SEMI", "ANTI", "ON", "USING",
            "WINDOW", "LATERAL", "QUALIFY", "DISTRIBUTE", "CLUSTER",
            "SORT", "AND", "OR", "WHEN", "THEN", "ELSE", "END", "AS",
        }

        def _sub(m: re.Match) -> str:
            if _in_opaque(m.start()):
                return m.group(0)
            name, kind, arg = m.group(1), m.group(2).upper(), m.group(3)
            path = self._versioned.get(name)
            if path is None:
                return m.group(0)  # not ours — let Spark handle/fail it
            try:
                if kind == "VERSION":
                    _entry, vdir = versioned._resolve_version(
                        path, int(arg), None)
                    tag = arg
                else:
                    from datetime import datetime, timezone

                    ts = datetime.fromisoformat(arg.strip("'"))
                    if ts.tzinfo is None:
                        ts = ts.replace(tzinfo=timezone.utc)
                    _entry, vdir = versioned._resolve_version(
                        path, None, ts.timestamp())
                    tag = re.sub(r"[^0-9]", "", arg)
            except (ValueError, KeyError, FileNotFoundError, OSError) as ex:
                # a bad AS OF argument is a VALIDATION failure —
                # validate()'s documented contract is
                # QueryValidationError, and the server classifies raw
                # ValueError as a post-validation runtime crash
                raise QueryValidationError(
                    f"time travel on {name}: {ex}") from ex
            view = f"{name}__v{tag}"
            sig = self._table_sig(vdir)
            # the EXPENSIVE half (file listing + schema inference)
            # runs outside the lock — building a DataFrame touches no
            # catalog state, so concurrent statements don't serialize
            # on parquet I/O
            sdf = self.spark.read.parquet(vdir)
            with self._snap_lock:
                # catalog-insert + refcount as ONE critical section:
                # the view must not exist in the catalog without its
                # refcount, or a concurrent _gc_snapshots (whose
                # check-pop-drop is the other critical section under
                # this lock) could drop it in the window (TOCTOU,
                # review finding)
                sdf.createOrReplaceTempView(view)
                self._plain[view.lower()] = sdf
                self._warehouse[view.lower()] = vdir
                self._view_sig[view.lower()] = sig
                self._snapshots.add(view.lower())  # refcounted: held
                # until the statement's execute/_release, collected by
                # _gc_snapshots once no statement holds it
                self._snap_refs[view.lower()] = \
                    self._snap_refs.get(view.lower(), 0) + 1
            held = getattr(self._snap_tl, "views", None)
            if held is not None:
                held.append(view.lower())
            # alias the snapshot back to the original table name so
            # qualified references (t.id) keep resolving — unless the
            # query supplies its own alias right after the clause
            nxt = re.match(r"\s*(?:(AS)\s+)?([A-Za-z_]\w*)",
                           sql[m.end():])
            user_alias = nxt is not None and (
                nxt.group(1) is not None
                or nxt.group(2).upper() not in _clause_kws)
            if user_alias or clause_counts[name] > 1 \
                    or _bare_mention(name):
                return view
            return f"{view} AS {name}"

        return _TIME_TRAVEL_RE.sub(_sub, sql)

    def _refresh_warehouse_views(self, bound: str) -> None:
        """Re-point every registered warehouse view the query mentions
        at a FRESH read — IF its table changed. A parquet DataFrame
        caches its file listing at creation, and warehouse tables
        mutate via directory swaps (merge_upsert/compaction) — a view
        captured at registration would read files that no longer
        exist. Re-creating the view costs a listing + schema-inference
        footer read, so it is gated on ``_table_sig``: dir identity
        (mtime_ns, inode) + commit-log identity, which every in-repo
        write path moves (swaps replace the dir, appends create
        entries in it, scoped merges append the log). Unchanged
        signature = the cached listing is provably current; unreadable
        signature = always refresh. One os.stat pair per referenced
        table per query instead of a full listing; false-positive name
        mentions (the name inside a longer context) just stat
        harmlessly. Env ``CORKSCREW_VIEW_SIG=0`` disables the
        signature gate — refresh every query — for tables written by
        jobs outside this package (see ``register_warehouse``'s
        freshness contract)."""
        import os

        gate = os.environ.get("CORKSCREW_VIEW_SIG", "1") != "0"
        # snapshot the registry: a concurrent statement's time-travel
        # resolution/GC mutates the dict (lock-free server), and
        # iterating the live dict would raise mid-query
        for name, path in list(self._warehouse.items()):
            if not re.search(rf"(?<![A-Za-z0-9_]){re.escape(name)}"
                             rf"(?![A-Za-z0-9_])", bound, re.IGNORECASE):
                continue
            sig = self._table_sig(path)
            if gate and sig is not None \
                    and sig == self._view_sig.get(name):
                continue  # table unchanged: the cached view is current
            self._register_plain(name, path)
            self._view_sig[name] = sig

    def estimate_scan(self, sql: str,
                      params: dict[str, Any] | None = None
                      ) -> dict[str, dict]:
        """Metadata-only scan estimate per prunable warehouse table the
        query references: files/bytes the pruned read will open vs the
        whole table, plus an ndv-based matched-rows guess — WITHOUT
        running anything. The admission-control half of data skipping:
        a caller can refuse (or re-cluster for) a query whose estimate
        opens 95% of a 100 TB table. A resolvable reference with no
        extractable conjuncts reports the trivial full-scan estimate
        (bytes_kept == bytes_total), exactly what the governor
        enforces on; only tables the resolver can't attribute at all
        are absent from the result. Per-TABLE rows report the WIDEST
        single read; the statement-total sum the r10 aggregate
        ceiling enforces on comes from ``estimate_statement``."""
        return self.estimate_statement(sql, params)["tables"]

    def estimate_statement(self, sql: str,
                           params: dict[str, Any] | None = None
                           ) -> dict[str, Any]:
        """``estimate_scan`` plus the STATEMENT totals the aggregate
        governor enforces on (r10 review: the per-table dict reports
        the widest single read per table, so it cannot express the
        sum — two branches each at 0.6× budget dry-ran as 'every row
        under budget' yet refused at execution). Returns ``{"tables":
        {name: est}, "bytes_kept": <sum over every admitted read —
        a twice-read table counts twice>, "reads": n}``: the same
        resolution and the same ``skipping.admit`` call as the
        governor, with no budget — so reads without usable stats
        contribute their FULL-SCAN bytes exactly as in enforcement."""
        from corkscrew_spark import skipping as _skip

        bound = bind_params(sql, params)
        # resolve time-travel clauses FIRST, exactly as validate()
        # does before the governor runs (r11 — the dry-run reported
        # 0 bytes for `vt VERSION AS OF n` statements the governor
        # refuses on the snapshot's estimate: the raw clause is
        # unparseable to the resolvers, so every reference vanished).
        # Statement-scoped like a standalone validate: registrations
        # are released in the finally, collected by the next GC.
        own = not getattr(self._snap_tl, "in_execute", False)
        if own:
            self._snap_tl.views = []
        try:
            if self._versioned:
                self._gc_snapshots()
                bound = self._resolve_time_travel(bound)
            est, _plans = _skip.admit(
                [read for *_, rows in self._resolved_reads(bound, True)
                 for _region, read in rows])
            return est
        finally:
            if own:
                self._release_snapshots(
                    getattr(self._snap_tl, "views", []))
                self._snap_tl.views = []

    def validate(self, sql: str, params: dict[str, Any] | None = None) -> str:
        own = not getattr(self._snap_tl, "in_execute", False)
        self._snap_tl.views = []
        try:
            bound = bind_params(sql, params)
            # Gate BEFORE any side effect: _refresh_warehouse_views
            # re-points session views (and pays a parquet listing) and
            # _resolve_time_travel registers temp views — a rejected
            # query must mutate no session view state and do no I/O.
            validate_readonly(bound)
            # collect finished statements' time-travel registrations
            # (refcounts keep in-flight ones; a standalone validate
            # leaves at most one statement's worth behind)
            self._gc_snapshots()
            if self._warehouse:
                self._refresh_warehouse_views(bound)
            if self._versioned:
                bound = self._resolve_time_travel(bound)
                validate_readonly(bound)
            # Parse/analyze without executing (engine.go:389-413). NOTE:
            # Spark's `EXPLAIN` renders analysis errors into its *output*
            # instead of raising, so eager analysis at DataFrame creation
            # is the real validation hook; fuzzy table suggestions added.
            try:
                self.spark.sql(bound).schema  # noqa: B018 — forces analysis
            except QueryValidationError:
                raise
            except Exception as ex:  # AnalysisException and friends
                raise QueryValidationError(self._friendly(str(ex))) from ex
            return bound
        finally:
            if own:
                # standalone validate: release this statement's
                # time-travel references now (execute releases its own
                # AFTER execution, when the views are no longer needed)
                self._release_snapshots(
                    getattr(self._snap_tl, "views", []))
                self._snap_tl.views = []

    def execute(self, sql: str, params: dict[str, Any] | None = None) -> QueryResult:
        self._snap_tl.in_execute = True
        try:
            bound = self.validate(sql, params)
            # timing starts BEFORE the skipping rewrite so predicate
            # mining, plan_skip's file listing, and pruned-view
            # registration show up in the reported duration — planning
            # is part of the query's cost
            t0 = time.perf_counter()
            exec_sql, views = (self._skipping_rewrite(bound)
                               if self._warehouse else (bound, []))
            try:
                df = self.spark.sql(exec_sql)
            finally:
                # resolution happened at DataFrame creation; dropping
                # the one-statement views leaks nothing into the session
                for view in views:
                    self.spark.catalog.dropTempView(view)
            return QueryResult(df=df, sql=bound,
                               duration_s=time.perf_counter() - t0,
                               columns=list(df.columns))
        finally:
            self._snap_tl.in_execute = False
            self._release_snapshots(getattr(self._snap_tl, "views", []))
            self._snap_tl.views = []
            self._gc_snapshots()

    def execute_stream(self, sql: str, params: dict[str, Any] | None = None):
        """Row-iterator execution — the reference's buffered-channel
        streaming path (engine.go:232-365) maps to toLocalIterator, which
        fetches one partition at a time (bounded driver memory)."""
        self._snap_tl.in_execute = True
        try:
            bound = self.validate(sql, params)
            exec_sql, views = (self._skipping_rewrite(bound)
                               if self._warehouse else (bound, []))
            try:
                return self.spark.sql(exec_sql).toLocalIterator()
            finally:
                for view in views:
                    self.spark.catalog.dropTempView(view)
        finally:
            self._snap_tl.in_execute = False
            self._release_snapshots(getattr(self._snap_tl, "views", []))
            self._snap_tl.views = []
            self._gc_snapshots()

    def _friendly(self, msg: str) -> str:
        if _TABLE_ERR_RE.search(msg):
            m = re.search(r"`([A-Za-z_][A-Za-z0-9_]*)`", msg)
            missing = m.group(1) if m else ""
            known = [t.name for t in self.spark.catalog.listTables()]
            tips = difflib.get_close_matches(missing, known, n=3, cutoff=0.5)
            if tips:
                return f"table or view not found: {missing}. Did you mean: {', '.join(tips)}?"
            return f"table or view not found: {missing}. Available: {', '.join(sorted(known))}"
        return msg.splitlines()[0] if msg else "query validation failed"
