"""KQL (Kusto) subset → Spark DataFrame translator.

The reference pushes raw KQL strings to Azure Resource Graph
(``plugins/azure-provider/resource_graph.go``): its shipped queries use
``project`` (:71-78), ``where`` (:152-165,225-259), ``summarize count()/
any()/make_set() by`` (:83-110), ``extend`` with ``split(type,'/')[i]``
(:93-96) / ``extract`` / ``extract_all`` (:134-137), ``mv-expand``
(:136), ``join kind=leftouter`` (:268-280), ``order by``/``limit``
(:74,118) and tag lookups ``tags['k'] == 'v'`` (:243-250).  This module
parses that dialect subset and compiles it onto DataFrames, so the
reference's verbatim query strings run anywhere — no ARG service — the
same way the compliance dialect shim runs its DuckDB pack SQL verbatim.

Spark-first: every stage compiles to declarative DataFrame ops (filter /
select / groupBy / explode / join), so Catalyst still performs pushdown,
pruning and join planning on the translated plan; no UDFs, no driver
loops.

Documented determinism/semantics choices (KQL leaves them loose):
* ``make_set`` returns a *sorted* array (KQL/Spark set order is
  engine-dependent; sorting makes results hash-comparable).
* ``order by`` defaults to **descending**, per KQL. Spark's null
  placement (asc→first, desc→last) matches Kusto's.
* ``contains`` / ``startswith`` / ``endswith`` / ``=~`` / ``has`` are
  case-insensitive, per KQL. ``has`` matches a whole alphanumeric term.
* ``mv-expand`` drops rows whose array is null/empty (ARG behavior for
  the reference's usage, which always guards with ``array_length > 0``).
* ``join`` right-side columns that clash with left names get a ``1``
  suffix, mirroring Kusto's ``col1`` rename.
"""

from __future__ import annotations

import datetime as _datetime
import decimal
import math
import os
import re
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import FractionalType, IntegralType, NumericType
from pyspark.sql.types import StringType as _StringType

from corkscrew_spark import skipping as _skip

__all__ = ["kql_to_df", "KqlError"]


class KqlError(ValueError):
    """Raised for syntax or unsupported-feature errors, with position."""


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<vstring>@'(?:[^'])*'|@"(?:[^"])*")          # verbatim string, no escapes
  | (?P<string>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*") # quoted string, \-escapes
  | (?P<datetime>datetime\(\s*[0-9][^)'"]*\))       # unquoted KQL datetime literal
  | (?P<timespan>(?:\d+\.\d+|\d+)(?:ms|[dhms])(?![A-Za-z0-9_]))  # 1h, 30m, 1.5d
  | (?P<number>\d+\.\d+|\d+)
  | (?P<ident>[$A-Za-z_][A-Za-z0-9_]*)
  | (?P<bangword>![a-z_]+)                          # !contains, !in, ...
  | (?P<op>==|!=|=~|!~|<=|>=|\.\.|[|,()\[\]=<>+\-*/%.:~])
    """,
    re.VERBOSE,
)

_KEYWORD_OPS = {
    "and", "or", "not", "contains", "startswith", "endswith", "has", "in",
    "asc", "desc", "by", "on", "kind",
}


@dataclass
class _Tok:
    kind: str  # 'string' | 'number' | 'ident' | 'op' | 'datetime' | 'timespan'
    text: str
    pos: int


#: timespan unit → seconds (KQL: d/h/m/s/ms)
_TIMESPAN_UNITS = {"d": 86400.0, "h": 3600.0, "m": 60.0, "s": 1.0, "ms": 0.001}


def _timespan_seconds(text: str) -> float:
    m = re.fullmatch(r"(\d+\.\d+|\d+)(ms|[dhms])", text)
    if not m:  # pragma: no cover — tokenizer guarantees the shape
        raise KqlError(f"KQL: bad timespan literal {text!r}")
    return float(m.group(1)) * _TIMESPAN_UNITS[m.group(2)]


def _tokenize(s: str) -> list[_Tok]:
    toks: list[_Tok] = []
    i = 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise KqlError(f"KQL: cannot tokenize at position {i}: {s[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "vstring":
            toks.append(_Tok("string", text[2:-1], m.start()))
        elif kind == "datetime":
            toks.append(_Tok("datetime", text[text.index("(") + 1:-1].strip(),
                             m.start()))
        elif kind == "string":
            body = text[1:-1]
            body = re.sub(r"\\(.)", lambda g: g.group(1), body)
            toks.append(_Tok("string", body, m.start()))
        elif kind == "bangword":
            toks.append(_Tok("op", text, m.start()))
        elif kind == "ident":
            toks.append(_Tok("ident", text, m.start()))
        else:
            toks.append(_Tok(kind, text, m.start()))
    return toks


# ---------------------------------------------------------------------------
# Expression parser (precedence climbing) → Column
# ---------------------------------------------------------------------------

def _lower_eq(a: Column, b: Column) -> Column:
    return F.lower(a.cast("string")) == F.lower(b.cast("string"))


def _has_term(haystack: Column, term: Column,
              cs: bool = False) -> Column:
    """Kusto ``has`` semantics: whole-term match, where a term boundary
    is any non-alphanumeric character (shared by has / !has / has_any /
    has_all). ``cs=True`` is the ``has_cs`` case-sensitive variant."""
    hay = haystack.cast("string") if cs \
        else F.lower(haystack.cast("string"))
    t = term.cast("string") if cs else F.lower(term.cast("string"))
    b = r"[^A-Za-z0-9]" if cs else r"[^a-z0-9]"
    return F.regexp_like(
        hay, F.concat(F.lit(r"(^|" + b + ")"), _regex_quote(t),
                      F.lit(r"($|" + b + ")")))


#: string-literal text Spark's ANSI cast accepts as an integral /
#: fractional number; any other literal compared to a numeric operand
#: fails that cast (CAST_INVALID_INPUT) when the plan runs
_INTEGRAL_TEXT = re.compile(r"\s*[+-]?\d+\s*")
_FRACTIONAL_TEXT = re.compile(
    r"\s*[+-]?(?:(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?[dDfF]?"
    r"|NaN|Infinity)\s*")


class _ExprParser:
    """Parses one KQL scalar/aggregate expression from a token stream."""

    def __init__(self, toks: list[_Tok], start: int = 0,
                 window=None, df: DataFrame | None = None):
        self.toks = toks
        self.i = start
        #: WindowSpec for serialized row functions (row_number/prev/
        #: next/row_cumsum) — set by `extend` when the pipeline has an
        #: in-force `sort by`; None means those functions refuse
        self.window = window
        #: the stage's input frame: comparisons type-check their
        #: operands against it (None: no check)
        self.df = df

    # -- stream helpers ------------------------------------------------------
    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise KqlError("KQL: unexpected end of expression")
        self.i += 1
        return t

    def accept(self, text: str) -> bool:
        t = self.peek()
        if t is not None and t.kind == "op" and t.text == text:
            self.i += 1
            return True
        return False

    def expect(self, text: str) -> None:
        t = self.next()
        if t.kind != "op" or t.text != text:
            raise KqlError(f"KQL: expected {text!r}, got {t.text!r} at {t.pos}")

    # -- grammar -------------------------------------------------------------
    def parse(self) -> Column:
        return self.or_expr()

    def or_expr(self) -> Column:
        left = self.and_expr()
        while self._kw("or"):
            left = left | self.and_expr()
        return left

    def and_expr(self) -> Column:
        left = self.not_expr()
        while self._kw("and"):
            left = left & self.not_expr()
        return left

    def not_expr(self) -> Column:
        if self._kw("not"):
            return ~self.not_expr()
        return self.cmp_expr()

    def _kw(self, word: str) -> bool:
        t = self.peek()
        if t is not None and t.kind == "ident" and t.text.lower() == word:
            self.i += 1
            return True
        return False

    def _type_check(self, col: Column, tok: _Tok | None,
                    literal: str | None) -> None:
        """Kusto rejects a numeric operand compared to a non-numeric
        string literal at compile time; Spark would instead fail the
        literal's ANSI cast when the plan runs. A bare column's type
        comes from the stage input's schema, any other operand's
        (``tok`` None) from ``df.select(col)``: both only analyse, no
        job runs."""
        if literal is None or self.df is None:
            return
        if tok is not None and tok.kind == "ident" \
                and tok.text in self.df.columns:
            dtype = self.df.schema[tok.text].dataType
        else:
            try:
                dtype = self.df.select(col).schema[0].dataType
            except AnalysisException:
                return  # not resolvable here: Spark reports it itself
        text = (_INTEGRAL_TEXT if isinstance(dtype, IntegralType)
                else _FRACTIONAL_TEXT
                if isinstance(dtype, FractionalType) else None)
        if text is not None and not text.fullmatch(literal):
            raise KqlError(
                "KQL: type mismatch in comparison — a numeric operand "
                f"({dtype.simpleString()}) is compared to the "
                f"non-numeric string literal {literal!r}")

    def _operand(self) -> tuple[Column, _Tok | None]:
        """One comparison operand, and its token when it is one token."""
        t = self.peek()
        col = self.add_expr()
        return col, t if self.toks[self.i - 1] is t else None

    def cmp_expr(self) -> Column:
        left, ltok = self._operand()
        t = self.peek()
        if t is None:
            return left
        op = t.text.lower() if t.kind in ("op", "ident") else None
        if op in ("==", "!=", "<", ">", "<=", ">="):
            self.i += 1
            right, rtok = self._operand()
            self._type_check(left, ltok, _lit_str(rtok))
            self._type_check(right, rtok, _lit_str(ltok))
            return {
                "==": left == right, "!=": left != right,
                "<": left < right, ">": left > right,
                "<=": left <= right, ">=": left >= right,
            }[op]
        if op in ("=~", "!~"):
            self.i += 1
            right = self.add_expr()
            eq = _lower_eq(left, right)
            return eq if op == "=~" else ~eq
        if op in ("contains", "!contains", "startswith", "!startswith",
                  "endswith", "!endswith", "has", "!has",
                  "contains_cs", "!contains_cs",
                  "startswith_cs", "!startswith_cs",
                  "endswith_cs", "!endswith_cs",
                  "has_cs", "!has_cs"):
            self.i += 1
            right = self.add_expr()
            base = op.lstrip("!")
            cs = base.endswith("_cs")  # Kusto's case-sensitive family
            root = base[:-3] if cs else base

            def _s(c: Column) -> Column:
                return c.cast("string") if cs \
                    else F.lower(c.cast("string"))

            if root == "contains":
                res = F.instr(_s(left), _s(right)) > 0
            elif root == "startswith":
                res = F.startswith(_s(left), _s(right))
            elif root == "endswith":
                res = F.endswith(_s(left), _s(right))
            else:  # has: whole-term match, term = alphanumeric run
                res = _has_term(left, right, cs=cs)
            return ~res if op.startswith("!") else res
        if op == "matches":
            # `x matches regex '<pat>'` — Kusto's RE2-flavored match;
            # compiled to regexp_like (Java regex: the dialect delta is
            # documented, same as `extract`)
            self.i += 1
            t2 = self.peek()
            if not (t2 is not None and t2.kind == "ident"
                    and t2.text.lower() == "regex"):
                raise KqlError(
                    "KQL: `matches` must be followed by `regex`")
            self.i += 1
            right = self.add_expr()
            return F.regexp_like(left.cast("string"),
                                 right.cast("string"))
        if op == "in" or op == "!in":
            self.i += 1
            ci = False
            t2 = self.peek()
            if t2 is not None and t2.kind == "op" and t2.text == "~":
                ci = True  # in~ / !in~: case-insensitive membership
                self.i += 1
            self.expect("(")
            vals = [self.literal_value()]
            while self.accept(","):
                vals.append(self.literal_value())
            self.expect(")")
            if ci:
                # Kusto's ~ operators are defined over STRINGS only;
                # a numeric literal here would be compared against
                # the column's string RENDERING ('5' never matches a
                # double rendering '5.0'), silently dropping rows —
                # refuse at compile time instead (r10 advice)
                bad = [v for v in vals if not isinstance(v, str)]
                if bad:
                    raise KqlError(
                        "KQL: in~/!in~ is case-insensitive STRING "
                        f"membership; non-string literal(s) {bad!r} "
                        "in the list — use plain in/!in for numeric "
                        "membership")
                res = F.lower(left.cast("string")).isin(
                    [v.lower() for v in vals])
            else:
                for v in vals:
                    if isinstance(v, str):
                        self._type_check(left, ltok, v)
                res = left.isin(vals)
            return ~res if op == "!in" else res
        if op in ("between", "!between"):
            # x between (lo .. hi) — inclusive both ends (Kusto semantics)
            self.i += 1
            self.expect("(")
            lo, lo_tok = self._operand()
            self.expect("..")
            hi, hi_tok = self._operand()
            self.expect(")")
            self._type_check(left, ltok, _lit_str(lo_tok))
            self._type_check(left, ltok, _lit_str(hi_tok))
            res = (left >= lo) & (left <= hi)
            return ~res if op == "!between" else res
        if op in ("has_any", "has_all"):
            # col has_any ('t1', 't2') — whole-term match on any/all terms
            self.i += 1
            self.expect("(")
            vals = [self.literal_value()]
            while self.accept(","):
                vals.append(self.literal_value())
            self.expect(")")
            terms = [_has_term(left, F.lit(str(v))) for v in vals]
            res = terms[0]
            for term in terms[1:]:
                res = (res | term) if op == "has_any" else (res & term)
            return res
        return left

    def literal_value(self):
        t = self.next()
        if t.kind == "string":
            return t.text
        if t.kind == "op" and t.text == "-":  # negative literal in a list
            t = self.next()
            if t is None or t.kind != "number":
                raise KqlError(f"KQL: expected number after '-' in list")
            return -(float(t.text) if "." in t.text else int(t.text))
        if t.kind == "number":
            return float(t.text) if "." in t.text else int(t.text)
        raise KqlError(f"KQL: expected literal in list at {t.pos}")

    def add_expr(self) -> Column:
        left = self.mul_expr()
        while True:
            t = self.peek()
            if t is not None and t.kind == "op" and t.text in ("+", "-"):
                self.i += 1
                right = self.mul_expr()
                left = left + right if t.text == "+" else left - right
            else:
                return left

    def mul_expr(self) -> Column:
        left = self.unary()
        while True:
            t = self.peek()
            if t is not None and t.kind == "op" and t.text in ("*", "/", "%"):
                self.i += 1
                right = self.unary()
                # try_divide/try_mod, not `/`/`%`: under Spark 4's
                # default ANSI mode a SINGLE zero divisor anywhere in
                # the data aborts the whole pipeline mid-job, while
                # Kusto yields null for integer division by zero (r10
                # review). Documented dialect deltas vs Kusto: real
                # division by zero is null here too (Kusto: ±inf/nan),
                # and `/` stays floating-point for long operands
                # (Spark semantics; Kusto truncates long/long).
                left = {"*": left * right,
                        "/": F.try_divide(left, right),
                        "%": F.try_mod(left, right)}[t.text]
            else:
                return left

    def unary(self) -> Column:
        if self.accept("-"):
            return -self.unary()
        return self.postfix()

    def postfix(self) -> Column:
        col = self.primary()
        while True:
            t = self.peek()
            if t is not None and t.kind == "op" and t.text == "[":
                self.i += 1
                idx = self.next()
                # try_element_at: null on out-of-range / missing key (KQL
                # semantics), even under ANSI mode. 1-based, hence the +1.
                if idx.kind == "number" and "." not in idx.text:
                    col = F.try_element_at(col, F.lit(int(idx.text) + 1))
                elif idx.kind == "string":
                    col = F.try_element_at(col, F.lit(idx.text))
                else:
                    raise KqlError(f"KQL: only literal indexes supported at {idx.pos}")
                self.expect("]")
            elif t is not None and t.kind == "op" and t.text == ".":
                self.i += 1
                fld = self.next()
                if fld.kind != "ident":
                    raise KqlError(f"KQL: expected field name at {fld.pos}")
                col = col[fld.text]
            else:
                return col

    def primary(self) -> Column:
        t = self.next()
        if t.kind == "datetime":
            return F.lit(t.text).cast("timestamp")
        if t.kind == "timespan":
            # Timespans surface as their length in seconds; functions that
            # need the *token* (bin, make-series step) read it from `raw`.
            secs = _timespan_seconds(t.text)
            return F.lit(int(secs) if secs == int(secs) else secs)
        if t.kind == "string":
            return F.lit(t.text)
        if t.kind == "number":
            return F.lit(float(t.text) if "." in t.text else int(t.text))
        if t.kind == "op" and t.text == "(":
            inner = self.or_expr()
            self.expect(")")
            return inner
        if t.kind == "ident":
            low = t.text.lower()
            if low == "true":
                return F.lit(True)
            if low == "false":
                return F.lit(False)
            nxt = self.peek()
            if nxt is not None and nxt.kind == "op" and nxt.text == "(":
                self.i += 1
                args: list[Column] = []
                raw: list[_Tok | None] = []
                if not self.accept(")"):
                    while True:
                        start = self.i
                        first = self.peek()
                        args.append(self.or_expr())
                        # raw carries the token ONLY when the arg IS
                        # that one token (r11 review 3: literal-
                        # contract functions read raw[i] and silently
                        # truncated multi-token args to their first
                        # token — bag_pack('k_' + x, v) emitted the
                        # constant key 'k_'; a multi-token arg now
                        # reads as None, so every literal contract
                        # fails loud instead)
                        if self.i == start + 1:
                            raw.append(first)
                        elif (self.i == start + 2
                              and first is not None
                              and first.kind == "op" and first.text == "-"
                              and self.toks[start + 1].kind == "number"):
                            # negative numeric literal (`-1`) is two
                            # tokens; literal-contract functions like
                            # round(x, -1) still need to see it as one
                            # number token (r11 ADVICE)
                            raw.append(_Tok(
                                "number",
                                "-" + self.toks[start + 1].text,
                                first.pos))
                        else:
                            raw.append(None)
                        if not self.accept(","):
                            break
                    self.expect(")")
                if low in ("row_number", "prev", "next", "row_cumsum"):
                    return self._serialized_call(low, args, raw, t.pos)
                return _call(low, args, raw, t.pos)
            return F.col(t.text)
        raise KqlError(f"KQL: unexpected token {t.text!r} at {t.pos}")

    def _serialized_call(self, name: str, args: list[Column],
                         raw: list[_Tok | None], pos: int) -> Column:
        """Kusto's serialized row functions. They need a row order, so
        they compile only where the pipeline has one in force (an
        `extend` after `sort by` — see `_StageCompiler._extend`):

        * ``row_number([start])`` → ``F.row_number`` (+ start − 1)
        * ``prev(col [, offset])`` / ``next(col [, offset])`` →
          ``F.lag`` / ``F.lead`` (a third default argument wraps in
          ``coalesce`` so any expression works as the default)
        * ``row_cumsum(expr)`` → running ``F.sum`` over
          unbounded-preceding…current

        The restart arguments (``row_number(start, restart)``,
        ``row_cumsum(term, restart)``) are refused with the standard
        rewrite: restart is equivalent to cumulative-summing the
        restart indicator first (`grp = row_cumsum(iff(restart,1,0))`)
        and grouping on it — the shape that also distributes."""
        if self.window is None:
            raise KqlError(
                f"KQL: {name}() needs a serialized input — use it in "
                "an `extend` AFTER `sort by` (inside `partition by "
                "Col ( sort by … | extend … )` for a per-key window) "
                f"at {pos}")
        n = len(args)
        w = self.window
        if name == "row_number":
            if n > 1:
                raise KqlError(
                    "KQL: row_number(start, restart) restart is not "
                    "supported — rewrite as grp = row_cumsum("
                    "iff(restart, 1, 0)) and group on grp; it "
                    f"distributes, restart cannot (at {pos})")
            rn = F.row_number().over(w)
            if n == 1:
                start = _lit_int(raw[0], pos, "row_number start")
                rn = rn + F.lit(start - 1)
            return rn
        if name in ("prev", "next"):
            if n < 1 or n > 3:
                raise KqlError(
                    f"KQL: {name}(col [, offset [, default]]) takes "
                    f"1-3 arguments at {pos}")
            off = 1
            if n >= 2:
                off = _lit_int(raw[1], pos, f"{name} offset", lo=1)
            fn = F.lag if name == "prev" else F.lead
            col = fn(args[0], off).over(w)
            if n == 3:
                # Kusto substitutes the default ONLY when the offset
                # row does not exist — a null VALUE in an existing
                # row stays null, so coalesce would be wrong (r12
                # review); an always-non-null marker lagged the same
                # distance distinguishes the two cases
                exists = fn(F.lit(True), off).over(w)
                col = F.when(exists.isNull(), args[2]).otherwise(col)
            return col
        # row_cumsum
        if n != 1:
            raise KqlError(
                "KQL: row_cumsum(term, restart) restart is not "
                "supported — rewrite as grp = row_cumsum(iff("
                "restart, 1, 0)) and sum within grp; it distributes, "
                f"restart cannot (at {pos})")
        return F.sum(args[0]).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))


def _regex_quote(c: Column) -> Column:
    """Escape regex metacharacters in a column value (for rlike building)."""
    return F.regexp_replace(c, F.lit(r"([.^$*+?()\[\]{}|\\])"), F.lit(r"\\$1"))


def _lit_str(tok: _Tok | None) -> str | None:
    return tok.text if tok is not None and tok.kind == "string" else None


def _lit_int(tok: _Tok | None, pos: int, what: str,
             lo: int | None = None, hi: int | None = None) -> int:
    """An INTEGER literal argument, loud on anything else — fractional
    or exponent forms (`2.5`, `1e1`) and out-of-range values would
    otherwise escape as raw ValueError / runtime ANSI errors (r12
    review: the unary-minus raw synthesis made negative literals reach
    every numeric contract, so each needs its own range)."""
    if tok is None or tok.kind != "number" \
            or not re.fullmatch(r"-?\d+", tok.text):
        raise KqlError(
            f"KQL: {what} must be an integer literal at {pos}")
    v = int(tok.text)
    if (lo is not None and v < lo) or (hi is not None and v > hi):
        rng = (f">= {lo}" if hi is None else
               f"<= {hi}" if lo is None else f"in [{lo}, {hi}]")
        raise KqlError(f"KQL: {what} must be {rng}, got {v} at {pos}")
    return v


def _call(name: str, args: list[Column], raw: list[_Tok | None], pos: int) -> Column:
    """Compile a KQL function call. `raw` holds the first token of each arg
    (so literal-only contracts — regexes, delimiters — can be enforced)."""
    n = len(args)
    if name == "count" and n == 0:
        return F.count(F.lit(1))
    if name == "countif" and n == 1:
        return F.sum(F.when(args[0], 1).otherwise(0))
    if name == "dcount" and n == 1:
        return F.count_distinct(args[0])
    if name == "dcountif" and n == 2:
        return F.count_distinct(F.when(args[1], args[0]))
    if name in ("sum", "avg", "min", "max") and n == 1:
        return getattr(F, name)(args[0])
    if name in ("sumif", "avgif", "minif", "maxif") and n == 2:
        return getattr(F, name[:-2])(F.when(args[1], args[0]))
    if name in ("arg_max", "arg_min") and n == 2:
        # KQL arg_max(maximized, returned) ↔ Spark max_by(returned, ord)
        fn = F.max_by if name == "arg_max" else F.min_by
        return fn(args[1], args[0])
    if name == "percentile" and n == 2:
        p = raw[1]
        if p is None or p.kind != "number" \
                or not (0.0 <= float(p.text) <= 100.0):
            raise KqlError(
                f"KQL: percentile(col, p) needs a literal p in "
                f"[0, 100] at {pos}")
        return F.percentile(args[0], F.lit(float(p.text) / 100.0))
    if name == "case":
        if n < 3 or n % 2 == 0:
            raise KqlError(
                f"KQL: case() needs pred1, val1, ..., default (odd ≥3 args) at {pos}")
        col = F.when(args[0], args[1])
        for j in range(2, n - 1, 2):
            col = col.when(args[j], args[j + 1])
        return col.otherwise(args[-1])
    if name == "any" and n == 1:
        return F.first(args[0], ignorenulls=True)
    if name == "make_list" and n == 1:
        return F.collect_list(args[0])
    if name == "make_set" and n in (1, 2):
        s = F.array_sort(F.collect_set(args[0]))  # sorted: deterministic
        if n == 2:
            s = F.slice(s, 1, _lit_int(raw[1], pos,
                                       "make_set cap", lo=1))
        return s
    if name == "split" and n == 2:
        delim = _lit_str(raw[1])
        if delim is None:
            raise KqlError(f"KQL: split() delimiter must be a literal at {pos}")
        return F.split(args[0].cast("string"), re.escape(delim))
    if name == "extract" and n == 3:
        pat = _lit_str(raw[0])
        if pat is None:
            raise KqlError(
                f"KQL: extract(regex, group, text) needs a literal "
                f"regex at {pos}")
        grp = _lit_int(raw[1], pos, "extract() capture group", lo=0)
        got = F.regexp_extract(args[2].cast("string"), pat, grp)
        return F.when(got != "", got)  # KQL yields null on no-match, not ''
    if name == "extract_all" and n == 2:
        pat = _lit_str(raw[0])
        if pat is None:
            raise KqlError(f"KQL: extract_all(regex, text) literal regex required at {pos}")
        # KQL: with a capture group, returns the group; else whole matches.
        grp = 1 if re.compile(pat).groups >= 1 else 0
        return F.regexp_extract_all(args[1].cast("string"), F.lit(pat), grp)
    if name == "tostring" and n == 1:
        return args[0].cast("string")
    if name in ("toint", "tolong", "todouble", "tobool") and n == 1:
        # try_cast, not cast: Kusto conversion functions return null on
        # malformed input; Spark 4's default ANSI cast would abort the
        # job on the first bad row (r10 review)
        return args[0].try_cast({"toint": "int", "tolong": "long",
                                 "todouble": "double",
                                 "tobool": "boolean"}[name])
    if name in ("tolower", "toupper", "trim", "abs", "floor", "round") and n == 1:
        fn = {"tolower": F.lower, "toupper": F.upper, "trim": F.trim,
              "abs": F.abs, "floor": F.floor, "round": F.round}[name]
        return fn(args[0])
    if name == "round" and n == 2:
        return F.round(args[0],
                       _lit_int(raw[1], pos, "round() precision"))
    if name == "ceiling" and n == 1:
        return F.ceil(args[0])
    if name == "strlen" and n == 1:
        return F.length(args[0].cast("string"))
    if name == "strcat":
        return F.concat(*[a.cast("string") for a in args])
    if name == "strcat_delim" and n >= 2:
        delim = _lit_str(raw[0])
        if delim is None:
            raise KqlError(f"KQL: strcat_delim delimiter must be a literal at {pos}")
        return F.concat_ws(delim, *[a.cast("string") for a in args[1:]])
    if name == "indexof" and n == 2:
        sub = _lit_str(raw[1])
        if sub is None:
            raise KqlError(f"KQL: indexof search term must be a literal at {pos}")
        return F.instr(args[0].cast("string"), sub) - 1  # KQL 0-based, -1 miss
    if name == "reverse" and n == 1:
        return F.reverse(args[0].cast("string"))
    if name == "hash" and n == 1:
        return F.xxhash64(args[0])
    if name == "substring" and n in (2, 3):
        start = args[1] + 1  # KQL 0-based → SQL 1-based
        if n == 2:
            return F.substring(args[0].cast("string"), start, F.lit(1 << 30))
        return F.substring(args[0].cast("string"), start, args[2])
    if name == "replace_string" and n == 3:
        return F.replace(args[0].cast("string"), args[1].cast("string"),
                         args[2].cast("string"))
    if name == "array_length" and n == 1:
        return F.size(args[0])
    if name == "isnotempty" and n == 1:
        return args[0].isNotNull() & (args[0].cast("string") != "")
    if name == "isempty" and n == 1:
        return args[0].isNull() | (args[0].cast("string") == "")
    if name == "isnull" and n == 1:
        return args[0].isNull()
    if name == "isnotnull" and n == 1:
        return args[0].isNotNull()
    if name == "todatetime" and n == 1:
        return args[0].try_cast("timestamp")  # Kusto: null on bad input
    if name == "toreal" and n == 1:
        return args[0].try_cast("double")  # Kusto: null on bad input
    if name == "datetime" and n == 1:
        # quoted form datetime('2015-03-01T00:00:00Z'); string→timestamp
        # cast accepts ISO 8601 (incl. 'T'/'Z'), unlike to_timestamp's
        # fixed default pattern.
        return args[0].cast("timestamp")
    if name in ("iff", "iif") and n == 3:
        return F.when(args[0], args[1]).otherwise(args[2])
    if name == "coalesce":
        return F.coalesce(*args)
    if name == "bin" and n == 2:
        if raw[1] is not None and raw[1].kind == "timespan":
            # datetime bin: epoch-aligned buckets of the timespan width.
            # Sub-second timespans would truncate (unix_timestamp is whole
            # seconds); keep the contract honest.
            secs = _timespan_seconds(raw[1].text)
            if secs < 1 or secs != int(secs):
                raise KqlError(f"KQL: bin() timespan must be whole seconds at {pos}")
            secs_l = int(secs)
            return F.timestamp_seconds(
                F.floor(F.unix_timestamp(args[0]) / secs_l) * secs_l)
        return F.floor(args[0] / args[1]) * args[1]
    if name == "datetime_diff" and n == 3:
        period = _lit_str(raw[0])
        widths = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
                  "week": 604800}
        if period not in widths:
            raise KqlError(
                f"KQL: datetime_diff period must be one of {sorted(widths)} at {pos}")
        w = widths[period]
        # KQL counts period *boundaries crossed* between d2 and d1.
        # Weeks start SUNDAY in Kusto: shift the epoch origin to
        # 1969-12-28 (the Sunday before it) so buckets align on
        # Sundays, not on the epoch's Thursday.
        shift = 345600 if period == "week" else 0
        return (F.floor((F.unix_timestamp(args[1]) + shift) / w)
                - F.floor((F.unix_timestamp(args[2]) + shift) / w)).cast("long")
    if name == "startofday" and n == 1:
        return F.date_trunc("day", args[0])
    if name == "startofmonth" and n == 1:
        return F.date_trunc("month", args[0])
    if name == "startofyear" and n == 1:
        return F.date_trunc("year", args[0])
    if name == "startofweek" and n == 1:
        # KQL weeks start on Sunday; Spark's date_trunc('week') is Monday.
        return F.to_timestamp(F.date_sub(F.to_date(args[0]), F.dayofweek(args[0]) - 1))
    if name in ("monthofyear", "getmonth") and n == 1:
        return F.month(args[0])
    if name == "dayofmonth" and n == 1:
        return F.dayofmonth(args[0])
    if name == "getyear" and n == 1:
        return F.year(args[0])
    if name == "hourofday" and n == 1:
        return F.hour(args[0])
    if name == "format_datetime" and n == 2:
        fmt = _lit_str(raw[1])
        if fmt is None:
            raise KqlError(f"KQL: format_datetime format must be literal at {pos}")
        return F.date_format(args[0], fmt)  # KQL yyyy/MM/dd/HH/mm/ss = Java
    if name == "now" and n == 0:
        return F.current_timestamp()
    if name == "ago" and n == 1:
        # ago(1d) — the universal dashboard window filter. The WHOLE
        # argument expression feeds the interval (timespan literals
        # already evaluate to seconds), so `ago(1d + 12h)` and
        # `ago(2 * 1h)` are exact (r11 review: reading only the first
        # token silently truncated compound timespans). A literal arg
        # constant-folds, keeping the predicate scan-pushable. The
        # natural typo ago('1h') — a QUOTED timespan — would cast to
        # null and silently drop every row: refuse it at compile.
        if raw[0] is not None and raw[0].kind == "string":
            raise KqlError(
                f"KQL: ago() takes a timespan (1d, 12h, 90), not a "
                f"string literal — drop the quotes at {pos}")
        return (F.current_timestamp()
                - F.make_dt_interval(secs=args[0].cast("double")))
    if name == "dayofweek" and n == 1:
        # days since Sunday, 0-6. Dialect delta: Kusto returns a
        # TIMESPAN (0d..6d); the integer day count is its value.
        return (F.dayofweek(args[0]) - 1).cast("int")
    if name == "endofday" and n == 1:
        # last representable instant of the day (Spark's tick is the
        # microsecond; Kusto's is 100ns — same day boundary)
        return (F.date_trunc("day", args[0])
                + F.expr("INTERVAL '1' DAY")
                - F.expr("INTERVAL '1' MICROSECOND"))
    if name in ("parse_json", "todynamic") and n == 1:
        # the compiler's dynamic representation is a JSON string;
        # parse_json lifts it to map<string,string> so property
        # access (x['k'] / x.k) compiles to getItem — flat bags only
        # (nested objects: use bag_unpack / get_json_object patterns)
        return F.from_json(args[0].cast("string"),
                           "map<string,string>")
    if name in ("bag_pack", "pack") and n >= 2 and n % 2 == 0:
        # construct a dynamic (JSON-string) bag. LITERAL keys (the
        # Kusto norm) compile to a STRUCT so each value keeps its own
        # JSON scalar type — create_map would coerce mixed values to
        # a common type (stringifying numbers) or refuse outright
        # under ANSI (r11 review). Computed keys fall back to the
        # map with string values, documented.
        keys = [_lit_str(raw[i]) for i in range(0, n, 2)]
        if all(k is not None for k in keys):
            # duplicate literal keys: LAST WINS, matching both Kusto
            # and create_map's dedup policy (r11 review 3: duplicate
            # struct fields emitted invalid duplicate-key JSON)
            dedup: dict[str, Column] = {}
            for i, k in enumerate(keys):
                dedup[k] = args[2 * i + 1]
            # keep null-valued fields: Kusto emits {"k":null}, but
            # to_json drops null struct fields by default (r11
            # ADVICE — bag_pack('k', nullexpr) rendered '{}')
            return F.to_json(
                F.struct(*[v.alias(k) for k, v in dedup.items()]),
                options={"ignoreNullFields": "false"})
        # computed keys: map path — KEYS stringify, values keep their
        # type (homogeneous value sets stay JSON numbers; mixed-type
        # values are a create_map type error, use literal keys)
        return F.to_json(F.create_map(
            *[a.cast("string") if i % 2 == 0 else a
              for i, a in enumerate(args)]))
    # ---- r12 scalar-function widening (each mapping one-to-one onto
    # a JVM builtin; literal contracts where Kusto's own signature
    # takes constants) --------------------------------------------------
    if name in ("exp", "sqrt", "log10", "log2", "sign") and n == 1:
        fn = {"exp": F.exp, "sqrt": F.sqrt, "log10": F.log10,
              "log2": F.log2, "sign": F.signum}[name]
        return fn(args[0])
    if name == "log" and n == 1:
        return F.log(args[0])  # Kusto log() is the natural log
    if name == "pow" and n == 2:
        return F.pow(args[0], args[1])
    if name == "min_of":
        if n < 2:
            raise KqlError(f"KQL: min_of needs >= 2 args at {pos}")
        return F.least(*args)
    if name == "max_of":
        if n < 2:
            raise KqlError(f"KQL: max_of needs >= 2 args at {pos}")
        return F.greatest(*args)
    if name == "strcmp" and n == 2:
        a, b = args[0].cast("string"), args[1].cast("string")
        return F.when(a < b, -1).when(a > b, 1) \
            .when(a == b, 0).cast("int")  # null operand → null (Kusto)
    if name == "dayofyear" and n == 1:
        return F.dayofyear(args[0])
    if name == "replace_regex" and n == 3:
        pat = _lit_str(raw[1])
        rewrite = _lit_str(raw[2])
        if pat is None or rewrite is None:
            raise KqlError(
                f"KQL: replace_regex pattern and rewrite must be "
                f"literals at {pos}")
        # Java regex, not RE2 — same documented dialect delta as
        # `matches regex` / extract. Kusto capture refs are \1, Java's
        # are $1; a literal '$' (or stray backslash) in the rewrite is
        # a group reference to Java and would crash mid-job — escape
        # them while translating (r12 review)
        out = []
        j = 0
        after_ref = False  # a digit right after $N would extend the
        #                    group number greedily in Java (\1 then
        #                    literal '2' must not become $12 → group
        #                    12) — escape it (r12 review 3)
        while j < len(rewrite):
            ch = rewrite[j]
            if ch == "\\" and j + 1 < len(rewrite) \
                    and rewrite[j + 1].isdigit():
                out.append("$" + rewrite[j + 1])
                j += 2
                after_ref = True
                continue
            if ch == "\\":
                out.append("\\\\")
            elif ch == "$":
                out.append("\\$")
            elif after_ref and ch.isdigit():
                out.append("\\" + ch)
            else:
                out.append(ch)
            after_ref = False
            j += 1
        return F.regexp_replace(args[0].cast("string"), pat,
                                "".join(out))
    if name in ("trim_start", "trim_end") and n == 2:
        # Kusto: remove the LEADING/TRAILING match of the regex
        pat = _lit_str(raw[0])
        if pat is None:
            raise KqlError(
                f"KQL: {name} regex must be a literal at {pos}")
        anchored = f"^(?:{pat})" if name == "trim_start" \
            else f"(?:{pat})$"
        return F.regexp_replace(args[1].cast("string"), anchored, "")
    if name == "countof" and n in (2, 3):
        term = _lit_str(raw[1])
        if term is None:
            raise KqlError(
                f"KQL: countof search term must be a literal at {pos}")
        if term == "":
            raise KqlError(
                f"KQL: countof search term must be non-empty at {pos}")
        kind = "normal"
        if n == 3:
            kind = (_lit_str(raw[2]) or "").lower()
            if kind not in ("normal", "regex"):
                raise KqlError(
                    f"KQL: countof kind must be 'normal' or 'regex' "
                    f"at {pos}")
        # Kusto: plain-string matches MAY OVERLAP ('aaa' countof 'aa'
        # = 2), regex matches don't (r12 review) — a zero-width
        # lookahead counts every start position for the plain kind
        pat = term if kind == "regex" \
            else f"(?={re.escape(term)})"
        return F.regexp_count(args[0].cast("string"), F.lit(pat))
    if name == "pack_array":
        return F.array(*args)
    if name == "array_concat" and n >= 2:
        return F.concat(*args)
    if name in ("array_sort_asc", "array_sort_desc") and n == 1:
        # Kusto places nulls LAST for both directions (nulls_last
        # defaults true); Spark's sort_array puts them first on asc —
        # sort the non-nulls, append the nulls (r12 review)
        nonnull = F.sort_array(
            F.filter(args[0], lambda x: x.isNotNull()),
            asc=name.endswith("_asc"))
        return F.concat(nonnull,
                        F.filter(args[0], lambda x: x.isNull()))
    if name == "array_index_of" and n == 2:
        # Kusto is 0-based with -1 on miss; array_position is 1-based
        # with 0 on miss — the off-by-one cancels exactly
        return (F.array_position(args[0], args[1]) - 1).cast("long")
    if name == "array_slice" and n == 3:
        # Kusto 0-based inclusive [start, end]; negative indices count
        # from the end — normalize BOTH against the length so mixed
        # signs (array_slice(x, 0, -1) = whole array) work
        sz = F.size(args[0])
        s = F.when(args[1] >= 0, args[1]).otherwise(sz + args[1])
        e = F.when(args[2] >= 0, args[2]).otherwise(sz + args[2])
        s = F.greatest(s, F.lit(0))
        return F.slice(args[0], s + 1, F.greatest(e - s + 1, F.lit(0)))
    if name == "repeat" and n == 2:
        return F.array_repeat(args[0],
                              _lit_int(raw[1], pos, "repeat count",
                                       lo=0))
    if name == "hash_sha256" and n == 1:
        return F.sha2(args[0].cast("string"), 256)
    if name == "hash_md5" and n == 1:
        return F.md5(args[0].cast("string"))
    if name == "base64_encode_tostring" and n == 1:
        return F.base64(args[0].cast("string").cast("binary"))
    if name == "base64_decode_tostring" and n == 1:
        return F.unbase64(args[0].cast("string")).cast("string")
    if name == "make_datetime" and n in (3, 6):
        if n == 3:
            return F.make_timestamp(args[0], args[1], args[2],
                                    F.lit(0), F.lit(0), F.lit(0))
        return F.make_timestamp(*args)
    if name == "unixtime_seconds_todatetime" and n == 1:
        return F.timestamp_seconds(args[0])
    if name == "datetime_add" and n == 3:
        period = _lit_str(raw[0])
        kwname = {"year": "years", "month": "months", "week": "weeks",
                  "day": "days", "hour": "hours", "minute": "mins",
                  "second": "secs"}
        if period not in kwname:
            raise KqlError(
                f"KQL: datetime_add period must be one of "
                f"{sorted(kwname)} at {pos}")
        return args[2] + F.make_interval(
            **{kwname[period]: args[1].cast("int")})
    if name == "parse_ipv4" and n == 1:
        # dotted-quad → signed long (Kusto returns null on bad input)
        octs = F.split(args[0].cast("string"), r"\.")
        valid = (F.size(octs) == 4) & F.forall(
            octs, lambda o: o.rlike("^[0-9]{1,3}$")
            & (o.cast("long") <= 255))
        val = (octs[0].cast("long") * 16777216
               + octs[1].cast("long") * 65536
               + octs[2].cast("long") * 256 + octs[3].cast("long"))
        return F.when(valid, val)
    if name == "parse_url" and n == 1:
        # Kusto returns a dynamic with named parts; this dialect's
        # dynamics are flat string maps, so property access
        # (parse_url(u).Host / ['Host']) compiles through getItem
        u = args[0].cast("string")
        return F.create_map(
            F.lit("Scheme"), F.parse_url(u, F.lit("PROTOCOL")),
            F.lit("Host"), F.parse_url(u, F.lit("HOST")),
            F.lit("Port"), F.parse_url(u, F.lit("PORT")),
            F.lit("Path"), F.parse_url(u, F.lit("PATH")),
            F.lit("Query String"), F.parse_url(u, F.lit("QUERY")),
            F.lit("Fragment"), F.parse_url(u, F.lit("REF")))
    if name == "bag_keys" and n == 1:
        # takes a DYNAMIC (this dialect's parse_json map), exactly
        # like Kusto (bag_keys over a raw string is a type error
        # there too — wrap in parse_json first); sorted for
        # determinism (Kusto's key order is unspecified)
        return F.array_sort(F.map_keys(args[0]))
    if name == "take_any" and n == 1:
        return F.first(args[0], ignorenulls=True)  # alias of any()
    if name in ("variance", "stdev") and n == 1:
        # Kusto variance/stdev are the SAMPLE estimators
        fn = F.var_samp if name == "variance" else F.stddev_samp
        return fn(args[0])
    raise KqlError(f"KQL: unsupported function {name}({n} args) at {pos}")


# ---------------------------------------------------------------------------
# Pipeline parsing
# ---------------------------------------------------------------------------

def _split_on_top_level(query: str, sep: str,
                        keep_empty: bool = False) -> list[str]:
    """Split on a top-level separator char (ignoring ones inside
    strings/parens/brackets). ``keep_empty`` preserves blank slots
    (the datatable body needs them to error loudly rather than let
    a stray comma shift values across columns — r11 ADVICE)."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    verbatim = False  # @'...' strings have NO escapes (match the tokenizer)
    start = 0
    i = 0
    while i < len(query):
        ch = query[i]
        if quote is not None:
            if (ch == "\\" and not verbatim and quote in "'\""
                    and i + 1 < len(query)):
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            verbatim = i > 0 and query[i - 1] == "@"
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(query[start:i])
            start = i + 1
        i += 1
    parts.append(query[start:])
    if keep_empty:
        return [s.strip() for s in parts]
    return [s.strip() for s in parts if s.strip()]


def _split_top_commas(s: str) -> list[str]:
    return _split_on_top_level(s, ",")


def _split_stages(query: str) -> list[str]:
    """Split on top-level '|' (ignoring pipes inside strings/parens)."""
    return _split_on_top_level(query, "|")


def _split_statements(query: str) -> list[str]:
    """Split on top-level ';' — `let Name = …;` statements before the
    final tabular expression (semicolons inside strings/parens never
    split)."""
    return _split_on_top_level(query, ";")


#: externaldata file formats this compiler reads (Kusto's long tail —
#: avro, orc, w3clogfile, … — is out of dialect here)
_EXTERNALDATA_FORMATS = ("csv", "tsv", "json", "parquet")


def _parse_externaldata(rest: str, exact: bool = False):
    """Parse ``(Col:type, …) ['path', …] [with (format='csv',
    ignoreFirstRecord=true)]`` — the tail of an ``externaldata`` head.
    Returns ``(cols, paths, fmt, header)`` where ``cols`` is
    ``[(name, kusto_type), …]``. ``exact`` requires the spec to consume
    the whole text (the compiler's head stage); the governor's scanner
    parses a prefix (the query continues with later stages)."""
    toks = _tokenize(rest)
    n = len(toks)
    i = 0

    def _want(text: str, what: str) -> None:
        nonlocal i
        if i >= n or toks[i].text != text:
            got = toks[i].text if i < n else "<end>"
            raise KqlError(
                f"KQL: externaldata expected {text!r} {what}, "
                f"got {got!r}")
        i += 1

    _want("(", "to open the schema")
    cols: list[tuple[str, str]] = []
    while True:
        if i + 2 >= n or toks[i].kind != "ident" \
                or toks[i + 1].text != ":" \
                or toks[i + 2].kind != "ident":
            raise KqlError(
                "KQL: externaldata schema needs `Name:type` columns")
        kt = toks[i + 2].text.lower()
        if kt not in _StageCompiler._DATATABLE_TYPES:
            raise KqlError(
                f"KQL: unsupported externaldata type {kt!r} (have: "
                f"{sorted(_StageCompiler._DATATABLE_TYPES)})")
        cols.append((toks[i].text, kt))
        i += 3
        if i < n and toks[i].text == ",":
            i += 1
            continue
        break
    _want(")", "to close the schema")
    _want("[", "to open the path list")
    paths: list[str] = []
    while i < n and toks[i].kind == "string":
        paths.append(toks[i].text)
        i += 1
        if i < n and toks[i].text == ",":
            i += 1
        elif i < n and toks[i].kind == "string":
            raise KqlError(
                "KQL: externaldata paths must be comma-separated")
    if not paths:
        raise KqlError(
            "KQL: externaldata needs at least one quoted path in [ ]")
    _want("]", "to close the path list")
    dup = {nm for nm in (c[0] for c in cols)
           if [c[0] for c in cols].count(nm) > 1}
    if dup:
        raise KqlError(
            f"KQL: externaldata declares duplicate column(s) "
            f"{sorted(dup)}")
    fmt, header, header_given = "csv", False, False
    if i < n and toks[i].kind == "ident" \
            and toks[i].text.lower() == "with":
        i += 1
        _want("(", "after with")
        while True:
            if i + 2 >= n or toks[i].kind != "ident" \
                    or toks[i + 1].text != "=":
                raise KqlError(
                    "KQL: externaldata with(…) needs `name = value`")
            key = toks[i].text.lower()
            val = toks[i + 2]
            i += 3
            if key == "format":
                if val.kind != "string" \
                        or val.text.lower() not in _EXTERNALDATA_FORMATS:
                    raise KqlError(
                        f"KQL: externaldata format must be one of "
                        f"{list(_EXTERNALDATA_FORMATS)}, got "
                        f"{val.text!r}")
                fmt = val.text.lower()
            elif key == "ignorefirstrecord":
                if val.kind != "ident" \
                        or val.text.lower() not in ("true", "false"):
                    raise KqlError(
                        "KQL: ignoreFirstRecord must be true or false")
                header = val.text.lower() == "true"
                header_given = True
            else:
                raise KqlError(
                    f"KQL: unknown externaldata option {key!r} "
                    "(have: format, ignoreFirstRecord)")
            if i < n and toks[i].text == ",":
                i += 1
                continue
            break
        _want(")", "to close with(…)")
    if header_given and fmt not in ("csv", "tsv"):
        # silently ignoring an option the user spelled out is the
        # silent-divergence class this dialect refuses everywhere
        raise KqlError(
            f"KQL: ignoreFirstRecord has no meaning for "
            f"format={fmt!r} (csv/tsv only)")
    if exact and i != n:
        raise KqlError(
            f"KQL: trailing tokens after externaldata spec: "
            f"{toks[i].text!r}")
    return cols, paths, fmt, header


def _externaldata_roots_effective(roots: list[str] | None) -> list[str]:
    """The allow-list the compiler will enforce: the explicit argument,
    else CORKSCREW_EXTERNALDATA_ROOTS (os.pathsep-separated)."""
    if roots is not None:
        return list(roots)
    env = os.environ.get("CORKSCREW_EXTERNALDATA_ROOTS", "")
    return [r for r in env.split(os.pathsep) if r]


def _externaldata_path_allowed(path: str, roots: list[str]) -> bool:
    rp = os.path.realpath(path)
    return any(rp == rr or rp.startswith(rr + os.sep)
               for rr in (os.path.realpath(r) for r in roots))


def externaldata_bytes(paths: list[str]) -> int:
    """Total on-disk bytes behind an externaldata read — the governed
    estimate (no column pruning for raw files: the read costs what
    the files weigh). Directories walk recursively; missing paths
    count zero (the compiler raises its own clean error for them)."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                for nm in names:
                    try:
                        total += os.path.getsize(os.path.join(root, nm))
                    except OSError:
                        pass
        else:
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return total


#: `let Name = <body>` statement head (Kusto's binding statement).
_LET_RE = re.compile(r"\s*let\s+([A-Za-z_]\w*)\s*=\s*(.*)$",
                     re.DOTALL | re.IGNORECASE)


def _scalar_let_source(body: str) -> str | None:
    """The literal's source text when ``body`` is a single SCALAR
    literal — number, string, ``datetime(…)``, timespan, true/false,
    or a negated number — else None (a tabular let). Scalar lets
    substitute lexically into later statements; anything fancier
    (computed scalars, functions) is out of dialect and falls through
    to the tabular path, whose compile error names the head."""
    try:
        toks = _tokenize(body)
    except KqlError:
        return None
    if len(toks) == 1 and toks[0].kind in (
            "number", "string", "datetime", "timespan"):
        return body.strip()
    if (len(toks) == 1 and toks[0].kind == "ident"
            and toks[0].text.lower() in ("true", "false")):
        return body.strip()
    if (len(toks) == 2 and toks[0].kind == "op" and toks[0].text == "-"
            and toks[1].kind == "number"):
        return body.strip()
    return None


def _apply_scalar_lets(text: str, subs: list[tuple[str, str]]) -> str:
    """Token-aware substitution of scalar-let names: only bare IDENT
    tokens replace (never text inside string literals, never dotted
    tails like ``$left.name``, never function-call heads), spliced
    right-to-left so positions stay valid. Name matching is
    case-sensitive like Kusto identifiers. A let name used as an
    assignment TARGET later (``extend cutoff = …``) substitutes too
    and fails the stage parse loudly — Kusto likewise rejects the
    collision, never silently shadows."""
    if not subs:
        return text
    try:
        toks = _tokenize(text)
    except KqlError:
        return text  # the compile of the raw text will error loudly
    repl = dict(subs)
    edits: list[tuple[int, int, str]] = []
    for i, t in enumerate(toks):
        if t.kind != "ident" or t.text not in repl:
            continue
        if i > 0 and toks[i - 1].kind == "op" \
                and toks[i - 1].text == ".":
            continue  # dotted tail: $left.name, not the let
        if i + 1 < len(toks) and toks[i + 1].kind == "op" \
                and toks[i + 1].text == "(":
            continue  # function-call head, not the let
        edits.append((t.pos, t.pos + len(t.text), repl[t.text]))
    for s, e, r in sorted(edits, reverse=True):
        text = text[:s] + r + text[e:]
    return text


#: `materialize( … )` / `toscalar( … )` wrappers around a let body.
_LET_WRAP_RE = re.compile(
    r"\s*(materialize|toscalar)\s*\((.*)\)\s*$",
    re.DOTALL | re.IGNORECASE)


def _unwrap_let_body(body: str) -> tuple[str | None, str]:
    """(wrapper|None, inner) for `materialize(…)`/`toscalar(…)` let
    bodies — only when the parens really close at the END (a body
    like `toscalar(T | count) + 1` must not unwrap). The depth scan
    runs over tokens, so a paren inside a string literal never counts
    (`materialize(T | where s contains ')')` unwraps)."""
    m = _LET_WRAP_RE.match(body)
    if not m:
        return None, body
    depth = 0
    try:
        for t in _tokenize(m.group(2)):  # reject `toscalar(A) … (B)`
            if t.kind == "op" and t.text in ("(", ")"):
                depth += 1 if t.text == "(" else -1
                if depth < 0:
                    return None, body
    except KqlError:
        pass  # the inner compile reports it
    return m.group(1).lower(), m.group(2).strip()


def _scalar_to_literal_src(v) -> str:
    """Render a collected scalar as KQL literal SOURCE text that
    re-tokenizes to the same value — the bridge from `toscalar(…)`'s
    driver-side result back into lexical substitution. Floats render
    POSITIONALLY (the tokenizer's number grammar has no exponent
    form — r11 review: repr's '2.5e-05' re-tokenized as `2.5 e - 05`
    and failed loudly on a legitimate query); the shortest-repr
    digits re-rendered through Decimal round-trip exactly."""
    if v is None:
        raise KqlError(
            "KQL: toscalar produced a null scalar — bind a concrete "
            "value instead (e.g. wrap the aggregate in coalesce()); "
            "null let-scalars are outside this dialect")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise KqlError(
                f"KQL: toscalar produced a non-finite number ({v}) — "
                "not expressible as a KQL literal")
        return format(decimal.Decimal(repr(v)), "f")
    if isinstance(v, decimal.Decimal):
        # Spark DecimalType (parquet money columns) collects as
        # decimal.Decimal — render positionally like floats (r11
        # review 3: it fell through to the unsupported-type raise)
        if not v.is_finite():
            raise KqlError(
                f"KQL: toscalar produced a non-finite number ({v}) — "
                "not expressible as a KQL literal")
        return format(v, "f")
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, _datetime.datetime):
        return f"datetime({v.isoformat(sep=' ')})"
    if isinstance(v, _datetime.date):
        return f"datetime({v.isoformat()})"
    raise KqlError(
        f"KQL: toscalar produced an unsupported scalar type "
        f"{type(v).__name__} — supported: string, number, bool, "
        "datetime")


def _scalar_placeholder(dtype) -> str:
    """A parenthesized literal of ``dtype``'s KQL kind, standing in for
    a ``toscalar`` value the record pass does not collect. It compiles
    wherever the value would, and never mines as a pruning predicate
    (``k >= (0)`` is not a ``col op literal`` term)."""
    if isinstance(dtype, NumericType):
        return "(0)"
    epoch = "(datetime(1970-01-01))"
    return {"boolean": "(false)", "date": epoch, "timestamp": epoch,
            "timestamp_ntz": epoch}.get(dtype.typeName(), "('')")


def _compile_query(query: str, tables: dict[str, DataFrame],
                   externaldata_roots: list[str] | None = None,
                   reads: _Reads | None = None) -> DataFrame:
    """Compile a full KQL QUERY: zero or more ``let Name = …;``
    binding statements, then the final tabular expression. Tabular
    lets compile to DataFrames visible to every LATER statement
    (plain lazy plans — Spark reuses the subtree; no materialization,
    matching Kusto's default non-materialized ``let``); scalar-
    literal lets substitute lexically. ``reads`` resolves warehouse
    table names (``kql_to_df_skipping``). Reference KQL surface:
    plugins/azure-provider/resource_graph.go — ARG dashboards lead
    with let bindings almost universally."""
    stmts = _split_statements(query)
    if not stmts:
        raise KqlError("KQL: empty query")
    if _LET_RE.match(stmts[-1]):
        raise KqlError(
            "KQL: the query must end with a tabular expression, not "
            "a let statement")
    tabs = dict(tables)
    subs: list[tuple[str, str]] = []
    recording = reads is not None and reads.log is not None
    for s in stmts[:-1]:
        m = _LET_RE.match(s)
        if not m:
            raise KqlError(
                "KQL: only `let Name = …;` statements may precede "
                f"the final pipeline, got {s.strip()[:40]!r}")
        name, body = m.group(1), m.group(2).strip()
        if not body:
            raise KqlError(f"KQL: empty let body for {name!r}")
        body = _apply_scalar_lets(body, subs)
        wrap, inner = _unwrap_let_body(body)
        if wrap == "toscalar":
            # Kusto's compile-time scalar from a tabular expression
            # (`let maxts = toscalar(T | summarize max(ts));`): first
            # column of the first row, rendered back to literal source
            # so downstream substitution is identical to a hand-typed
            # scalar let. A DRIVER ACTION at compile time (Kusto's
            # semantics); the record pass substitutes a placeholder.
            df = _StageCompiler(tabs, externaldata_roots, sub=True,
                                reads=reads).compile(inner)
            rows = ([df.schema.fields] if recording
                    else df.limit(1).collect())
            if not rows or not rows[0]:
                raise KqlError(
                    f"KQL: toscalar for {name!r} returned no rows")
            if recording:
                reads.guessed = True
                subs.append((name, _scalar_placeholder(rows[0][0].dataType)))
            else:
                subs.append((name, _scalar_to_literal_src(rows[0][0])))
            continue
        if wrap == "materialize":
            # materialize() is a caching HINT in Kusto; results are
            # identical without it. Compiles to the plain lazy plan —
            # Spark's exchange/subtree reuse plays the caching role,
            # and a .persist() here would leak cached partitions into
            # the shared session (README dialect notes).
            body = inner
        lit = _scalar_let_source(body)
        if lit is not None:
            subs.append((name, lit))
        else:
            tabs[name] = _StageCompiler(
                tabs, externaldata_roots, sub=True,
                reads=reads).compile(body)
    return _StageCompiler(tabs, externaldata_roots, reads=reads).compile(
        _apply_scalar_lets(stmts[-1], subs))


class _RecordAborted(Exception):
    """The record pass met a stage whose output columns depend on the
    data (``bag_unpack``, ``pivot``): compiling past it needs an action."""


class _Reads:
    """The warehouse reads of one KQL statement, as the compiler
    resolves them. Each table is read plain once, at its first
    resolution. In the record pass (``log`` is a list) a resolution
    returns that plain read and logs a ``skipping.ScanRead`` with the
    branches mined from the reference's leading wheres; otherwise it
    returns the plain read pruned by them, planned once per distinct
    (table, branches) — by the admission when a budget is armed."""

    def __init__(self, spark, warehouse: dict[str, str],
                 tables: dict[str, DataFrame] | None,
                 dry_run: bool = False):
        # table keys are case-insensitive: refuse a name passed both
        # ways instead of guessing which source the caller meant
        clash = ({n.lower() for n in tables or {}}
                 & {n.lower() for n in warehouse})
        if clash:
            raise KqlError(
                "KQL: table name(s) registered both as DataFrame and "
                f"warehouse directory: {sorted(clash)} — pass each name "
                "through exactly one of `tables`/`warehouse`")
        self.spark = spark
        self.paths = {n.lower(): (n, p) for n, p in warehouse.items()}
        #: the dry-run prices externaldata regardless of the allow-list
        self.dry_run = dry_run
        self.plain: dict[str, DataFrame] = {}
        self.plans: dict[tuple[str, str], dict] = {}
        self.log: list | None = None
        #: a toscalar placeholder stands in for a value in the log
        self.guessed = False

    def table(self, key: str, wheres: list[str]) -> DataFrame:
        name, path = self.paths[key]
        plain = self.plain.get(key)
        if plain is None:
            plain = self.plain[key] = self.spark.read.parquet(path)
        preds, dnf = _mine_wheres(wheres)
        read = _skip.ScanRead(name, path,
                              [preds + b for b in dnf] if dnf else [preds])
        if self.log is not None:
            self.log.append(read)
            return plain
        if not any(read.branches):
            return plain
        plan_key = (key, repr(read.branches))
        if plan_key not in self.plans:
            self.plans[plan_key] = _skip.admit([read], price=False)[1][0]
        try:
            return _skip.read_skipping_any(
                self.spark, path, read.branches,
                plan=self.plans[plan_key], base=plain)
        except Exception:  # noqa: BLE001 — the plain read stands
            return plain

    def external(self, paths: list[str]) -> None:
        """Log an ``externaldata`` read at raw file weight."""
        self.log.append(_skip.ScanRead(
            f"externaldata#{len(self.log)}", None, [[]], files=list(paths),
            nbytes=externaldata_bytes(paths)))

    def admit(self, query: str, tables: dict[str, DataFrame] | None,
              roots: list[str] | None, budget: int | None) -> dict:
        """Record the statement's reads, then price and refuse them
        through ``skipping.admit``; the admitted plans serve the
        statement's real compile."""
        self.log, self.guessed = [], False
        try:
            _compile_query(query, tables or {}, roots, self)
            merged = {}
            for r in self.log:
                k = (r.name.lower(), repr(r.branches))
                merged[k] = (merged[k]._replace(refs=merged[k].refs + r.refs)
                             if k in merged else r)
            scans = list(merged.values())
        except (_RecordAborted, KqlError, ValueError) as ex:
            # a toscalar placeholder in a literal-only slot (`take n`)
            # fails where the real value would not
            if not (isinstance(ex, _RecordAborted) or self.guessed):
                raise
            scans = self._by_mention(query)
        finally:
            self.log = None
        est, plans = _skip.admit(scans, budget)
        self.plans = {(r.name.lower(), repr(r.branches)): p
                      for r, p in zip(scans, plans) if p is not None}
        return est

    def _by_mention(self, query: str) -> list:
        """The reads of a statement the record pass cannot compile,
        priced from the text: each warehouse table at full scan once
        per word mention (×64 when ``partition`` is mentioned), and
        each ``externaldata`` spec at raw weight."""
        times = (_StageCompiler._PARTITION_MAX if re.search(
            r"(?<!\w)partition(?!\w)", query, re.IGNORECASE) else 1)
        self.log = []
        for name, path in self.paths.values():
            n = len(re.findall(rf"(?<!\w){re.escape(name)}(?!\w)", query,
                               re.IGNORECASE))
            if n:
                self.log.append(_skip.ScanRead(name, path, [[]],
                                               refs=n * times))
        for m in re.finditer(r"(?<!\w)externaldata(?!\w)", query,
                             re.IGNORECASE):
            try:
                _cols, paths, _fmt, _hdr = _parse_externaldata(
                    query[m.end():])
            except KqlError:
                continue  # inside a string literal, or refused anyway
            self.external(paths)
        return self.log


def _expect_next(toks: list, i: int, allowed: tuple, what: str) -> None:
    """Raise when an expression leaves trailing tokens the stage grammar
    does not expect. Silently dropping them is the dangerous failure
    (``where a == 1 b == 2`` filtering only on ``a``); Kusto errors, so
    must we."""
    if i < len(toks):
        t = toks[i]
        ok = (t.kind == "op" and t.text in allowed) or (
            t.kind == "ident" and t.text.lower() in allowed)
        if not ok:
            raise KqlError(
                f"KQL: unexpected trailing token {t.text!r} in {what} "
                f"at {t.pos}")


def _expr_name(toks: list[_Tok], start: int, end: int, fallback: str) -> str:
    """Best-effort output name for an unaliased expression: bare idents keep
    their name (incl. dotted tails), everything else gets the fallback."""
    span = toks[start:end]
    if len(span) == 1 and span[0].kind == "ident":
        return span[0].text
    if span and all(t.kind == "ident" or t.text == "." for t in span):
        return span[-1].text
    return fallback


class _StageCompiler:
    def __init__(self, tables: dict[str, DataFrame],
                 externaldata_roots: list[str] | None = None,
                 sub: bool = False, reads: _Reads | None = None):
        #: caller frames and let/as bindings, returned as they are
        self.tables = {k.lower(): v for k, v in tables.items()}
        self.externaldata_roots = externaldata_roots
        #: resolves warehouse table names (None: there are none)
        self.reads = reads
        #: the record pass's log length when the current pipeline
        #: began: a branch-mode partition repeats every read since
        self._since = 0
        # sub=True marks a compiler whose WHOLE input is a sub-
        # expression (a let body / toscalar body) — render must refuse
        # there just like in a parenthesized join side
        self._depth = 1 if sub else 0
        #: the in-force `sort by` order ((expr, is_asc) specs) for
        #: row functions, None when no order is in force; survives
        #: order-preserving stages only (see apply_stage)
        self._ser_order: list[tuple[Column, bool]] | None = None
        #: identifier names the in-force sort expressions reference
        #: (a conservative superset — function names included): a
        #: later stage that overwrites or drops one of these columns
        #: would silently re-evaluate the order, so the serialization
        #: is INVALIDATED instead (Kusto's serialization is fixed at
        #: sort time and never re-derived; loud refusal beats a
        #: silently reordered window)
        self._ser_refs: set[str] = set()
        #: hidden partition column for the window those functions
        #: build — set while compiling a vectorized `partition` body,
        #: where the window must be per-key (the scalable shape)
        self._ser_pk: str | None = None

    def compile(self, query: str) -> DataFrame:
        self._depth += 1
        # Kusto scoping: an `as` binding made INSIDE a parenthesized
        # sub-pipeline (join/union/lookup side) is local to it — names
        # added during a nested compile are dropped on exit, while the
        # outer pipeline's bindings stay visible to its subqueries
        before = set(self.tables) if self._depth > 1 else None
        # a sub-pipeline (join/union/lookup side) starts with no order
        # in force and must not leak one back to the outer pipeline
        ser_saved = (self._ser_order, self._ser_refs, self._ser_pk,
                     self._since)
        self._ser_order = None
        self._ser_refs = set()
        self._ser_pk = None
        self._since = len(self.reads.log) if self._recording else 0
        try:
            return self._compile(query)
        finally:
            self._depth -= 1
            (self._ser_order, self._ser_refs, self._ser_pk,
             self._since) = ser_saved
            if before is not None:
                for k in set(self.tables) - before:
                    del self.tables[k]

    @property
    def _recording(self) -> bool:
        return self.reads is not None and self.reads.log is not None

    def _known(self, name: str) -> bool:
        return name.lower() in self.tables or (
            self.reads is not None and name.lower() in self.reads.paths)

    def _table(self, name: str, wheres: list[str]) -> DataFrame:
        """THE table-name lookup: a caller frame or a let/as binding as
        it is, else the warehouse read ``self.reads`` resolves for this
        reference (``wheres``: its leading ``where`` stage texts, after
        scalar substitution; ``[]`` for a union/lookup operand)."""
        key = name.lower()
        if key in self.tables:
            return self.tables[key]
        if self._known(key):
            return self.reads.table(key, wheres)
        have = set(self.tables) | set(self.reads.paths if self.reads else ())
        raise KqlError(f"KQL: unknown table {name!r} (have: {sorted(have)})")

    def _compile(self, query: str) -> DataFrame:
        stages = _split_stages(query)
        if not stages:
            raise KqlError("KQL: empty query")
        # `render` is a display hint and must close the outermost
        # pipeline (Kusto grammar: Query := Pipeline [`|` render …])
        for i, st in enumerate(stages):
            if re.match(r"render\b", st.strip(), re.IGNORECASE) and (
                    self._depth > 1 or i != len(stages) - 1):
                raise KqlError(
                    "KQL: render must be the final operator of the "
                    "outermost pipeline")
        head = stages[0].strip()
        # table-less heads: `print name = expr, …` (one constant row)
        # and `range Col from A to B step C` (a generated sequence) —
        # the Kusto docs/test idioms; both fold to pure expressions on
        # a driver-made seed frame, so downstream stages see an
        # ordinary DataFrame
        hm = re.match(r"(print|range|datatable|externaldata)\b\s*(.*)$",
                      head, re.DOTALL | re.IGNORECASE)
        if hm and not (self._known(hm.group(1))
                       and not hm.group(2).strip()):
            self._head_name = hm.group(1).lower()
            df = self._table_less_head(hm.group(1).lower(), hm.group(2))
            for stage in stages[1:]:
                df = self.apply_stage(df, stage)
            return df
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", head):
            raise KqlError(f"KQL: first stage must be a table name, got {head!r}")
        wheres: list[str] = []
        for stage in stages[1:]:
            m = re.match(r"where\s+(.*)", stage.strip(),
                         re.DOTALL | re.IGNORECASE)
            if not m:
                break  # the first other stage ends the minable prefix
            wheres.append(m.group(1))
        df = self._table(head, wheres)
        self._head_name = head  # for `union withsource=` labeling
        for stage in stages[1:]:
            df = self.apply_stage(df, stage)
        return df

    def _table_less_head(self, kind: str, rest: str) -> DataFrame:
        spark = SparkSession.active()
        seed = spark.range(1)  # one-row frame to evaluate constants on
        if kind == "print":
            if not rest.strip():
                raise KqlError("KQL: print needs `name = expr[, ...]`")
            cols = []
            for i, part in enumerate(_split_top_commas(rest)):
                part = part.strip()
                m = re.match(r"([A-Za-z_]\w*)\s*=\s*(.*)$", part,
                             re.DOTALL)
                src, name = ((m.group(2), m.group(1)) if m
                             else (part, f"print_{i}"))
                toks = _tokenize(src)
                p = _ExprParser(toks)
                expr = p.parse()
                if p.i != len(toks):
                    raise KqlError(
                        f"KQL: trailing tokens in print expr {src!r}")
                cols.append(expr.alias(name))
            return seed.select(*cols)
        if kind == "datatable":
            return self._datatable(spark, rest)
        if kind == "externaldata":
            return self._externaldata(spark, rest)
        # datetime grid: `range Day from datetime(…) to datetime(…)
        # step 1d` — the time axis every dashboard joins its
        # aggregates against. Generated distributed over epoch
        # seconds (spark.range) and lifted to timestamps; whole-
        # second steps only (Spark's tick for timestamp_seconds).
        # Bounds are interpreted as UTC — Kusto datetime semantics,
        # and the session factory pins spark.sql.session.timeZone to
        # UTC so the rendered grid and `datetime()` literal casts
        # agree; a non-UTC session would shift the two apart.
        dm = re.match(
            r"([A-Za-z_]\w*)\s+from\s+datetime\(([^)]*)\)\s+to\s+"
            r"datetime\(([^)]*)\)\s+step\s+(\S+)\s*$",
            rest, re.IGNORECASE)
        if dm:
            col = dm.group(1)
            try:
                lo_ts = _datetime.datetime.fromisoformat(
                    dm.group(2).strip().replace("T", " ").rstrip("Zz"))
                hi_ts = _datetime.datetime.fromisoformat(
                    dm.group(3).strip().replace("T", " ").rstrip("Zz"))
            except ValueError as ex:
                raise KqlError(
                    f"KQL: bad range datetime bound: {ex}") from ex
            try:
                secs = _timespan_seconds(dm.group(4))
            except KqlError:
                secs = -1.0
            if secs <= 0 or secs != int(secs):
                raise KqlError(
                    "KQL: range datetime step must be a positive "
                    f"whole-second timespan, got {dm.group(4)!r}")
            epoch = _datetime.datetime(1970, 1, 1)
            lo_s = int((lo_ts - epoch).total_seconds())
            hi_s = int((hi_ts - epoch).total_seconds())
            return spark.range(lo_s, hi_s + 1, int(secs)).select(
                F.timestamp_seconds(F.col("id")).alias(col))
        m = re.match(
            r"([A-Za-z_]\w*)\s+from\s+(-?\d+)\s+to\s+(-?\d+)\s+"
            r"step\s+(-?\d+)\s*$", rest, re.IGNORECASE)
        if not m:
            raise KqlError(
                "KQL: range needs `range Col from A to B step C` "
                "(integer bounds, or datetime(…) bounds with a "
                f"timespan step), got {rest!r}")
        col, lo, hi, step = (m.group(1), int(m.group(2)),
                             int(m.group(3)), int(m.group(4)))
        if step == 0:
            raise KqlError("KQL: range step must be non-zero")
        # inclusive both ends (Kusto) — spark.range is end-exclusive
        return spark.range(lo, hi + (1 if step > 0 else -1), step) \
            .select(F.col("id").alias(col))

    #: datatable column type → Spark DDL type. Kusto's dynamic/guid
    #: surface as strings (the compiler's dynamic representation is a
    #: JSON string throughout); decimal maps to a wide Spark decimal.
    _DATATABLE_TYPES = {
        "string": "string", "long": "bigint", "int": "int",
        "real": "double", "double": "double", "bool": "boolean",
        "boolean": "boolean", "datetime": "timestamp",
        "guid": "string", "dynamic": "string",
        "decimal": "decimal(38,9)",
    }

    def _datatable(self, spark, rest: str) -> DataFrame:
        """``datatable(Col1:type1, …) [v1, v2, …]`` — Kusto's literal
        table head (values row-major, row count = len(values)/ncols).
        The standard way ARG dashboards and docs inline dimension
        tables and test fixtures (reference KQL surface:
        plugins/azure-provider/resource_graph.go). Literals: quoted
        strings, numbers, negatives, true/false, ``datetime(…)``, and
        typed nulls ``<type>(null)``. Compiles to one driver-side
        ``createDataFrame`` — a datatable is by definition a literal
        constant, never a scan, so there is nothing to distribute."""
        m = re.match(r"\(\s*([^)]*)\)\s*\[(.*)\]\s*$", rest.strip(),
                     re.DOTALL)
        if not m:
            raise KqlError(
                "KQL: datatable needs "
                "`datatable(Col:type, …) [v1, v2, …]`")
        schema_src, body = m.group(1), m.group(2)
        names: list[str] = []
        types: list[str] = []
        for item in schema_src.split(","):
            cm = re.fullmatch(r"\s*([A-Za-z_]\w*)\s*:\s*(\w+)\s*", item)
            if not cm:
                raise KqlError(
                    f"KQL: datatable column must be `Name:type`, "
                    f"got {item.strip()!r}")
            kt = cm.group(2).lower()
            if kt not in self._DATATABLE_TYPES:
                raise KqlError(
                    f"KQL: unsupported datatable type {kt!r} "
                    f"(have: {sorted(self._DATATABLE_TYPES)})")
            names.append(cm.group(1))
            types.append(kt)
        if not names:
            raise KqlError("KQL: datatable needs at least one column")
        dup = {nm for nm in names if names.count(nm) > 1}
        if dup:
            # Spark accepts duplicate schema field names and produces
            # ambiguous columns — refuse loud instead
            raise KqlError(
                f"KQL: datatable declares duplicate column(s) "
                f"{sorted(dup)}")
        if body.strip():
            slots = _split_on_top_level(body, ",", keep_empty=True)
            # a single trailing comma after the last value is the
            # common hand-written style and stays legal; any other
            # blank slot silently shifts values across columns
            if slots and not slots[-1]:
                slots = slots[:-1]
            blank = [i + 1 for i, s in enumerate(slots) if not s]
            if blank:
                raise KqlError(
                    f"KQL: datatable has a blank value at "
                    f"position(s) {blank} — a stray comma would "
                    "shift every later value across columns")
            vals = [self._datatable_literal(part) for part in slots]
        else:
            vals = []
        if len(vals) % len(names) != 0:
            raise KqlError(
                f"KQL: datatable got {len(vals)} values for "
                f"{len(names)} columns — count must divide evenly")
        rows = [tuple(self._datatable_coerce(v, types[j], names[j])
                      for j, v in enumerate(vals[i:i + len(names)]))
                for i in range(0, len(vals), len(names))]
        ddl = ", ".join(f"{n} {self._DATATABLE_TYPES[t]}"
                        for n, t in zip(names, types))
        return spark.createDataFrame(rows, schema=ddl)

    def _externaldata(self, spark, rest: str) -> DataFrame:
        """``externaldata (Col:type, …) ['path', …] with
        (format='csv', ignoreFirstRecord=true)`` — Kusto's external
        file head, compiled to a schema'd ``spark.read`` over
        ALLOW-LISTED local paths (Kusto reads cloud-storage URIs; a
        local engine reads what its operator explicitly granted).

        The allow-list comes from the ``externaldata_roots`` argument
        of ``kql_to_df``/``kql_to_df_skipping`` or the
        ``CORKSCREW_EXTERNALDATA_ROOTS`` env var (``os.pathsep``-
        separated directories); with neither set, every externaldata
        query refuses — a query string must not be able to read
        arbitrary filesystem paths. The record pass compiles it as an
        empty frame of the declared schema and prices it at the
        files' on-disk bytes (``externaldata_bytes``): raw files have
        no zone maps to prune with, so the honest estimate is the full
        weight. The declared schema is the contract: csv/tsv/json reads
        are schema'd (malformed cells go null — Kusto's permissive
        reader), parquet reads cast each declared column, failing loud
        on a missing one."""
        cols, paths, fmt, header = _parse_externaldata(rest, exact=True)
        if not (self._recording and self.reads.dry_run):
            roots = _externaldata_roots_effective(self.externaldata_roots)
            if not roots:
                raise KqlError(
                    "KQL: externaldata is disabled — allow-list the "
                    "readable directories via the externaldata_roots "
                    "argument or CORKSCREW_EXTERNALDATA_ROOTS before a "
                    "query string may open local files")
            for p in paths:
                if not _externaldata_path_allowed(p, roots):
                    raise KqlError(
                        f"KQL: externaldata path {p!r} is outside the "
                        f"allow-listed root(s) {roots}")
                if not os.path.exists(os.path.realpath(p)):
                    raise KqlError(
                        f"KQL: externaldata path {p!r} does not exist")
        ddl = ", ".join(f"{n} {self._DATATABLE_TYPES[t]}"
                        for n, t in cols)
        if self._recording:
            self.reads.external(paths)
            return spark.createDataFrame([], ddl)
        if fmt == "parquet":
            raw = spark.read.parquet(*paths)
            missing = [n for n, _t in cols if n not in raw.columns]
            if missing:
                raise KqlError(
                    f"KQL: externaldata parquet is missing declared "
                    f"column(s) {missing}")
            return raw.select(
                *[F.col(n).cast(self._DATATABLE_TYPES[t]).alias(n)
                  for n, t in cols])
        reader = spark.read.schema(ddl)
        if fmt in ("csv", "tsv"):
            return reader.options(
                header=str(header).lower(),
                sep="\t" if fmt == "tsv" else ",").csv(list(paths))
        # json: ignoreFirstRecord has no meaning; schema'd read
        return reader.json(list(paths))

    def _datatable_literal(self, src: str):
        toks = _tokenize(src.strip())
        if (len(toks) == 4 and toks[0].kind == "ident"
                and toks[0].text.lower() in self._DATATABLE_TYPES
                and toks[1].text == "(" and toks[2].kind == "ident"
                and toks[2].text.lower() == "null"
                and toks[3].text == ")"):
            return None  # typed null: long(null), datetime(null), …
        if len(toks) == 2 and toks[0].kind == "op" \
                and toks[0].text == "-" and toks[1].kind == "number":
            v = self._datatable_literal(toks[1].text)
            return -v
        if len(toks) == 1:
            t = toks[0]
            if t.kind == "string":
                return t.text
            if t.kind == "number":
                return (float(t.text)
                        if "." in t.text or "e" in t.text.lower()
                        else int(t.text))
            if t.kind == "datetime":
                txt = t.text.strip().replace("T", " ")
                if txt.endswith(("Z", "z")):
                    txt = txt[:-1]
                try:
                    return _datetime.datetime.fromisoformat(txt)
                except ValueError as ex:
                    raise KqlError(
                        f"KQL: bad datatable datetime {t.text!r}"
                    ) from ex
            if t.kind == "ident" and t.text.lower() in ("true", "false"):
                return t.text.lower() == "true"
        raise KqlError(
            f"KQL: unsupported datatable literal {src.strip()!r} — "
            "use strings, numbers, true/false, datetime(…), or "
            "<type>(null)")

    @staticmethod
    def _datatable_coerce(v, kt: str, name: str):
        """Coerce a parsed literal to its DECLARED column type, or
        raise at compile time — a mistyped cell must not abort the
        job later (the top-nested label lesson)."""
        if v is None:
            return None
        if kt in ("real", "double") and isinstance(v, int) \
                and not isinstance(v, bool):
            return float(v)
        if kt == "decimal" and isinstance(v, (int, float)) \
                and not isinstance(v, bool):
            return decimal.Decimal(str(v))
        ok = {
            "string": str, "guid": str, "dynamic": str,
            "long": int, "int": int,
            "real": float, "double": float,
            "bool": bool, "boolean": bool,
            "datetime": _datetime.datetime,
            "decimal": decimal.Decimal,
        }[kt]
        if isinstance(v, bool) and ok is not bool:
            pass  # bool is an int subclass: fall through to the raise
        elif isinstance(v, ok):
            return v
        raise KqlError(
            f"KQL: datatable value {v!r} does not match column "
            f"{name}:{kt}")

    #: stages that PRESERVE row order (Kusto: serialization survives
    #: filters, projections and row-local extensions) — everything
    #: else drops the in-force `sort by` for serialized row functions
    _ORDER_PRESERVING = frozenset({
        "where", "extend", "project", "project-away", "project-keep",
        "project-rename", "project-reorder", "parse", "parse-where",
        "search", "serialize", "order", "sort", "take", "limit",
        "render", "as", "scan", "evaluate",
    })

    def apply_stage(self, df: DataFrame, stage: str) -> DataFrame:
        result = self._dispatch_stage(df, stage)
        # a preserving stage that nonetheless DROPPED or renamed away
        # a column the in-force sort references (project v, a glob
        # miss, project-rename) invalidates the serialization — a
        # later serialized call then refuses loudly instead of dying
        # in analysis or silently re-deriving the order
        if self._ser_order is not None and self._ser_refs \
                and not self._ser_refs.issubset(set(result.columns)):
            self._ser_order = None
            self._ser_refs = set()
        return result

    def _dispatch_stage(self, df: DataFrame, stage: str) -> DataFrame:
        m = re.match(r"([a-z][a-z-]*)\s*(.*)", stage, re.DOTALL | re.IGNORECASE)
        if not m:
            raise KqlError(f"KQL: cannot parse stage {stage!r}")
        op = m.group(1).lower()
        rest = m.group(2)
        if op not in self._ORDER_PRESERVING:
            self._ser_order = None
            self._ser_refs = set()
        if op == "where":
            toks = _tokenize(rest)
            p = _ExprParser(toks, df=df)
            cond = p.parse()
            _expect_next(toks, p.i, (), "where")
            return df.filter(cond)
        if op == "project":
            return self._project(df, rest)
        if op == "project-away":
            return df.drop(*self._glob_cols(df, rest, "project-away"))
        if op == "project-keep":
            return df.select(
                *self._glob_cols(df, rest, "project-keep"))
        if op == "project-rename":
            return self._project_rename(df, rest)
        if op == "project-reorder":
            cols = self._glob_cols(df, rest, "project-reorder")
            tail = [c for c in df.columns if c not in cols]
            return df.select(*cols, *tail)
        if op == "serialize":
            # row order is only observable through a downstream sort in
            # this compiler; `serialize` with extend-assignments is the
            # unsupported half (needs a stable input order)
            if rest.strip():
                raise KqlError(
                    "KQL: serialize with assignments is not supported "
                    "(use `extend` after an `order by`)")
            return df
        if op == "sample":
            # Kusto `sample N` returns N arbitrary rows (explicitly not
            # guaranteed random or stable) — limit(N) satisfies the
            # contract with zero shuffle
            n = rest.strip()
            if not re.fullmatch(r"\d+", n):
                raise KqlError(f"KQL: sample needs a row count, got {rest!r}")
            return df.limit(int(n))
        if op == "getschema":
            if rest.strip():
                raise KqlError("KQL: getschema takes no arguments")
            rows = [(f.name, i, f.dataType.simpleString(),
                     f.dataType.simpleString())
                    for i, f in enumerate(df.schema.fields)]
            return df.sparkSession.createDataFrame(
                rows, "ColumnName string, ColumnOrdinal int, "
                      "DataType string, ColumnType string")
        if op == "parse":
            return self._parse(df, rest)
        if op == "parse-where":
            return self._parse(df, rest, where=True)
        if op == "top-nested":
            return self._top_nested(df, rest)
        if op == "top-hitters":
            return self._top_hitters(df, rest)
        if op == "union":
            return self._union(df, rest)
        if op == "make-series":
            return self._make_series(df, rest)
        if op == "extend":
            return self._extend(df, rest)
        if op == "summarize":
            return self._summarize(df, rest)
        if op == "mv-expand":
            return self._mv_expand(df, rest)
        if op == "mv-apply":
            return self._mv_apply(df, rest)
        if op in ("order", "sort"):
            specs = self._sort_specs(rest)
            self._ser_order = specs
            self._ser_refs = self._sort_ref_names(rest)
            return df.orderBy(*self._ordered(specs))
        if op in ("limit", "take"):
            return df.limit(int(rest.strip()))
        if op == "top":
            return self._top(df, rest)
        if op == "count":
            return df.agg(F.count(F.lit(1)).alias("Count"))
        if op == "distinct":
            if rest.strip() == "*":
                return df.distinct()
            cols = [c.strip() for c in rest.split(",")]
            return df.select(*cols).distinct()
        if op == "join":
            return self._join(df, rest)
        if op == "lookup":
            return self._lookup(df, rest)
        if op == "evaluate":
            return self._evaluate(df, rest)
        if op == "search":
            return self._search(df, rest)
        if op == "render":
            return self._render(df, rest)
        if op == "as":
            return self._as_binding(df, rest)
        if op == "partition":
            return self._partition(df, rest)
        if op == "scan":
            return self._scan(df, rest)
        if op in ("facet", "fork"):
            # out-of-dialect Kusto verbs (both return MULTIPLE result
            # tables — no single-DataFrame surface can carry that):
            # refuse with the in-dialect rewrite rather than a generic
            # unsupported-operator error
            rewrite = {
                "facet": ("facet by Col is a per-column count view — "
                          "rewrite as one `summarize Count = count() "
                          "by Col` pipeline per column (union them "
                          "with `union withsource=`)"),
                "fork": ("fork runs sub-pipelines over one source — "
                         "rewrite as `as Src` then one query per "
                         "branch, or `union (Src | …), (Src | …)`"),
            }[op]
            raise KqlError(f"KQL: {op} is out of dialect: {rewrite}")
        raise KqlError(f"KQL: unsupported operator {op!r}")

    #: Kusto chart kinds accepted by `render` (display hint — a
    #: compiler targeting DataFrames validates and passes data
    #: through unchanged; the caller's presentation layer decides)
    _RENDER_KINDS = frozenset({
        "anomalychart", "areachart", "barchart", "card",
        "columnchart", "ladderchart", "linechart", "piechart",
        "pivotchart", "scatterchart", "stackedareachart", "table",
        "timechart", "timepivot", "treemap",
    })

    #: render `with (…)` property names (Kusto docs list)
    _RENDER_PROPS = frozenset({
        "accumulate", "anomalycolumns", "kind", "legend", "series",
        "title", "xaxis", "xcolumn", "xmax", "xmin", "xtitle",
        "yaxis", "ycolumns", "ymax", "ymin", "ysplit", "ytitle",
    })

    def _render(self, df: DataFrame, rest: str) -> DataFrame:
        """``render <chartkind> [with (prop = value, …)]`` — Kusto's
        display hint, the most common trailing verb in exported
        dashboard/ARG queries. Rendering is a client concern: the
        compiler VALIDATES the chart kind and property names (so a
        typo'd paste fails loud, same contract as the rest of the
        dialect) and returns the frame unchanged."""
        m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s*(.*)$", rest.strip(),
                     re.DOTALL)
        if not m or m.group(1).lower() not in self._RENDER_KINDS:
            got = m.group(1) if m else rest.strip()
            raise KqlError(
                f"KQL: render needs a chart kind, got {got!r} "
                f"(have: {sorted(self._RENDER_KINDS)})")
        tail = m.group(2).strip()
        if tail:
            wm = re.fullmatch(r"with\s*\((.*)\)", tail,
                              re.DOTALL | re.IGNORECASE)
            if not wm:
                raise KqlError(
                    "KQL: render takes `render <kind> "
                    "[with (prop = value, …)]`, got trailing "
                    f"{tail!r}")
            for part in _split_top_commas(wm.group(1)):
                pm = re.match(r"([A-Za-z_]\w*)\s*=\s*\S", part)
                if not pm:
                    raise KqlError(
                        f"KQL: render property must be "
                        f"`name = value`, got {part!r}")
                if pm.group(1).lower() not in self._RENDER_PROPS:
                    raise KqlError(
                        f"KQL: unknown render property "
                        f"{pm.group(1)!r} "
                        f"(have: {sorted(self._RENDER_PROPS)})")
        return df

    def _as_binding(self, df: DataFrame, rest: str) -> DataFrame:
        """``as [hint.materialized=true|false] Name`` — bind the
        pipeline's current state to a name visible to LATER stages of
        the same query (join/union/lookup right sides), the paste-
        compat sibling of ``let`` for mid-pipeline reuse.

        The binding is the lazy DataFrame itself — each later use
        re-evaluates the plan, exactly Kusto's default
        (materialized=false). ``hint.materialized=true`` is accepted
        and treated the same: every source this compiler reads is a
        deterministic scan, so materialization can't change results,
        and silently pinning executor memory from a query string is
        the wrong default at 100 TB (cache explicitly via
        ``spark.sql`` if wall-clock needs it)."""
        m = re.fullmatch(
            r"(?:hint\.materialized\s*=\s*(?:true|false)\s+)?"
            r"([A-Za-z_]\w*)", rest.strip(), re.IGNORECASE)
        if not m:
            raise KqlError(
                "KQL: as takes `as [hint.materialized=true] Name`, "
                f"got {rest.strip()!r}")
        name = m.group(1)
        if self._known(name):
            raise KqlError(
                f"KQL: as {name!r} would shadow an existing table — "
                "pick an unused name")
        self.tables[name.lower()] = df
        return df

    #: Kusto legacy/native `partition` strategies cap the key space —
    #: the branch compilation below mirrors the documented 64 limit
    _PARTITION_MAX = 64

    #: partition-body verbs whose per-partition application equals
    #: global application row-for-row (each output row derives from
    #: exactly one input row, or from one record's own array in the
    #: mv- pair) — vectorized mode runs them ONCE on the whole frame
    _PART_ROW_LOCAL = frozenset({
        "where", "extend", "parse", "parse-where", "search",
        "mv-expand", "mv-apply", "project-rename",
    })

    #: partition-body verbs with a dedicated grouped (per-key) rewrite
    #: in vectorized mode
    _PART_GROUPED = frozenset({
        "summarize", "top", "take", "limit", "count", "distinct",
        "top-hitters", "sort", "order",
    })

    #: join kinds that preserve the left side row-by-row, so a union
    #: of per-partition joins equals one global join (the partitions
    #: cover the left side disjointly and the right side is partition-
    #: independent). innerunique is NOT here: it dedups left keys
    #: WITHIN each partition, so per-partition != global.
    _PART_SAFE_JOINS = frozenset({
        "inner", "leftouter", "leftsemi", "leftanti",
    })

    _PARTITION_RE = re.compile(
        r"((?:hint\.\w+\s*=\s*\w+\s+)*)by\s+([A-Za-z_]\w*)"
        r"\s*\((.*)\)\s*$",
        re.DOTALL | re.IGNORECASE)

    @classmethod
    def _partition_vector_reason(cls, body: str) -> str | None:
        """None when the body compiles vectorized (one scan, grouped
        rewrites); else the human reason it needs branch mode. STATIC
        (text-only), so the record pass prices the mode the real
        compile runs without reading any data."""
        stages = _split_stages(body)
        if not stages:
            return "empty partition body"
        for st in stages:
            s = st.strip()
            m = re.match(r"([a-z][a-z-]*)", s, re.IGNORECASE)
            verb = m.group(1).lower() if m else ""
            if verb in ("sort", "order"):
                # sort vectorizes as the in-force order for a later
                # take/limit (per-key top) or extend with serialized
                # row functions (per-key window); a sort nothing
                # consumes only affects output order, which the
                # partition union does not guarantee in Kusto either
                continue
            if verb in cls._PART_ROW_LOCAL or verb in cls._PART_GROUPED:
                continue
            if verb == "scan":
                # scan groups its applyInPandas by the hidden
                # partition key itself — per-key state machines, the
                # distributed shape
                continue
            if verb == "evaluate":
                # narrow transposes per row (Row numbered per key via
                # the hidden-key window); pivot/bag_unpack discover
                # COLUMNS from the data, so per-partition application
                # would give branches different schemas — branch mode
                if re.match(r"evaluate\s+narrow\s*\(", s,
                            re.IGNORECASE):
                    continue
                return ("evaluate plugins other than narrow() infer "
                        "their output schema from the data — "
                        "per-partition schemas would diverge")
            if verb in ("project", "project-keep", "project-away",
                        "project-reorder"):
                continue
            if verb == "join":
                km = re.match(r"join\s+kind\s*=\s*(\w+)", s,
                              re.IGNORECASE)
                kind = km.group(1).lower() if km else "innerunique"
                if kind in cls._PART_SAFE_JOINS:
                    continue
                return (f"join kind={kind} is partition-dependent "
                        "(innerunique dedups left keys per "
                        "partition; right/full kinds replicate the "
                        "right side per partition) — use kind=inner/"
                        "leftouter/leftsemi/leftanti")
            if verb == "lookup":
                continue
            return f"operator {verb!r} has no vectorized " \
                   "per-partition form"
        return None

    @classmethod
    def _partition_parse(cls, rest: str
                         ) -> tuple[str, str, str, str | None]:
        """→ (key, body, mode, vector_reason)."""
        m = cls._PARTITION_RE.match(rest.strip())
        if not m:
            raise KqlError(
                "KQL: partition takes `partition "
                "[hint.strategy=shuffle|legacy|native] by Column "
                f"( subquery )`, got {rest.strip()!r}")
        hints = dict(re.findall(r"hint\.(\w+)\s*=\s*(\w+)",
                                m.group(1) or ""))
        unknown = set(k.lower() for k in hints) - {"strategy",
                                                   "materialized"}
        if unknown:
            raise KqlError(
                f"KQL: unsupported partition hint(s) "
                f"{sorted(unknown)} (have: strategy, materialized)")
        strategy = hints.get("strategy", "").lower()
        if strategy not in ("", "legacy", "native", "shuffle"):
            raise KqlError(
                f"KQL: partition hint.strategy={strategy!r} is not "
                "one of legacy|native|shuffle")
        key, body = m.group(2), m.group(3).strip()
        reason = cls._partition_vector_reason(body)
        if strategy == "shuffle" and reason is not None:
            raise KqlError(
                f"KQL: hint.strategy=shuffle cannot run this body "
                f"vectorized: {reason}")
        mode = ("branch" if strategy in ("legacy", "native")
                or (not strategy and reason is not None) else "vector")
        return key, body, mode, reason

    def _partition(self, df: DataFrame, rest: str) -> DataFrame:
        """``partition [hint.strategy=…] by Column ( subquery )`` —
        split the input by the distinct values of ``Column``, run the
        subquery over each subtable, union the results (Kusto
        partition operator; the subquery is contextual — its source is
        the partition's rows).

        Two compilations, chosen to be SCALE-SAFE by default:

        * **vectorized** (default when the body allows it; forced by
          ``hint.strategy=shuffle``, mirroring Kusto's shuffle
          strategy): ONE scan — row-local stages apply unchanged,
          aggregating stages rewrite per-key (summarize groups by a
          hidden partition key, top/sort+take/take become per-key
          ``row_number`` windows, distinct/count fold the key in).
          Union-of-partitions equals the grouped rewrite because the
          partitions cover the input disjointly; left-preserving joins
          and lookups pass through for the same reason. No partition-
          count limit.
        * **branch** (``hint.strategy=legacy|native``, or bodies with
          no grouped rewrite): compile the body once per distinct key
          value over a filtered branch and union — Kusto's legacy
          strategy, including its documented 64-partition cap. Each
          branch re-plans the upstream pipeline, so the record pass
          (which skips the distinct-key collect and compiles the body
          once) repeats every read since the pipeline began at the
          worst-case multiplier; the distinct-key collect is bounded
          at 65 rows.
        """
        key, body, mode, _reason = self._partition_parse(rest)
        if key not in df.columns:
            raise KqlError(
                f"KQL: partition by unknown column {key!r} "
                f"(have: {df.columns})")
        if mode == "vector":
            return self._partition_vectorized(df, key, body)
        return self._partition_branch(df, key, body)

    def _grouped_limit(self, df: DataFrame, pk: str,
                       orders: list[Column], n: int) -> DataFrame:
        rn = "__prn__"
        while rn in df.columns:
            rn += "_"
        w = Window.partitionBy(pk).orderBy(*orders)
        return (df.withColumn(rn, F.row_number().over(w))
                .filter(F.col(rn) <= n).drop(rn))

    def _partition_vectorized(self, df: DataFrame, key: str,
                              body: str) -> DataFrame:
        pk = "__partition_key__"
        while pk in df.columns:
            pk += "_"
        cur = df.withColumn(pk, F.col(key))
        pending: list[tuple[Column, bool]] | None = None
        # serialized row functions inside the body window PER KEY —
        # the scalable shape; restore the outer pipeline's (empty)
        # order state on exit
        ser_saved = (self._ser_order, self._ser_refs, self._ser_pk)
        self._ser_order = None
        self._ser_refs = set()
        self._ser_pk = pk
        try:
            for st in _split_stages(body):
                s = st.strip()
                verb = re.match(r"([a-z][a-z-]*)", s,
                                re.IGNORECASE).group(1).lower()
                rest2 = s[len(verb):].strip()
                if verb in ("sort", "order"):
                    # becomes the in-force order for a later take/
                    # limit (per-key top), extend window or scan; no
                    # physical sort — partition output order is not
                    # guaranteed in Kusto either
                    pending = self._sort_specs(rest2)
                    self._ser_order = pending
                    self._ser_refs = self._sort_ref_names(rest2)
                    continue
                if verb in ("take", "limit"):
                    if not re.fullmatch(r"\d+", rest2):
                        raise KqlError(
                            f"KQL: {verb} needs a row count, "
                            f"got {rest2!r}")
                    # unsorted take is arbitrary-N in Kusto too; a
                    # constant window order makes that explicit
                    orders = (self._ordered(pending) if pending
                              else [F.lit(0).asc()])
                    cur = self._grouped_limit(cur, pk, orders,
                                              int(rest2))
                    continue
                if verb == "top":
                    m = re.match(r"(\d+)\s+by\s+(.*)", rest2,
                                 re.DOTALL | re.IGNORECASE)
                    if not m:
                        raise KqlError(
                            f"KQL: top needs 'top N by expr', "
                            f"got {rest2!r}")
                    specs = self._sort_specs(m.group(2))
                    cur = self._grouped_limit(
                        cur, pk, self._ordered(specs), int(m.group(1)))
                    # Kusto top serializes its output by its own keys
                    pending = specs
                    self._ser_order = specs
                    self._ser_refs = self._sort_ref_names(m.group(2))
                    continue
                if verb == "summarize":
                    cur = self._summarize(cur, rest2, extra_keys=(pk,))
                    pending = None
                    self._ser_order = None
                    self._ser_refs = set()
                    continue
                if verb == "count":
                    if rest2:
                        raise KqlError("KQL: count takes no arguments")
                    cur = cur.groupBy(pk).agg(
                        F.count(F.lit(1)).alias("Count"))
                    pending = None
                    self._ser_order = None
                    self._ser_refs = set()
                    continue
                if verb == "distinct":
                    if rest2 == "*":
                        cur = cur.distinct()
                    else:
                        cols = [c.strip() for c in rest2.split(",")]
                        missing = [c for c in cols
                                   if c not in cur.columns]
                        if missing:
                            raise KqlError(
                                f"KQL: distinct of unknown column(s) "
                                f"{missing}")
                        cur = cur.select(pk, *cols).distinct()
                    pending = None
                    self._ser_order = None
                    self._ser_refs = set()
                    continue
                if verb == "top-hitters":
                    cur = self._grouped_top_hitters(cur, pk, rest2)
                    pending = None
                    self._ser_order = None
                    self._ser_refs = set()
                    continue
                if verb in ("project", "project-keep",
                            "project-reorder"):
                    # thread the hidden key through column-list verbs
                    cur = self.apply_stage(cur, f"{s}, {pk}")
                    continue
                cur = self.apply_stage(cur, s)
                if pk not in cur.columns:
                    raise KqlError(
                        f"KQL: the partition body's `{verb}` removed "
                        "the internal partition key (a glob matched "
                        "every column) — name the columns to keep, or "
                        "use hint.strategy=legacy")
        finally:
            self._ser_order, self._ser_refs, self._ser_pk = ser_saved
        return cur.drop(pk) if pk in cur.columns else cur

    def _grouped_top_hitters(self, df: DataFrame, pk: str,
                             rest: str) -> DataFrame:
        n, col, name, agg = self._parse_top_hitters(rest)
        grouped = df.groupBy(pk, col).agg(agg)
        return self._grouped_limit(
            grouped, pk, [F.col(name).desc(), F.col(col).asc()], n)

    def _partition_branch(self, df: DataFrame, key: str,
                          body: str) -> DataFrame:
        stages = _split_stages(body)
        for st in stages:
            m = re.match(r"([a-z][a-z-]*)", st.strip(), re.IGNORECASE)
            verb = m.group(1).lower() if m else ""
            if verb in ("render", "as", "facet", "fork"):
                raise KqlError(
                    f"KQL: {verb} inside a partition body is not "
                    "supported (render closes the outermost pipeline; "
                    "as would bind once per branch)")
        rows = ([] if self._recording else df.select(key).distinct()
                .limit(self._PARTITION_MAX + 1).collect())
        vals = [r[0] for r in rows]
        if len(vals) > self._PARTITION_MAX:
            raise KqlError(
                f"KQL: partition by {key} exceeds "
                f"{self._PARTITION_MAX} distinct values (the Kusto "
                "legacy-strategy limit this branch mode mirrors) — "
                "restructure the body to a vectorizable shape "
                "(where/extend/project*/parse/search/mv-*/summarize/"
                "top/sort+take/take/distinct/count/top-hitters and "
                "left-preserving joins) or pre-bucket the key")

        def _apply(sub: DataFrame) -> DataFrame:
            # each branch compiles the body from a fresh order state;
            # the body's own `sort` must not leak past the partition
            ser_saved = (self._ser_order, self._ser_refs,
                         self._ser_pk)
            self._ser_order = None
            self._ser_refs = set()
            self._ser_pk = None
            try:
                for st in stages:
                    sub = self.apply_stage(sub, st)
                return sub
            finally:
                self._ser_order, self._ser_refs, self._ser_pk = ser_saved

        if not vals:
            # empty input = zero partitions = zero rows (Kusto, and
            # the vectorized groupBy). Still compile the body once so
            # schema and any body errors surface — but limit(0): an
            # ungrouped aggregate body (count, summarize with no by)
            # would otherwise emit its one seed row (r12 review)
            out = _apply(df.filter(F.lit(False))).limit(0)
            if self._recording:  # every read since the pipeline began
                log = self.reads.log
                log[self._since:] = [
                    r._replace(refs=r.refs * self._PARTITION_MAX)
                    for r in log[self._since:]]
            return out
        branches = []
        for v in vals:
            sub = (df.filter(F.col(key).isNull()) if v is None
                   else df.filter(F.col(key) == F.lit(v)))
            branches.append(_apply(sub))
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    _SCAN_RE = re.compile(
        r"(?:with_match_id\s*=\s*([A-Za-z_]\w*)\s+)?with\s*\((.*)\)\s*$",
        re.DOTALL | re.IGNORECASE)

    def _scan(self, df: DataFrame, rest: str) -> DataFrame:
        """``scan [with_match_id = M] with ( step s1: cond; … )`` —
        Kusto's sequence-matching operator, the PREDICATE-STEP subset
        (``declare (…)`` state variables and ``=>`` assignments are
        refused with the rewrite: compute derived columns with
        ``extend`` before the scan; ``output=`` other than the default
        ``all`` is refused).

        Exact state machine, per serialization group (documented —
        the simple-sequence behavior of Kusto's scan): one active
        sequence at a time, position ``pos`` = steps completed so far
        (0 = idle). For each record in the in-force ``sort by`` order,
        in preference order: (1) it ADVANCES if it satisfies step
        ``pos+1`` (starting a new sequence/match id when idle);
        (2) else it REPEATS the current step greedily if it satisfies
        step ``pos``; (3) else it RESTARTS a new sequence if it
        satisfies step 1; otherwise it is dropped and the state holds.
        Matching records are emitted; when the final step matches, the
        sequence completes and the machine returns to idle. Match ids
        are 1-based per group.

        Spark shape: step conditions compile to BOOLEAN COLUMNS via
        the normal expression parser — evaluated JVM-side in codegen —
        and the serialization order is established by a JVM
        repartition + sortWithinPartitions on the group key (asc =
        NULLS FIRST / desc = NULLS LAST, Spark's defaults). The state
        machine itself runs in ``mapInPandas``: one Python call per
        Arrow batch (not per group), carrying (key, pos, match-id)
        across batch boundaries, so groups never materialize whole in
        pandas and only the kept columns + step booleans + key cross
        the boundary. Single-step scans vectorize outright (emit =
        step predicate, match id = segmented running count). The
        group key is the hidden partition column inside a vectorized
        ``partition`` body (per-key scans, the shape that
        distributes: ``partition by user ( sort by ts | scan … )``);
        a bare global scan runs as ONE ordered partition — same cost
        center as Kusto's own serialized execution.
        """
        rest = rest.strip()
        if re.match(r"(?:with_match_id\s*=\s*[A-Za-z_]\w*\s+)?"
                    r"declare\b", rest, re.IGNORECASE):
            raise KqlError(
                "KQL: scan declare(…) state variables are not "
                "supported — steps are row predicates here; compute "
                "derived columns with `extend` (or serialized "
                "row_cumsum/prev) before the scan")
        m = self._SCAN_RE.match(rest)
        if not m:
            raise KqlError(
                "KQL: scan takes `scan [with_match_id = Name] with "
                f"( step s1: cond; … )`, got {rest!r}")
        mid_col = m.group(1)
        if mid_col and mid_col in df.columns:
            raise KqlError(
                f"KQL: scan with_match_id={mid_col} collides with an "
                "existing column")
        steps: list[tuple[str, Column]] = []
        for part in _split_on_top_level(m.group(2), ";"):
            sm = re.match(
                r"step\s+([A-Za-z_]\w*)\s*"
                r"(?:output\s*=\s*(\w+)\s*)?:\s*(.*)$",
                part, re.DOTALL | re.IGNORECASE)
            if not sm:
                raise KqlError(
                    f"KQL: scan step must be `step name: condition`, "
                    f"got {part!r}")
            out_mode = (sm.group(2) or "all").lower()
            if out_mode != "all":
                raise KqlError(
                    f"KQL: scan step output={out_mode} is not "
                    "supported (only the default output=all)")
            cond_src = sm.group(3).strip()
            if re.search(r"=>", cond_src):
                raise KqlError(
                    "KQL: scan step assignments (`=> x = …`) are not "
                    "supported — steps are row predicates; compute "
                    "derived columns with `extend` before the scan")
            toks = _tokenize(cond_src)
            p = _ExprParser(toks, df=df)
            cond = p.parse()
            _expect_next(toks, p.i, (), f"scan step {sm.group(1)}")
            steps.append((sm.group(1), cond))
        if not steps:
            raise KqlError("KQL: scan needs at least one step")
        if self._ser_order is None:
            raise KqlError(
                "KQL: scan needs a serialized input — `sort by …` "
                "first (inside `partition by Col ( sort by … | "
                "scan … )` for per-key scans)")

        from pyspark.sql.types import LongType, StructField, StructType

        nsteps = len(steps)
        # collision-guard the working columns like the partition key
        # (a frame column literally named __scan_s0 must not be
        # silently overwritten — r12 review)
        base = "__scan_"
        while any(c.startswith(base) for c in df.columns):
            base += "_"
        scols = [f"{base}s{i}" for i in range(nsteps)]
        work = df
        for c, (_nm, cond) in zip(scols, steps):
            work = work.withColumn(c, cond.cast("boolean"))
        gcol = self._ser_pk
        if gcol is None:
            gcol = f"{base}g"
            work = work.withColumn(gcol, F.lit(0))
        keep = [f.name for f in df.schema.fields]
        fields = list(df.schema.fields)
        if mid_col:
            fields.append(StructField(mid_col, LongType()))
        out_schema = StructType(fields)

        # Shuffle once on the group key, ORDER IN THE JVM (asc = NULLS
        # FIRST / desc = NULLS LAST, Spark's defaults — the exact
        # placement the old per-group pandas sort emulated), then run
        # the machine with mapInPandas: one Python call per Arrow
        # batch instead of one per group (1 500 tiny groups at sf0.1
        # paid pandas construction + sort + concat each), the sort
        # keys never cross the Python boundary, and a group larger
        # than one batch streams through carried state instead of
        # materializing whole in one pandas frame — the applyInPandas
        # group-at-a-time contract was the one memory cliff in this
        # operator at 100 TB group sizes.
        order = [expr.asc() if a else expr.desc()
                 for expr, a in self._ser_order]
        ship = keep + scols + ([gcol] if gcol not in keep else [])
        work = (
            work.repartition(F.col(gcol))
            .sortWithinPartitions(F.col(gcol).asc(), *order)
            .select(*ship)
        )

        def machine(batches):
            import numpy as np

            carry_key = None          # (isnull, value) of running group
            carry_pos = 0
            carry_mid = 0
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                keys = pdf[gcol]
                isna = keys.isna().to_numpy()
                vals = keys.to_numpy()
                same_prev = np.zeros(n, dtype=bool)
                if n > 1:
                    nn = ~isna[1:] & ~isna[:-1]
                    eq = np.zeros(n - 1, dtype=bool)
                    eq[nn] = vals[1:][nn] == vals[:-1][nn]
                    same_prev[1:] = (isna[1:] & isna[:-1]) | eq
                if carry_key is not None:
                    k_na, k_val = carry_key
                    same_prev[0] = (k_na and bool(isna[0])) or (
                        not k_na and not isna[0] and vals[0] == k_val)
                newgrp = ~same_prev
                sbool = pdf[scols].fillna(False).to_numpy(dtype=bool)
                if nsteps == 1:
                    # single-step machine degenerates to emit = step1,
                    # mid = running match count per group — segmented
                    # cumsum, fully vectorized
                    emit = sbool[:, 0]
                    cum = np.cumsum(emit)
                    run = np.maximum.accumulate(
                        np.where(newgrp, cum - emit, -1))
                    mids = np.where(run >= 0, cum - run, cum + carry_mid)
                    carry_mid = int(mids[-1])
                else:
                    emit = np.zeros(n, dtype=bool)
                    mids = np.zeros(n, dtype="int64")
                    pos = carry_pos
                    mid = carry_mid
                    for r in range(n):
                        if newgrp[r]:
                            pos = 0
                            mid = 0
                        if pos < nsteps and sbool[r, pos]:      # advance
                            if pos == 0:
                                mid += 1
                            pos += 1
                        elif pos >= 1 and sbool[r, pos - 1]:    # repeat
                            pass
                        elif sbool[r, 0]:                       # restart
                            mid += 1
                            pos = 1
                        else:
                            continue                            # hold
                        emit[r] = True
                        mids[r] = mid
                        if pos == nsteps:                       # done
                            pos = 0
                    carry_pos = pos
                    carry_mid = mid
                carry_key = (bool(isna[-1]), vals[-1])
                if not emit.any():
                    continue
                out = pdf.loc[emit, keep]
                if mid_col:
                    out = out.assign(**{mid_col: mids[emit]})
                yield out

        return work.mapInPandas(machine, out_schema)

    def _search(self, df: DataFrame, rest: str) -> DataFrame:
        """``search [kind=case_insensitive|case_sensitive] 'term'`` —
        Kusto's cross-column grep: keep rows where ANY column's string
        rendering contains the term (case-insensitive by default).
        Compiles to one OR-of-contains predicate over every column —
        scan-side, codegen, pushable; no Python. The richer search
        grammar (column predicates, wildcards, `search in (T1, T2)`)
        is out of dialect — use `where` / `union` compositions."""
        m = re.match(r"(?:kind\s*=\s*(\w+)\s+)?(.+)$", rest.strip(),
                     re.DOTALL)
        if not m:
            raise KqlError("KQL: search needs `search ['kind='…] 'term'`")
        kind = (m.group(1) or "default").lower()
        if kind not in ("default", "case_insensitive",
                        "case_sensitive"):
            raise KqlError(
                f"KQL: unsupported search kind {kind!r} (have: "
                "case_insensitive, case_sensitive)")
        toks = _tokenize(m.group(2))
        if len(toks) != 1 or toks[0].kind != "string":
            raise KqlError(
                "KQL: search term must be a single string literal, "
                f"got {m.group(2).strip()!r}")
        term = toks[0].text
        if not df.columns:
            raise KqlError("KQL: search on a zero-column input")
        cs = kind == "case_sensitive"
        cond = None
        for c in df.columns:
            col = F.col(c).cast("string")
            p = (col.contains(term) if cs
                 else F.lower(col).contains(term.lower()))
            cond = p if cond is None else (cond | p)
        return df.filter(cond)

    def _evaluate(self, df: DataFrame, rest: str) -> DataFrame:
        """``evaluate <plugin>(args)`` — the Kusto plugin operator.
        Supported plugins (the two a real ARG/dashboard port hits
        first): ``pivot(PivotColumn [, agg(Expr) [, KeyCol, …]])`` and
        ``bag_unpack(DynamicColumn [, 'prefix'])``.

        ``pivot``: groupBy the key columns (default: every column
        that is neither the pivot column nor an input of the
        aggregate), pivot on the column's DISTINCT VALUES, apply the
        aggregate (default ``count()``). Spark's pivot-without-values
        runs one extra distinct-values job at plan time — the same
        schema-inference scan Kusto's plugin performs; pass explicit
        key columns to keep the group-by narrow at scale. Empty cells
        are null (Spark aggregate-over-no-rows semantics; Kusto's
        count() pivot emits 0 — divergence documented in README
        dialect notes).

        ``bag_unpack``: expands a dynamic column (Spark map, or the
        compiler's JSON-string dynamic representation) into one
        column per key, sorted by key name, original column dropped.
        Key discovery is one distributed distinct-keys job (again the
        plugin's own schema-inference cost); JSON values surface as
        strings (Kusto infers scalar types — README dialect notes)."""
        from pyspark.sql.types import MapType, StringType

        m = re.match(r"([A-Za-z_]\w*)\s*\((.*)\)\s*$", rest.strip(),
                     re.DOTALL)
        if not m:
            raise KqlError(
                "KQL: evaluate needs `evaluate plugin(args…)`")
        plugin = m.group(1).lower()
        args = _split_top_commas(m.group(2)) if m.group(2).strip() \
            else []
        if plugin == "pivot":
            # pivot AGGREGATES rows: the in-force serialization dies
            # here even when a sort column survives as a key column
            self._ser_order = None
            self._ser_refs = set()
            if not args or not args[0].strip():
                raise KqlError(
                    "KQL: evaluate pivot needs `pivot(PivotColumn "
                    "[, agg(Expr) [, KeyCol, …]])`")
            pcol = args[0].strip()
            if pcol not in df.columns:
                raise KqlError(
                    f"KQL: pivot of unknown column {pcol!r}")
            agg = F.count(F.lit(1))
            agg_inputs: set[str] = set()
            if len(args) > 1 and args[1].strip():
                toks = _tokenize(args[1])
                p = _ExprParser(toks)
                agg = p.parse()
                if p.i != len(toks):
                    raise KqlError(
                        "KQL: trailing tokens in pivot aggregate "
                        f"{args[1].strip()!r}")
                # function-call heads are NOT column inputs: with a
                # column literally named `sum`, `pivot(et, sum(v))`
                # must not silently drop `sum` from the implicit
                # group-by (r11 review — same guard as
                # _apply_scalar_lets)
                agg_inputs = {
                    t.text for i, t in enumerate(toks)
                    if t.kind == "ident" and t.text in df.columns
                    and not (i + 1 < len(toks)
                             and toks[i + 1].kind == "op"
                             and toks[i + 1].text == "(")}
            keys = [a.strip() for a in args[2:] if a.strip()]
            missing = [k for k in keys if k not in df.columns]
            if missing:
                raise KqlError(
                    f"KQL: pivot key column(s) {missing} not found")
            if not keys:
                keys = [c for c in df.columns
                        if c != pcol and c not in agg_inputs]
            if self._recording:
                raise _RecordAborted("pivot")
            return df.groupBy(*keys).pivot(pcol).agg(agg)
        if plugin == "bag_unpack":
            if not args or not args[0].strip():
                raise KqlError(
                    "KQL: evaluate bag_unpack needs "
                    "`bag_unpack(DynamicColumn [, 'prefix'])`")
            cname = args[0].strip()
            if cname not in df.columns:
                raise KqlError(
                    f"KQL: bag_unpack of unknown column {cname!r}")
            prefix = ""
            if len(args) > 1 and args[1].strip():
                ptoks = _tokenize(args[1])
                if len(ptoks) != 1 or ptoks[0].kind != "string":
                    raise KqlError(
                        "KQL: bag_unpack prefix must be a string "
                        f"literal, got {args[1].strip()!r}")
                prefix = ptoks[0].text
            dtype = df.schema[cname].dataType
            col = F.col(cname)
            if isinstance(dtype, MapType):
                keys_df = df.select(
                    F.explode(F.map_keys(col)).alias("k")).distinct()

                def _get(k: str) -> Column:
                    return col.getItem(k)
            elif isinstance(dtype, StringType):
                keys_df = df.select(
                    F.explode(F.json_object_keys(col)).alias("k")
                ).distinct()

                def _get(k: str) -> Column:
                    if k == "":
                        # get_json_object can't address an empty key
                        # ($[''] is an invalid path → null); lift the
                        # flat bag to a map and index it instead
                        return F.from_json(
                            col, "map<string,string>").getItem("")
                    esc = k.replace("'", "\\'")
                    return F.get_json_object(col, f"$['{esc}']")
            else:
                raise KqlError(
                    f"KQL: bag_unpack column {cname!r} must be "
                    "dynamic (map or JSON string), got "
                    f"{dtype.simpleString()}")
            # key discovery is a driver collect and each key becomes
            # an output COLUMN: a high-cardinality bag (ids as keys —
            # the classic mistake) would OOM the driver and produce a
            # million-column plan at 100 TB. Cap it LOUDLY; Spark's
            # own pivot has the same guard (spark.sql.pivotMaxValues).
            if self._recording:
                raise _RecordAborted("bag_unpack")
            max_keys = int(os.environ.get(
                "CORKSCREW_BAG_UNPACK_MAX_KEYS", "1000"))
            key_rows = keys_df.limit(max_keys + 1).collect()
            if len(key_rows) > max_keys:
                raise KqlError(
                    f"KQL: bag_unpack of {cname!r} found more than "
                    f"{max_keys} distinct keys — each key becomes an "
                    "output column, so this bag is keyed on values, "
                    "not fields; mv-expand + summarize is the "
                    "scalable shape (raise CORKSCREW_BAG_UNPACK_"
                    "MAX_KEYS to override)")
            # keys may be non-string (map<int,…> bags): the COLUMN
            # name is the key's string rendering, the lookup keeps the
            # original typed key (r11 review: `prefix + int_key` was a
            # raw TypeError escaping the KqlError contract). Falsy-
            # but-real keys (0, '') still unpack — only null keys are
            # skipped; an empty-string key needs a prefix to yield a
            # usable column name (r11 ADVICE: '' was silently dropped).
            keys = sorted((r["k"] for r in key_rows
                           if r["k"] is not None), key=str)
            if any(str(k) == "" for k in keys) and not prefix:
                raise KqlError(
                    f"KQL: bag_unpack of {cname!r} found an "
                    "empty-string key, which would produce an unnamed "
                    "output column — pass a prefix: "
                    "bag_unpack(col, 'p_')")
            others = [c for c in df.columns if c != cname]
            clash = [prefix + str(k) for k in keys
                     if prefix + str(k) in others]
            if clash:
                raise KqlError(
                    f"KQL: bag_unpack output column(s) {clash} "
                    "collide with existing columns — pass a prefix")
            return df.select(
                *others,
                *[_get(k).alias(prefix + str(k)) for k in keys])
        if plugin == "narrow":
            if args:
                raise KqlError("KQL: evaluate narrow() takes no "
                               "arguments")
            # Kusto's transpose plugin: one output row per (input
            # row, column) with Row/Column/Value. Kusto assigns Row
            # by serialization order, which is UNSPECIFIED on an
            # unsorted table — this compiler requires an in-force
            # `sort by` so Row is deterministic (and per-key inside a
            # vectorized partition body). The transpose itself is a
            # single JVM-side explode of a struct array — wide tables
            # cost rows×cols output, which is narrow()'s contract.
            if self._ser_order is None:
                raise KqlError(
                    "KQL: evaluate narrow() needs a serialized input "
                    "for a deterministic Row — `sort by …` first")
            orders = self._ordered(self._ser_order)
            w = (Window.partitionBy(self._ser_pk).orderBy(*orders)
                 if self._ser_pk is not None
                 else Window.orderBy(*orders))
            cols = [c for c in df.columns if c != self._ser_pk]
            # collision-guard the working names: an input column
            # literally named Row would otherwise have its transposed
            # Value replaced by the row number (withColumn resolves
            # before the pairs array does — r12 review); same guard
            # class as scan's working columns
            rn = "__nrow"
            while rn in df.columns:
                rn += "_"
            pc = "__npair"
            while pc in df.columns:
                pc += "_"
            pairs = F.array(*[
                F.struct(F.lit(c).alias("Column"),
                         F.col(c).cast("string").alias("Value"))
                for c in cols])
            pk_sel = [self._ser_pk] if self._ser_pk else []
            out = (df.withColumn(
                       rn, (F.row_number().over(w) - 1).cast("long"))
                   .select(*pk_sel, F.col(rn),
                           F.explode(pairs).alias(pc))
                   .select(*pk_sel, F.col(rn).alias("Row"),
                           F.col(f"{pc}.Column").alias("Column"),
                           F.col(f"{pc}.Value").alias("Value")))
            # the transpose retires the input's serialization — and
            # when a sort column was itself named Row/Column/Value the
            # refs net would NOT catch it (the new Row has one tie per
            # input row: a later row_number would be nondeterministic
            # — r12 review 3); same explicit clearing as pivot
            self._ser_order = None
            self._ser_refs = set()
            return out
        raise KqlError(
            f"KQL: unsupported evaluate plugin {plugin!r} "
            "(have: pivot, bag_unpack, narrow)")

    # -- stage impls ---------------------------------------------------------
    def _mv_apply(self, df: DataFrame, rest: str) -> DataFrame:
        """``mv-apply col on ( stages... | summarize aggs )`` — run a
        subpipeline over each record's expanded array elements and emit
        one row per surviving record with the aggregate results attached
        (Kusto mv-apply with the usual summarize-terminated body).

        Compiled as: tag records with a per-plan row id, explode the
        array, apply the inner stages as ordinary operators, then group
        the final summarize by the row id and join back — the row id
        never escapes, so results stay deterministic. Records whose
        expanded rows are all filtered away drop out (Kusto semantics).
        """
        m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s+on\s*\((.*)\)\s*$",
                     rest, re.DOTALL | re.IGNORECASE)
        if not m:
            raise KqlError(f"KQL: cannot parse mv-apply stage {rest!r}")
        col, inner = m.group(1), m.group(2)
        if col not in df.columns:
            raise KqlError(f"KQL: mv-apply of unknown column {col!r}")
        tagged = df.withColumn("__mvrow", F.monotonically_increasing_id())
        expanded = tagged.withColumn(col, F.explode(col))
        stages = _split_stages(inner)
        if not stages:
            raise KqlError("KQL: empty mv-apply subquery")
        for st in stages[:-1]:
            expanded = self.apply_stage(expanded, st)
        last = stages[-1].strip()
        lm = re.match(r"summarize\s+(.*)", last, re.DOTALL | re.IGNORECASE)
        if not lm:
            raise KqlError("KQL: mv-apply subquery must end with summarize")
        srest = lm.group(1).strip()
        # does the summarize have a `by` clause? Decide on TOKENS — a
        # regex over the text also matches 'by' inside string literals
        # (countif(x has 'by')) and would mint a malformed summarize
        has_by = any(t.kind == "ident" and t.text.lower() == "by"
                     for t in _tokenize(srest))
        srest += (", __mvrow" if has_by else " by __mvrow")
        agg = self._summarize(expanded, srest)
        return tagged.join(agg, "__mvrow").drop("__mvrow")

    def _project(self, df: DataFrame, rest: str) -> DataFrame:
        toks = _tokenize(rest)
        # a COMPUTED project item whose target shares a name with an
        # in-force sort column (`project v = -v`) keeps the name alive
        # while changing its values — the refs-subset net can't see it
        # (r12 review 2-1), so invalidate the serialization here, same
        # contract as extend
        if self._ser_order is not None and self._ser_refs \
                and self._assign_targets(toks) & self._ser_refs:
            self._ser_order = None
            self._ser_refs = set()
        cols: list[Column] = []
        i = 0
        k = 0
        while i < len(toks):
            t = toks[i]
            name = None
            if (t.kind == "ident" and i + 1 < len(toks)
                    and toks[i + 1].kind == "op" and toks[i + 1].text == "="):
                name = t.text
                i += 2
            p = _ExprParser(toks, i, df=df)
            col = p.parse()
            if name is None:
                name = _expr_name(toks, i, p.i, f"Column{k + 1}")
            i = p.i
            cols.append(col.alias(name))
            k += 1
            _expect_next(toks, i, (",",), "project")
            if i < len(toks):
                i += 1
        return df.select(*cols)

    #: Kusto serialized row functions — compile to window functions
    #: over the pipeline's in-force `sort by` order (per partition key
    #: inside a vectorized `partition` body — the shape that scales;
    #: a bare global sort makes a single-partition window, same cost
    #: center as Kusto's own serialized execution)
    _SERIALIZED_FNS = frozenset({
        "row_number", "prev", "next", "row_cumsum",
    })

    def _serialized_window(self, toks: list[_Tok]):
        """WindowSpec for an extend stage that calls serialized row
        functions, or None (no such call, or no order in force — the
        parser raises the precise error at the call site)."""
        used = any(
            t.kind == "ident" and t.text.lower() in self._SERIALIZED_FNS
            and j + 1 < len(toks) and toks[j + 1].kind == "op"
            and toks[j + 1].text == "("
            for j, t in enumerate(toks))
        if not used or self._ser_order is None:
            return None
        orders = self._ordered(self._ser_order)
        if self._ser_pk is not None:
            return Window.partitionBy(self._ser_pk).orderBy(*orders)
        return Window.orderBy(*orders)

    @staticmethod
    def _assign_targets(toks: list[_Tok]) -> set[str]:
        """Top-level ``Name = expr`` assignment targets of an extend/
        project token stream — ONE implementation so the two
        serialization guards cannot drift (r12 review 3)."""
        return {toks[i].text for i in range(len(toks) - 1)
                if toks[i].kind == "ident"
                and toks[i + 1].kind == "op"
                and toks[i + 1].text == "="
                and (i == 0 or toks[i - 1].text == ",")}

    def _extend(self, df: DataFrame, rest: str) -> DataFrame:
        toks = _tokenize(rest)
        # an extend that OVERWRITES a column the in-force sort
        # references would silently re-derive the order (Kusto fixes
        # serialization at sort time): refuse when this very stage
        # also windows over it, invalidate for later stages otherwise
        if self._ser_order is not None and self._ser_refs:
            hit = self._assign_targets(toks) & self._ser_refs
            if hit:
                if self._serialized_window(toks) is not None:
                    raise KqlError(
                        f"KQL: extend overwrites sort column(s) "
                        f"{sorted(hit)} in the same stage that uses "
                        "serialized row functions — Kusto fixes the "
                        "serialization at sort time; compute the "
                        "window first, then overwrite in a second "
                        "extend, or re-sort")
                self._ser_order = None
                self._ser_refs = set()
        w = self._serialized_window(toks)
        i = 0
        while i < len(toks):
            t = toks[i]
            if t.kind != "ident" or i + 1 >= len(toks) or toks[i + 1].text != "=":
                raise KqlError(f"KQL: extend needs Name = expr at {t.pos}")
            name = t.text
            p = _ExprParser(toks, i + 2, window=w, df=df)
            df = df.withColumn(name, p.parse())
            i = p.i
            _expect_next(toks, i, (",",), "extend")
            if i < len(toks):
                i += 1
        return df

    def _summarize(self, df: DataFrame, rest: str,
                   extra_keys: tuple[str, ...] = ()) -> DataFrame:
        """``extra_keys`` prepends engine-internal grouping columns
        (the vectorized ``partition`` operator's hidden key) to the
        user's ``by`` list — they group but are never renamed."""
        toks = _tokenize(rest)
        aggs: list[Column] = []
        i = 0
        k = 0
        while i < len(toks):
            t = toks[i]
            if t.kind == "ident" and t.text.lower() == "by":
                break
            name = None
            if (t.kind == "ident" and i + 1 < len(toks)
                    and toks[i + 1].kind == "op" and toks[i + 1].text == "="):
                name = t.text
                i += 2
            p = _ExprParser(toks, i, df=df)
            col = p.parse()
            if name is None:
                # KQL names a bare agg call after the function: count_, sum_x
                if (toks[i].kind == "ident" and i + 1 < len(toks)
                        and toks[i + 1].text == "("):
                    name = toks[i].text.lower() + "_"
                else:
                    name = _expr_name(toks, i, p.i, f"agg{k + 1}")
            i = p.i
            aggs.append(col.alias(name))
            k += 1
            _expect_next(toks, i, (",", "by"), "summarize")
            if i < len(toks) and toks[i].kind == "op" and toks[i].text == ",":
                i += 1
        keys: list[Column] = []
        if i < len(toks):  # 'by' clause
            i += 1
            while i < len(toks):
                t = toks[i]
                name = None
                if (t.kind == "ident" and i + 1 < len(toks)
                        and toks[i + 1].kind == "op" and toks[i + 1].text == "="):
                    name = t.text
                    i += 2
                p = _ExprParser(toks, i, df=df)
                col = p.parse()
                if name is None:
                    name = _expr_name(toks, i, p.i, f"key{len(keys) + 1}")
                i = p.i
                keys.append(col.alias(name))
                _expect_next(toks, i, (",",), "summarize by")
                if i < len(toks):
                    i += 1
        if not aggs:
            aggs = [F.count(F.lit(1)).alias("count_")]
        gkeys = [F.col(k) for k in extra_keys] + keys
        if gkeys:
            return df.groupBy(*gkeys).agg(*aggs)
        return df.agg(*aggs)

    @staticmethod
    def _glob_cols(df: DataFrame, rest: str, verb: str) -> list[str]:
        """Resolve a project-away/keep/reorder column list with
        Kusto's `*` WILDCARD support (`project-away tmp_*`): each item
        is a plain name (must exist) or a glob expanding to matching
        columns in table order; a glob matching nothing is fine on
        project-away (nothing to drop) and an error on keep/reorder
        (Kusto errors there too). Duplicates dedupe first-wins."""
        import fnmatch

        out: list[str] = []
        seen: set[str] = set()
        items = 0
        for item in rest.split(","):
            item = item.strip()
            if not item:
                continue
            items += 1
            if "*" in item:
                hits = [c for c in df.columns
                        if fnmatch.fnmatchcase(c, item)]
                if not hits and verb != "project-away":
                    raise KqlError(
                        f"KQL: {verb} pattern {item!r} matches no "
                        "column")
                for c in hits:
                    if c not in seen:
                        seen.add(c)
                        out.append(c)
            else:
                if item not in df.columns:
                    raise KqlError(
                        f"KQL: {verb} of unknown column(s) "
                        f"['{item}']")
                if item not in seen:
                    seen.add(item)
                    out.append(item)
        if not items:
            # an empty list compiled to df.select() — a silent
            # zero-column frame — on keep (r11 review 3); Kusto
            # rejects an empty column list on all three verbs
            raise KqlError(f"KQL: {verb} needs at least one column")
        return out

    def _project_rename(self, df: DataFrame, rest: str) -> DataFrame:
        for pair in rest.split(","):
            m = re.fullmatch(r"\s*(\w+)\s*=\s*(\w+)\s*", pair)
            if not m:
                raise KqlError(f"KQL: project-rename needs New = Old, got {pair!r}")
            new, old = m.group(1), m.group(2)
            if old not in df.columns:
                raise KqlError(f"KQL: project-rename of unknown column {old!r}")
            if new != old and new in df.columns:
                # Kusto errors on the name conflict too; without this
                # the frame carries DUPLICATE column names and the
                # first later reference dies in analysis with a raw
                # AMBIGUOUS_REFERENCE (r12 close probe)
                raise KqlError(
                    f"KQL: project-rename target {new!r} already "
                    "exists — project it away first")
            df = df.withColumnRenamed(old, new)
        return df

    #: parse capture type → (Spark cast type, regex fragment)
    _PARSE_TYPES = {
        "string": "string", "long": "long", "int": "int",
        "real": "double", "double": "double", "bool": "boolean",
        "datetime": "timestamp",
    }

    def _parse(self, df: DataFrame, rest: str, where: bool = False) -> DataFrame:
        """`parse Expr with 'lit' Name[:type] 'lit' Name2 ...` — simple
        mode: literals anchor non-greedy captures, the final capture runs
        to end-of-string (Kusto parse-operator semantics). `*` skips.
        Compiles to ONE anchored regex evaluated per capture with
        regexp_extract — pure JVM, no UDF.

        ``where=True`` is the `parse-where` operator: identical pattern,
        but rows whose source does NOT match are dropped (rlike on the
        same anchored regex — one more JVM predicate, pushable) instead
        of surviving with null captures.

        `kind=regex` treats the string fragments as RAW regex (Kusto
        regex mode) instead of escaping them. A fragment may contain
        its own capturing groups: the capture indices fed to
        regexp_extract are resolved against a shadow pattern whose
        engine-owned captures are NAMED, so user groups can never
        steal a capture's position. Fragments should stick to syntax
        valid in both Python and Java regex (no (?P<…>) names)."""
        m = re.match(r"^\s*kind\s*=\s*(\w+)\s+(.*)$", rest,
                     re.DOTALL | re.IGNORECASE)
        regex_mode = False
        if m:
            kind = m.group(1).lower()
            if kind not in ("simple", "regex"):
                raise KqlError(f"KQL: parse kind must be simple or regex, "
                               f"got {kind!r}")
            regex_mode = kind == "regex"
            rest = m.group(2)
        toks = _tokenize(rest)
        p = _ExprParser(toks)
        src = p.parse().cast("string")
        i = p.i
        if not (i < len(toks) and toks[i].kind == "ident"
                and toks[i].text.lower() == "with"):
            raise KqlError("KQL: parse needs `parse Expr with <pattern>`")
        i += 1
        pattern = shadow = "^"
        captures: list[tuple[str, str]] = []  # (name, cast type)
        while i < len(toks):
            t = toks[i]
            if t.kind == "string":
                frag = t.text if regex_mode else re.escape(t.text)
                pattern += frag
                shadow += frag
                i += 1
            elif t.kind == "op" and t.text == "*":
                pattern += ".*?"
                shadow += ".*?"
                i += 1
            elif t.kind == "ident":
                name = t.text
                ctype = "string"
                i += 1
                if i < len(toks) and toks[i].kind == "op" and toks[i].text == ":":
                    if i + 1 >= len(toks) or toks[i + 1].kind != "ident" \
                            or toks[i + 1].text.lower() not in self._PARSE_TYPES:
                        raise KqlError(
                            f"KQL: parse capture type must be one of "
                            f"{sorted(self._PARSE_TYPES)} at {toks[i].pos}")
                    ctype = self._PARSE_TYPES[toks[i + 1].text.lower()]
                    i += 2
                captures.append((name, ctype))
                # last capture is greedy-to-end; non-last are lazy
                body = ".*" if i >= len(toks) else ".*?"
                pattern += f"({body})"
                shadow += f"(?P<__ck{len(captures)}>{body})"
            else:
                raise KqlError(f"KQL: unexpected token {t.text!r} in parse pattern")
        if not captures:
            raise KqlError("KQL: parse pattern has no captures")
        # capture indices via the named shadow: in regex mode user
        # fragments may add their own groups, shifting positions —
        # groupindex is numbering-identical between Python and Java
        # (left-to-right by open paren, named groups count in both)
        try:
            groupindex = re.compile(shadow).groupindex
        except re.error as ex:
            raise KqlError(f"KQL: invalid parse regex: {ex}") from None
        if where:
            df = df.filter(src.rlike(pattern))
        # a capture OVERWRITING an in-force sort column changes its
        # values while keeping the name alive — invalidate the
        # serialization, same contract as extend/project (r12 review)
        if self._ser_order is not None and self._ser_refs \
                and {name for name, _t in captures} & self._ser_refs:
            self._ser_order = None
            self._ser_refs = set()
        new_cols: dict[str, Column] = {}
        for k, (name, ctype) in enumerate(captures, start=1):
            got = F.regexp_extract(src, pattern, groupindex[f"__ck{k}"])
            # try_cast: the typed fragment's regex constrains the text,
            # but an overflowing `:long` (25 digits) or exotic float
            # must yield null, not an ANSI abort (Kusto semantics)
            col = F.when(got != "", got).try_cast(ctype) \
                if ctype != "string" else F.when(got != "", got)
            new_cols[name] = col
        # ONE withColumns: every capture resolves against the ORIGINAL
        # frame, so a capture that overwrites the parse SOURCE column
        # cannot corrupt the captures after it (r12 review 3 —
        # sequential withColumn rebound src to the already-overwritten
        # value and later captures extracted from it)
        return df.withColumns(new_cols)

    def _union(self, df: DataFrame, rest: str) -> DataFrame:
        """`union [kind=outer|inner] T2, (subquery), ...` — outer (the
        Kusto default) aligns by name and null-fills missing columns;
        inner keeps only columns common to every operand."""
        m = re.match(r"\s*kind\s*=\s*(outer|inner)\s+(.*)$", rest,
                     re.DOTALL | re.IGNORECASE)
        kind = "outer"
        if m:
            kind, rest = m.group(1).lower(), m.group(2)
        # `withsource=Col` labels every row with its source table name
        # (read the CURRENT pipeline's head before nested compiles
        # overwrite it)
        m = re.match(r"\s*withsource\s*=\s*([A-Za-z_]\w*)\s+(.*)$",
                     rest, re.DOTALL | re.IGNORECASE)
        src_col = None
        head_label = getattr(self, "_head_name", "source")
        if m:
            src_col, rest = m.group(1), m.group(2)
        operands = [df]
        labels = [head_label]
        for i, part in enumerate(_split_top_commas(rest)):
            part = part.strip()
            if part.startswith("("):
                if not part.endswith(")"):
                    raise KqlError(f"KQL: unbalanced parens in union operand {part!r}")
                operands.append(self.compile(part[1:-1].strip()))
                labels.append(f"union_arg{i}")
            elif re.match(r"(datatable|externaldata|print|range)\b",
                          part, re.IGNORECASE) \
                    and not re.fullmatch(r"[A-Za-z_]\w*", part):
                # bare table-less head as a union operand (Kusto
                # allows `union datatable(…)[…]` unparenthesized); a
                # bare NAME that merely equals a head keyword still
                # resolves as a table below
                operands.append(self.compile(part))
                labels.append(f"union_arg{i}")
            elif re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", part):
                operands.append(self._table(part, []))
                labels.append(part)
            else:
                raise KqlError(f"KQL: cannot parse union operand {part!r}")
        if src_col is not None:
            operands = [o.withColumn(src_col, F.lit(lab))
                        for o, lab in zip(operands, labels)]
        if kind == "inner":
            common = [c for c in operands[0].columns
                      if all(c in o.columns for o in operands[1:])]
            if not common:
                raise KqlError("KQL: union kind=inner with no common columns")
            operands = [o.select(*common) for o in operands]
        out = operands[0]
        for o in operands[1:]:
            out = out.unionByName(o, allowMissingColumns=(kind == "outer"))
        return out

    @staticmethod
    def _on_keys(onspec: str, verb: str) -> tuple[str, str]:
        """(left key, right key) of a join/lookup ``on`` spec: ``key`` or
        ``$left.a == $right.b``."""
        dollar = re.fullmatch(
            r"\$left\.(\w+)\s*==\s*\$right\.(\w+)", onspec)
        if dollar:
            return dollar.group(1), dollar.group(2)
        if re.fullmatch(r"\w+", onspec):
            return onspec, onspec
        raise KqlError(f"KQL: unsupported {verb} on-spec {onspec!r}")

    def _lookup(self, df: DataFrame, rest: str) -> DataFrame:
        """``lookup [kind=leftouter|inner] <Dim|(pipeline)> on key`` —
        Kusto's dimension-join verb: join semantics (leftouter
        default), but the right side is a DIMENSION table — always
        BROADCAST (the verb's whole point: enrich a fact stream
        without shuffling it) — and non-key column clashes are an
        ERROR (Kusto forbids them; no silent `1`-suffix renames like
        `join`)."""
        m = re.match(
            r"\s*(?:kind\s*=\s*([a-z]+)\s+)?"
            r"(\((?:.*)\)|[A-Za-z_]\w*)\s+on\s+(.+)$",
            rest, re.DOTALL | re.IGNORECASE)
        if not m:
            raise KqlError(
                "KQL: lookup needs `lookup [kind=...] <table> on <key>`,"
                f" got {rest!r}")
        kind = (m.group(1) or "leftouter").lower()
        how = {"leftouter": "left", "inner": "inner"}.get(kind)
        if how is None:
            raise KqlError(
                f"KQL: lookup supports kind=leftouter|inner, got {kind!r}")
        operand = m.group(2).strip()
        if operand.startswith("("):
            right = self.compile(operand[1:-1].strip())
        else:
            right = self._table(operand, [])
        lkey, rkey = self._on_keys(m.group(3).strip(), "lookup")
        clashes = sorted(c for c in right.columns
                         if c in df.columns and not (c == rkey == lkey))
        if clashes:
            raise KqlError(
                f"KQL: lookup right side duplicates column(s) {clashes} "
                "— project-away them first (Kusto forbids non-key "
                "clashes in lookup; use `join` for rename semantics)")
        if lkey == rkey:
            return df.join(F.broadcast(right), on=lkey, how=how)
        return df.join(F.broadcast(right),
                       df[lkey] == right[rkey], how=how)

    def _make_series(self, df: DataFrame, rest: str) -> DataFrame:
        """`make-series Name = agg() [default = lit][, ...] on TsExpr
        from datetime(..) to datetime(..) step <timespan> [by keys]`.

        Scale shape: one filter + one groupBy on (keys, bin) with map-side
        partial aggregation, then a broadcast-able grid join (|keys| ×
        nbins rows) and a collect_list per group — the series arrays are
        bounded by nbins, never by |input rows|. The timeline column gets
        the on-expression's name, mirroring Kusto's output."""
        m = re.match(
            r"(?P<series>.+?)\s+on\s+(?P<on>.+?)\s+from\s+(?P<from>datetime\([^)]*\))"
            r"\s+to\s+(?P<to>datetime\([^)]*\))\s+step\s+(?P<step>\S+)"
            r"(?:\s+by\s+(?P<by>.+))?$",
            rest.strip(), re.DOTALL | re.IGNORECASE)
        if not m:
            raise KqlError(
                "KQL: make-series needs `Name = agg() on Ts from datetime(..) "
                "to datetime(..) step <span> [by keys]`")

        def _epoch(lit: str) -> int:
            body = lit[lit.index("(") + 1:-1].strip()
            # datetime('2024-01-01') — the quoted form datetime() accepts
            # everywhere else in the compiler
            if len(body) >= 2 and body[0] in "'\"" and body[-1] == body[0]:
                body = body[1:-1]
            try:
                t = _datetime.datetime.fromisoformat(body.replace("Z", "+00:00"))
            except ValueError as ex:
                raise KqlError(
                    f"KQL: make-series bad datetime literal {body!r}: {ex}"
                ) from None
            if t.tzinfo is None:
                t = t.replace(tzinfo=_datetime.timezone.utc)
            return int(t.timestamp())


        start, end = _epoch(m.group("from")), _epoch(m.group("to"))
        step_tok = m.group("step")
        step = int(_timespan_seconds(step_tok)) if re.fullmatch(
            r"(?:\d+\.\d+|\d+)(?:ms|[dhms])", step_tok) else int(step_tok)
        if step <= 0 or end <= start:
            raise KqlError("KQL: make-series needs end > start and step > 0")
        nbins = -(-(end - start) // step)  # ceil

        # series specs: Name = agg() [default = lit]
        series: list[tuple[str, Column, object]] = []
        for spec in _split_top_commas(m.group("series")):
            sm = re.match(r"\s*(\w+)\s*=\s*(.+?)(?:\s+default\s*=\s*(\S+))?\s*$",
                          spec, re.DOTALL | re.IGNORECASE)
            if not sm:
                raise KqlError(f"KQL: bad make-series spec {spec!r}")
            name, agg_src, dflt = sm.group(1), sm.group(2), sm.group(3)
            toks = _tokenize(agg_src)
            agg_col = _ExprParser(toks).parse()
            default = None
            if dflt is not None:
                default = float(dflt) if "." in dflt else int(dflt)
            series.append((name, agg_col, default))

        on_toks = _tokenize(m.group("on"))
        on_p = _ExprParser(on_toks)
        ts_col = on_p.parse()
        ts_name = _expr_name(on_toks, 0, on_p.i, "timeline")

        keys: list[str] = []
        if m.group("by"):
            for k in _split_top_commas(m.group("by")):
                k = k.strip()
                if not re.fullmatch(r"\w+", k):
                    raise KqlError(f"KQL: make-series by-keys must be columns, got {k!r}")
                keys.append(k)

        epoch = F.unix_timestamp(ts_col)
        binned = (
            df.filter((epoch >= start) & (epoch < end))
            .withColumn("__bin", F.floor((epoch - F.lit(start)) / step).cast("long"))
        )
        agg_df = binned.groupBy(*keys, "__bin").agg(
            *[c.alias(f"__v_{j}") for j, (_, c, _d) in enumerate(series)])

        spark = df.sparkSession
        grid = spark.range(nbins).select(F.col("id").alias("__bin"))
        if keys:
            grid = binned.select(*keys).distinct().crossJoin(grid)
        joined = grid.join(agg_df, on=[*keys, "__bin"], how="left")

        out_aggs = []
        for j, (name, _c, default) in enumerate(series):
            v = F.col(f"__v_{j}")
            if default is not None:
                v = F.coalesce(v, F.lit(default))
            out_aggs.append(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("__bin"), v.alias("v")))),
                    lambda x: x["v"],
                ).alias(name))
        out_aggs.append(
            F.transform(
                F.sequence(F.lit(0), F.lit(nbins - 1)),
                lambda b: F.timestamp_seconds(F.lit(start) + b * step),
            ).alias(ts_name))
        if keys:
            return joined.groupBy(*keys).agg(*out_aggs)
        return joined.groupBy().agg(*out_aggs)

    def _mv_expand(self, df: DataFrame, rest: str) -> DataFrame:
        items: list[tuple[str, Column]] = []
        for part in _split_top_commas(rest):
            toks = _tokenize(part)
            name = None
            i = 0
            if (toks and toks[0].kind == "ident" and len(toks) > 1
                    and toks[1].kind == "op" and toks[1].text == "="):
                name = toks[0].text
                i = 2
            p = _ExprParser(toks, i)
            col = p.parse()
            _expect_next(toks, p.i, (), "mv-expand")
            if name is None:
                name = _expr_name(toks, i, p.i, "value")
            items.append((name, col))
        if len(items) == 1:
            name, col = items[0]
            return df.withColumn(name, F.explode(col))
        # Parallel expansion: Kusto ZIPS multi-column mv-expand to the
        # LONGEST array, padding shorter ones (and null arrays) with
        # null. Explode on the longest length, not the first column —
        # keying on the first array silently dropped the other columns'
        # tails (and whole records when the first was null/empty).
        names = [n for n, _ in items]
        lens = [F.coalesce(F.size(c), F.lit(0)) for _, c in items]
        longest = F.greatest(*lens) if len(lens) > 1 else lens[0]
        # sequence(1, 0) would count DOWN ([1, 0]); all-empty records
        # must explode to nothing (null sequence), matching Kusto
        out = df.select(
            "*",
            F.explode(F.when(longest >= 1,
                             F.sequence(F.lit(1), longest))).alias("__mvpos"))
        for j, (_, col) in enumerate(items):
            out = out.withColumn(f"__mv_{j}",
                                 F.try_element_at(col, F.col("__mvpos")))
        keep = [c for c in df.columns if c not in names]
        return out.select(
            *keep, *[F.col(f"__mv_{j}").alias(names[j]) for j in range(len(items))])

    @staticmethod
    def _sort_specs(rest: str) -> list[tuple[Column, bool]]:
        """Parse a ``[by] expr [asc|desc], …`` sort list (the shared
        grammar of ``order by``/``sort by``/``top N by``) into
        ``(expr, is_ascending)`` pairs — KQL defaults to descending.
        The direction is kept separate so consumers that materialize
        the order (the ``scan`` operator's per-key pandas sort) can
        reuse it; window/orderBy consumers go through ``_ordered``."""
        rest = re.sub(r"^\s*by\s+", "", rest, flags=re.IGNORECASE)
        toks = _tokenize(rest)
        specs: list[tuple[Column, bool]] = []
        i = 0
        while i < len(toks):
            p = _ExprParser(toks, i)
            col = p.parse()
            i = p.i
            direction = "desc"  # KQL default
            if i < len(toks) and toks[i].kind == "ident" \
                    and toks[i].text.lower() in ("asc", "desc"):
                direction = toks[i].text.lower()
                i += 1
            specs.append((col, direction == "asc"))
            _expect_next(toks, i, (",",), "order by")
            if i < len(toks):
                i += 1
        return specs

    @staticmethod
    def _ordered(specs: list[tuple[Column, bool]]) -> list[Column]:
        return [c.asc() if asc else c.desc() for c, asc in specs]

    @staticmethod
    def _sort_ref_names(rest: str) -> set[str]:
        """COLUMN names a sort list references — conservative on the
        invalidation side (extra column names at worst cause an
        unnecessary loud refusal, never a silently reordered window)
        but function names must be EXCLUDED: `sort by strlen(k)` must
        not self-invalidate because no column is named strlen (r12
        review 2 — that regression broke every computed sort
        expression followed by a serialized row function)."""
        rest = re.sub(r"^\s*by\s+", "", rest, flags=re.IGNORECASE)
        toks = _tokenize(rest)
        out: set[str] = set()
        for j, t in enumerate(toks):
            if t.kind != "ident" or t.text.lower() in ("asc", "desc"):
                continue
            if j + 1 < len(toks) and toks[j + 1].kind == "op" \
                    and toks[j + 1].text == "(":
                continue  # a function call, not a column
            out.add(t.text)
        return out

    def _top(self, df: DataFrame, rest: str) -> DataFrame:
        m = re.match(r"\s*(\d+)\s+by\s+(.*)", rest, re.DOTALL | re.IGNORECASE)
        if not m:
            raise KqlError(f"KQL: top needs 'top N by expr', got {rest!r}")
        # Kusto documents top's output as serialized by its sort keys,
        # so it ESTABLISHES the order for serialized row functions —
        # same contract as the vectorized partition body's top
        specs = self._sort_specs(m.group(2))
        self._ser_order = specs
        self._ser_refs = self._sort_ref_names(m.group(2))
        return df.orderBy(*self._ordered(specs)).limit(int(m.group(1)))

    def _top_hitters(self, df: DataFrame, rest: str) -> DataFrame:
        """``top-hitters N of Col [by SumExpr]`` — the heavy-hitters
        rollup. Kusto's contract is APPROXIMATE (per-node sketches);
        this compiles to the exact groupBy + distributed sort-and-limit
        (a strict refinement — every exact answer is a valid
        approximate one) while keeping Kusto's output column names
        (``approximate_count_<Col>`` / ``approximate_sum_<Col>``).
        Ties break on the hitter value ascending, deterministic."""
        n, col, name, agg = self._parse_top_hitters(rest)
        return (df.groupBy(col).agg(agg)
                .orderBy(F.col(name).desc(), F.col(col).asc())
                .limit(n))

    @staticmethod
    def _parse_top_hitters(rest: str):
        """The one `N of Col [by expr]` parser shared by the global
        and per-partition top-hitters compilations (r12 review: the
        regex, Kusto's approximate_count_/approximate_sum_ naming and
        the trailing-token check must not drift between the two)."""
        m = re.match(
            r"\s*(\d+)\s+of\s+([A-Za-z_][A-Za-z0-9_]*)"
            r"(?:\s+by\s+(.*))?$",
            rest, re.DOTALL | re.IGNORECASE)
        if not m:
            raise KqlError(
                "KQL: top-hitters needs `N of Col [by expr]`, got "
                f"{rest!r}")
        n, col, bysrc = int(m.group(1)), m.group(2), m.group(3)
        if bysrc is None:
            name = f"approximate_count_{col}"
            agg = F.count(F.lit(1)).alias(name)
        else:
            toks = _tokenize(bysrc)
            p = _ExprParser(toks)
            expr = p.parse()
            if p.i != len(toks):
                raise KqlError(
                    f"KQL: trailing tokens in top-hitters by {bysrc!r}")
            name = f"approximate_sum_{col}"
            agg = F.sum(expr).alias(name)
        return n, col, name, agg

    def _top_nested(self, df: DataFrame, rest: str) -> DataFrame:
        """``top-nested N1 of Col1 by [A1 =] agg1(...), top-nested N2 of
        Col2 by [A2 =] agg2(...), ...`` — hierarchical top-N: the top N1
        values of Col1 by agg1 over the whole input, then within each
        winner the top N2 values of Col2 by agg2, and so on. Output: one
        row per leaf combination carrying every level's value and
        aggregate (Kusto's default column name ``aggregated_<Col>``).

        Spark shape, sized for deep hierarchies over big facts: each
        level is ONE groupBy over (prefix..., level-col) — partial
        aggregation map-side — restricted to surviving prefixes by a
        BROADCAST join against the winner set (≤ N1·…·Nk rows, always
        tiny), then a per-prefix row_number window whose partitions are
        the bounded winner groups. Level 1 is a distributed
        sort-and-limit, no single-partition window. Ties break on the
        level value ascending, so results are deterministic.

        ``with others = <literal>`` (per level, Kusto's grammar puts
        it between the column and ``by``): one extra row per surviving
        prefix whose level value is the literal and whose aggregate
        runs over the ANTI-JOINED REMAINDER — the base rows of that
        prefix whose level value did not make the top N — so
        non-decomposable aggregates (dcount, avg) stay exact instead
        of being re-aggregated from per-value results. Deeper levels'
        columns are NULL on an others row (the bucket does not expand
        further), and a prefix with an empty remainder emits no row —
        the remainder scan is one more map-side-partial groupBy
        against a broadcast winner set, never a re-shuffle of the
        winner path."""
        levels = []
        for j, part in enumerate(_split_top_commas(rest)):
            part = part.strip()
            if j > 0:
                part = re.sub(r"^top-nested\s+", "", part, flags=re.IGNORECASE)
            m = re.match(
                r"(\d+)\s+of\s+([A-Za-z_][A-Za-z0-9_]*)\s+"
                r"(?:with\s+others\s*=\s*"
                r"('[^']*'|\"[^\"]*\"|-?\d+(?:\.\d+)?)\s+)?"
                r"by\s+(.*)$",
                part, re.DOTALL | re.IGNORECASE)
            if not m:
                raise KqlError(
                    "KQL: top-nested level must be `N of Col [with "
                    f"others = <literal>] by agg`, got {part!r}")
            n, col, lab, aggsrc = (int(m.group(1)), m.group(2),
                                   m.group(3), m.group(4))
            # a numeric-typed level column takes a numeric others
            # label (Kusto: the const must be of the column's type)
            others: str | int | float | None
            if lab is None:
                others = None
            elif lab[0] in "'\"":
                others = lab[1:-1]
            else:
                others = float(lab) if "." in lab else int(lab)
            toks = _tokenize(aggsrc)
            name, i = f"aggregated_{col}", 0
            if (len(toks) > 1 and toks[0].kind == "ident"
                    and toks[1].kind == "op" and toks[1].text == "="):
                name, i = toks[0].text, 2
            p = _ExprParser(toks, i)
            agg = p.parse()
            if p.i != len(toks):
                if (p.i < len(toks) and toks[p.i].kind == "ident"
                        and toks[p.i].text.lower() == "with"):
                    raise KqlError(
                        "KQL: `with others = <literal>` goes between "
                        "the column and `by` (Kusto grammar: "
                        "`top-nested N of Col with others = X by "
                        "agg`), not after the aggregate")
                raise KqlError(
                    f"KQL: trailing tokens in top-nested aggregate {aggsrc!r}")
            levels.append((n, col, agg.alias(name), name, others))

        winners: DataFrame | None = None
        out_cols: list[str] = []
        prefix: list[str] = []
        others_rows: list[tuple[int, DataFrame]] = []  # (#out_cols, rows)
        for n, col, agg, name, others in levels:
            prev = winners  # surviving prefixes (None at level 1)
            level = df.groupBy(*prefix, col).agg(agg)
            if winners is None:
                level = (level.orderBy(F.col(name).desc(), F.col(col).asc())
                         .limit(n))
            else:
                level = level.join(F.broadcast(winners), prefix)
                w = (Window.partitionBy(*prefix)
                     .orderBy(F.col(name).desc(), F.col(col).asc()))
                level = (level.withColumn("__rn", F.row_number().over(w))
                         .filter(F.col("__rn") <= n).drop("__rn"))
            prior_cols = list(out_cols)
            out_cols += [col, name]
            winners = level.select(*out_cols)
            if others is not None:
                rem = df
                if prefix:
                    rem = rem.join(
                        F.broadcast(prev.select(*prefix)),
                        prefix, "left_semi")
                rem = rem.join(
                    F.broadcast(winners.select(*prefix, col)),
                    [*prefix, col], "left_anti")
                oth = rem.groupBy(*prefix).agg(
                    agg, F.count(F.lit(1)).alias("__oth_n"))
                oth = oth.filter(F.col("__oth_n") > 0).drop("__oth_n")
                if prefix:
                    oth = oth.join(F.broadcast(prev), prefix)
                ltype = winners.schema[col].dataType
                if (isinstance(others, str)
                        and not isinstance(ltype, _StringType)):
                    # Kusto rejects a type-mismatched others label at
                    # compile time; a runtime cast would abort the
                    # whole job mid-execution under Spark 4 ANSI
                    # (r10 advice). Numeric label → string column is
                    # fine: that cast is total.
                    raise KqlError(
                        f"KQL: top-nested `with others = "
                        f"{others!r}` targets non-string column "
                        f"{col} ({ltype.simpleString()}) — the "
                        "others label must match the level "
                        "column's type")
                lab_col = F.lit(others).cast(ltype).alias(col)
                others_rows.append(
                    (len(out_cols),
                     oth.select(*prior_cols, lab_col, F.col(name))))
            prefix.append(col)
        if others_rows:
            final_schema = winners.schema
            for n_cols, oth in others_rows:
                pads = [F.lit(None).cast(f.dataType).alias(f.name)
                        for f in final_schema.fields[n_cols:]]
                winners = winners.unionByName(oth.select("*", *pads))
        return winners

    def _join(self, df: DataFrame, rest: str) -> DataFrame:
        m = re.match(
            r"\s*kind\s*=\s*([a-z]+)\s*\((.*)\)\s*on\s+(.+)$",
            rest, re.DOTALL | re.IGNORECASE)
        if not m:
            raise KqlError("KQL: join needs `join kind=<k> ( <query> ) on <key>`")
        kind = m.group(1).lower()
        how = {
            "inner": "inner", "leftouter": "left", "rightouter": "right",
            "fullouter": "full", "leftsemi": "left_semi",
            "leftanti": "left_anti",
        }.get(kind)
        if how is None:
            raise KqlError(f"KQL: unsupported join kind {kind!r}")
        right = self.compile(m.group(2).strip())
        lkey, rkey = self._on_keys(m.group(3).strip(), "join")
        # Kusto renames clashing right columns with a `1` suffix.
        clashes = [c for c in right.columns
                   if c in df.columns and not (c == rkey == lkey)]
        for c in clashes:
            right = right.withColumnRenamed(c, c + "1")
        if lkey == rkey:
            out = df.join(right, on=lkey, how=how)
        else:
            # the right KEY may itself clash with a left column (e.g.
            # `$left.a == $right.b` with b on both sides): the rename
            # above already moved it, so the condition must reference
            # the renamed column — right[rkey] would be UNRESOLVED
            rkey_eff = rkey + "1" if rkey in clashes else rkey
            out = df.join(right, df[lkey] == right[rkey_eff], how=how)
        return out


def _skip_predicates(where_text: str) -> list[tuple]:
    """Mine one ``where`` stage's text for simple conjuncts in
    ``skipping`` predicate form: ``col op literal`` (==, <, <=, >, >=),
    ``col in (lits)``, ``isnull(col)`` / ``isnotnull(col)``, AND-joined
    at the top level. Anything else — functions, arithmetic,
    case-insensitive operators (=~, has, contains), negations — makes
    that term contribute nothing; a top-level ``or`` voids conjunct
    mining (``_skip_branches`` recovers it as DNF). Pruning on a
    subset of conjuncts is sound because the compiled stage still
    applies the FULL filter."""
    try:
        toks = _tokenize(where_text)
    except KqlError:
        return []
    return _kql_conjuncts(_strip_kql_parens(toks)) or []


def _split_kql_top(toks: list, word: str) -> list[list]:
    """Split on a top-level boolean word (paren-aware). Returns the
    parts — a single one when the word never appears at depth 0."""
    parts: list[list] = [[]]
    depth = 0
    for t in toks:
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        if depth == 0 and t.kind == "ident" and t.text.lower() == word:
            parts.append([])
            continue
        parts[-1].append(t)
    return parts


def _strip_kql_parens(toks: list) -> list:
    while (len(toks) >= 2 and toks[0].kind == "op"
           and toks[0].text == "(" and toks[-1].kind == "op"
           and toks[-1].text == ")"):
        depth = 0
        closes_at_end = True
        for idx, t in enumerate(toks):
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
                if depth == 0 and idx != len(toks) - 1:
                    closes_at_end = False
                    break
        if not closes_at_end:
            break
        toks = toks[1:-1]
    return toks


def _skip_branches(where_text: str) -> list[list[tuple]] | None:
    """DNF mining for a ``where`` whose TOP level is an ``or``: each
    disjunct's simple conjuncts, for ``skipping.plan_skip_any``. None
    unless there are >= 2 disjuncts and EVERY one yields at least one
    conjunct (an unparsed disjunct could match anything)."""
    try:
        toks = _tokenize(where_text)
    except KqlError:
        return None
    parts = _split_kql_top(_strip_kql_parens(toks), "or")
    if len(parts) < 2:
        return None
    out: list[list[tuple]] = []
    for part in parts:
        preds = _kql_conjuncts(_strip_kql_parens(part))
        if not preds:
            return None
        out.append(preds)
    return out


def _kql_conjuncts(toks: list) -> list[tuple] | None:
    """Token-level conjunct kernel shared by conjunctive and DNF
    mining. None when a top-level ``or`` makes conjuncts unsound."""
    terms: list[list[_Tok]] = [[]]
    depth = 0
    for t in toks:
        if t.kind == "op" and t.text == "(":
            depth += 1
        elif t.kind == "op" and t.text == ")":
            depth -= 1
        if depth == 0 and t.kind == "ident" and t.text.lower() == "or":
            return None
        if depth == 0 and t.kind == "ident" and t.text.lower() == "and":
            terms.append([])
            continue
        terms[-1].append(t)

    def _lit(t: _Tok):
        if t.kind == "number":
            return float(t.text) if "." in t.text or "e" in t.text.lower() \
                else int(t.text)
        if t.kind == "string":
            return t.text
        if t.kind == "datetime":
            raw = t.text.strip("'\"")
            # the compiled filter is lit(text).cast("timestamp"), which
            # Spark reads in the SESSION zone for offset-free text but
            # honors an explicit Z/±hh:mm — a naive mined value would
            # then disagree with the real filter, so offset-bearing
            # literals contribute nothing (no prune, never wrong)
            if raw.endswith(("Z", "z")) or re.search(
                    r"[+-]\d{2}:?\d{2}$", raw):
                return None
            try:
                return _datetime.datetime.fromisoformat(raw)
            except ValueError:
                return None
        return None

    _OPMAP = {"==": "=", "<": "<", "<=": "<=", ">": ">", ">=": ">="}
    _FLIPM = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
    out: list[tuple] = []
    for term in terms:
        if len(term) == 3 and term[0].kind == "ident" \
                and term[1].kind == "op" and term[1].text in _OPMAP:
            v = _lit(term[2])
            if v is not None:
                out.append((term[0].text, _OPMAP[term[1].text], v))
            continue
        if len(term) == 3 and term[2].kind == "ident" \
                and term[1].kind == "op" and term[1].text in _OPMAP:
            v = _lit(term[0])
            if v is not None:
                out.append((term[2].text, _FLIPM[_OPMAP[term[1].text]], v))
            continue
        if (len(term) == 4 and term[0].kind == "ident"
                and term[0].text.lower() in ("isnull", "isnotnull")
                and term[1].kind == "op" and term[1].text == "("
                and term[2].kind == "ident"
                and term[3].kind == "op" and term[3].text == ")"):
            op = ("is_null" if term[0].text.lower() == "isnull"
                  else "is_not_null")
            out.append((term[2].text, op, None))
            continue
        if (len(term) >= 4 and term[0].kind == "ident"
                and term[1].kind == "ident"
                and term[1].text.lower() == "in"
                and term[2].kind == "op" and term[2].text == "("
                and term[-1].kind == "op" and term[-1].text == ")"):
            members = []
            expect_lit = True
            ok = True
            for t in term[3:-1]:
                if expect_lit:
                    v = _lit(t)
                    if v is None:
                        ok = False
                        break
                    members.append(v)
                    expect_lit = False
                elif t.kind == "op" and t.text == ",":
                    expect_lit = True
                else:
                    ok = False
                    break
            if ok and members and not expect_lit:
                out.append((term[0].text, "in", members))
            continue
    return out


def _mine_wheres(wheres: list[str]
                 ) -> tuple[list[tuple], list[list[tuple]] | None]:
    """(conjuncts, DNF branches|None) mined from consecutive leading
    ``where`` stage texts. One top-level-or stage mines as DNF; the
    stages AND together, so conjuncts distribute into every branch:
    other AND (b1 OR b2) == (other AND b1) OR (other AND b2). A second
    or-stage is ignored (sound: fewer constraints keep more files)."""
    preds: list[tuple] = []
    branches: list[list[tuple]] | None = None
    for text in wheres:
        got = _skip_predicates(text)
        if got:
            preds.extend(got)
        elif branches is None:
            branches = _skip_branches(text)
    return preds, branches


def kql_estimate_statement(query: str, warehouse: dict[str, str],
                           tables: dict[str, DataFrame] | None = None
                           ) -> dict:
    """The dry-run of ``kql_to_df_skipping``'s governor: the same
    record compile (over the same ``tables``) and ``skipping.admit``
    call, with no budget. Returns ``{"tables": {name: widest
    estimate}, "bytes_kept": <sum of every read's estimate times its
    references>, "reads": n}``; tables the statement never reads are
    absent. ``externaldata`` reads price at raw file weight whatever
    the allow-list says (the governor refuses a disallowed read at
    compile time instead), so parity holds on every executable
    query."""
    return _Reads(SparkSession.active(), warehouse, tables,
                  dry_run=True).admit(query, tables, None, None)


def kql_to_df_skipping(spark, query: str, warehouse: dict[str, str],
                       tables: dict[str, DataFrame] | None = None,
                       max_scan_bytes: int | None = None,
                       externaldata_roots: list[str] | None = None
                       ) -> DataFrame:
    """``kql_to_df`` with warehouse-directory sources read through
    zone-map/bloom data skipping: ``warehouse`` maps KQL table names to
    table DIRECTORIES. The compiler resolves each reference itself
    (``_StageCompiler._table``): a pipeline head's LEADING ``where``
    stages (consecutive, after scalar-let substitution, before any
    operator can reshape columns) are mined for simple conjuncts, and
    the reference reads as a filter over the table's one plain read
    that opens only the files they may match — so a table referenced
    twice prunes each reference by its own wheres. Every stage still
    executes in full on top, so the result is identical to a plain
    read; stats only change how many files are opened.

    ``max_scan_bytes`` arms the same admission control as
    ``QueryEngine(max_scan_bytes=…)``, through the same
    ``skipping.admit``. A record compile runs first: the same compiler
    over plain reads, with no Spark action (``toscalar`` substitutes a
    typed placeholder; a branch-mode ``partition`` compiles its body
    once and counts its reads 64 times; ``externaldata`` counts at raw
    file weight). Each distinct read it logs is planned ONCE and
    priced — a where-less one at full scan, one without usable stats
    at its full listing bytes — and the running statement total
    (estimate × references) is refused with ``ScanBudgetExceeded``
    once it crosses the budget, before any data page opens. The real
    compile reuses the admitted plans. ``bag_unpack`` and ``pivot``
    read their output columns from the data, so they stop the record
    pass; the statement then prices each warehouse table at full scan
    once per word mention of its name. ``kql_estimate_statement`` is
    the dry-run."""
    reads = _Reads(spark, warehouse, tables)
    if max_scan_bytes is not None:
        reads.admit(query, tables, externaldata_roots, max_scan_bytes)
    return _compile_query(query, tables or {}, externaldata_roots, reads)


def kql_to_df(query: str, tables: dict[str, DataFrame],
              externaldata_roots: list[str] | None = None) -> DataFrame:
    """Compile a KQL pipeline string onto the given named DataFrames.

    `tables` maps table names (case-insensitive) to DataFrames; the
    query's first pipeline stage must name one of them. A numeric
    operand compared to a non-numeric string literal — which Kusto
    rejects at compile time — raises ``KqlError`` here, not an
    executor ``CAST_INVALID_INPUT`` mid-action.
    """
    return _compile_query(query, tables, externaldata_roots)
