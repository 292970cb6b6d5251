"""Result formatters: table / CSV / JSON (pkg/query/formatter.go parity).

Formatting is a driver-side presentation concern over an already-LIMITed
result; large exports go through ``df.write.csv/json`` instead (K8's
batch path) — ``export_*`` below wrap those.
"""

from __future__ import annotations

import csv
import io
import json
from datetime import date, datetime
from typing import Any

from pyspark.sql import DataFrame


def _rows(df: DataFrame, limit: int) -> tuple[list[str], list[list[Any]]]:
    cols = list(df.columns)
    data = [[row[c] for c in cols] for row in df.limit(limit).collect()]
    return cols, data


def _cell(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    return str(v)


def format_table(df: DataFrame, limit: int = 100, max_col_width: int = 40) -> str:
    """Width-aware ASCII table (formatter.go:295-433)."""
    cols, data = _rows(df, limit)
    cells = [[_cell(v)[:max_col_width] for v in row] for row in data]
    widths = [
        min(max([len(c)] + [len(r[i]) for r in cells]) if cells else len(c), max_col_width)
        for i, c in enumerate(cols)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "|" + "|".join(f" {c:<{w}} " for c, w in zip(cols, widths)) + "|", sep]
    for r in cells:
        out.append("|" + "|".join(f" {v:<{w}} " for v, w in zip(r, widths)) + "|")
    out.append(sep)
    out.append(f"({len(cells)} row{'s' if len(cells) != 1 else ''})")
    return "\n".join(out)


def format_csv(df: DataFrame, limit: int = 10000) -> str:
    cols, data = _rows(df, limit)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(cols)
    for r in data:
        w.writerow([_cell(v) if v is not None else "" for v in r])
    return buf.getvalue()


def format_json(df: DataFrame, limit: int = 10000) -> str:
    cols, data = _rows(df, limit)

    def enc(v: Any) -> Any:
        if isinstance(v, (datetime, date)):
            return v.isoformat()
        return v

    return json.dumps([{c: enc(v) for c, v in zip(cols, r)} for r in data], indent=2)


FORMATTERS = {"table": format_table, "csv": format_csv, "json": format_json}
