"""Scan admission: the SQL engine, the KQL surface and both dry-runs
decide through one ``skipping.admit`` call.

Parity: for every statement shape, a budget equal to the dry-run's
``bytes_kept`` admits the statement and one byte less refuses it. Plan
once: each resolved read is planned exactly once, with or without a
budget, and an unbudgeted query with no extractable conjunct plans
nothing."""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from corkscrew_spark import skipping
from corkscrew_spark.engine import QueryEngine, ScanBudgetExceeded
from corkscrew_spark.kql import (kql_estimate_statement,
                                 kql_to_df_skipping)
from corkscrew_spark.testing import scanned_files


def _write(spark, path: str, stats: bool = True) -> str:
    spark.range(800).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
        (F.col("id") % 3).cast("string").alias("service"),
    ).repartitionByRange(8, "k").write.parquet(path)
    if stats:
        skipping.compute_stats(spark, path, ["k"])
    return path


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """name -> table dir: ``t`` and ``u`` with stats, ``ns`` without,
    ``bad`` with a stats file that parses but lacks the planner's
    keys."""
    root = tmp_path_factory.mktemp("admission")
    out = {"t": _write(spark, str(root / "t")),
           "u": _write(spark, str(root / "u")),
           "ns": _write(spark, str(root / "ns"), stats=False),
           "bad": _write(spark, str(root / "bad"), stats=False)}
    with open(os.path.join(out["bad"], "_column_stats.json"), "w") as fh:
        json.dump({"files": {}}, fh)
    out["ext"] = str(root / "ext.parquet")
    spark.range(50).select(F.col("id").alias("k")).coalesce(1) \
        .write.parquet(out["ext"])
    return out


def _engine(spark, tables, budget):
    eng = QueryEngine(spark, register_helpers=False, max_scan_bytes=budget)
    for name in ("t", "u", "ns", "bad"):
        eng.register_warehouse(name, tables[name])
    return eng


_SQL = {
    "single": "SELECT COUNT(*) AS n FROM t WHERE k >= 700",
    "cte": ("WITH a AS (SELECT k FROM t WHERE k >= 700), "
            "b AS (SELECT k FROM t WHERE k < 50) "
            "SELECT COUNT(*) AS n FROM a JOIN b ON a.k = b.k"),
    "union": ("SELECT k FROM t WHERE k < 50 "
              "UNION ALL SELECT k FROM u WHERE k >= 750"),
    "self_join": "SELECT COUNT(*) AS n FROM t a JOIN t b ON a.k = b.k",
    "dnf": "SELECT COUNT(*) AS n FROM t WHERE k < 50 OR k >= 750",
    "bare": "SELECT COUNT(*) AS n FROM t",
    "nostats": "SELECT COUNT(*) AS n FROM ns WHERE k >= 700",
    "malformed_stats": "SELECT COUNT(*) FROM bad",
}


@pytest.mark.parametrize("shape", sorted(_SQL))
def test_sql_dry_run_is_the_admission_verdict(spark, tables, shape):
    q = _SQL[shape]
    est = _engine(spark, tables, None).estimate_statement(q)
    assert est["bytes_kept"] > 0 and est["reads"] >= 1
    _engine(spark, tables, est["bytes_kept"]).execute(q).rows()
    with pytest.raises(ScanBudgetExceeded):
        _engine(spark, tables, est["bytes_kept"] - 1).execute(q)


def _kql(tables) -> dict[str, str]:
    return {
        "head": "T | where k >= 700 | count",
        "join_side": ("T | where k >= 700 | join kind=inner "
                      "(U | where k < 50 | project v, k2=k) on v | count"),
        "union_operand": ("T | where k < 50 | union (U | where k >= 750) "
                          "| count"),
        "externaldata": (f"externaldata (k:long) ['{tables['ext']}'] "
                         "with (format='parquet') | count"),
        "bare": "T | take 5",
        "nostats": "NS | where k >= 700 | count",
        "malformed_stats": "BAD | where k > 5 | count",
    }


@pytest.mark.parametrize("shape", ["head", "join_side", "union_operand",
                                   "externaldata", "bare", "nostats",
                                   "malformed_stats"])
def test_kql_dry_run_is_the_admission_verdict(spark, tables, shape):
    q = _kql(tables)[shape]
    wh = {"T": tables["t"], "U": tables["u"], "NS": tables["ns"],
          "BAD": tables["bad"]}
    roots = [os.path.dirname(tables["ext"])]
    est = kql_estimate_statement(q, wh)
    assert est["bytes_kept"] > 0 and est["reads"] >= 1
    kql_to_df_skipping(spark, q, wh, max_scan_bytes=est["bytes_kept"],
                       externaldata_roots=roots).collect()
    with pytest.raises(ScanBudgetExceeded):
        kql_to_df_skipping(spark, q, wh,
                           max_scan_bytes=est["bytes_kept"] - 1,
                           externaldata_roots=roots)


def test_malformed_stats_degrade_like_missing(spark, tables):
    """A stats file that parses but lacks the planner's keys loads as
    None: the read falls back to the plain scan at full listing
    bytes, with the missing-stats remedy."""
    assert skipping.load_stats(tables["bad"]) is None
    eng = _engine(spark, tables, None)
    est = eng.estimate_statement(_SQL["malformed_stats"])
    assert est["tables"]["bad"]["fallback"] == "no stats file"
    with pytest.raises(ScanBudgetExceeded, match="stats are unavailable"):
        _engine(spark, tables, 1).execute(_SQL["malformed_stats"])
    n = eng.execute("SELECT COUNT(*) AS n FROM bad WHERE k >= 700")
    assert n.rows()[0].n == 100


@pytest.fixture()
def plans(monkeypatch):
    """Every plan_skip/plan_skip_any call's table path, in order."""
    seen: list[str] = []
    for fn in ("plan_skip", "plan_skip_any"):
        real = getattr(skipping, fn)

        def counted(path, *a, _real=real, **k):
            seen.append(path)
            return _real(path, *a, **k)
        monkeypatch.setattr(skipping, fn, counted)
    return seen


# shape -> (statement, tables planned with no budget, with a budget)
_PLAN_ONCE_SQL = {
    "single": (_SQL["single"], ["t"], ["t"]),
    "dnf": (_SQL["dnf"], ["t"], ["t"]),
    "union": (_SQL["union"], ["t", "u"], ["t", "u"]),
    "self_join": (_SQL["self_join"], [], ["t", "t"]),
    "group_by": ("SELECT service, count(*) FROM t GROUP BY service",
                 [], ["t"]),
}


@pytest.mark.parametrize("budget", [None, 10 ** 12])
@pytest.mark.parametrize("shape", sorted(_PLAN_ONCE_SQL))
def test_sql_plans_each_read_once(spark, tables, plans, shape, budget):
    q, unbudgeted, budgeted = _PLAN_ONCE_SQL[shape]
    _engine(spark, tables, budget).execute(q)
    want = unbudgeted if budget is None else budgeted
    assert sorted(plans) == sorted(tables[n] for n in want)


_PLAN_ONCE_KQL = {
    "head": ("T | where k >= 700 | count", ["t"], ["t"]),
    "dnf": ("T | where k < 50 or k >= 750 | count", ["t"], ["t"]),
    "join_side": ("T | where k >= 700 | join kind=inner "
                  "(U | where k < 50 | project v, k2=k) on v | count",
                  ["t", "u"], ["t", "u"]),
    "bare": ("T | summarize n = count() by service", [], ["t"]),
}


@pytest.mark.parametrize("budget", [None, 10 ** 12])
@pytest.mark.parametrize("shape", sorted(_PLAN_ONCE_KQL))
def test_kql_plans_each_read_once(spark, tables, plans, shape, budget):
    q, unbudgeted, budgeted = _PLAN_ONCE_KQL[shape]
    kql_to_df_skipping(spark, q, {"T": tables["t"], "U": tables["u"]},
                       max_scan_bytes=budget)
    want = unbudgeted if budget is None else budgeted
    assert sorted(plans) == sorted(tables[n] for n in want)


def test_pruned_read_reuses_the_admission_plan(spark, tables, plans):
    """The pruned read opens exactly the files the admission plan
    kept, and no second plan is made for it."""
    eng = _engine(spark, tables, 10 ** 12)
    q = "SELECT k FROM t WHERE k >= 700"
    est = eng.estimate_statement(q)["tables"]["t"]
    del plans[:]
    df = eng.execute(q).df
    assert plans == [tables["t"]]
    assert len(scanned_files(df)) == est["files_kept"] < est["files_total"]
