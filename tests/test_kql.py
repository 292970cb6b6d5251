"""KQL translator tests: semantics units + the reference's verbatim
query strings (plugins/azure-provider/resource_graph.go) compiled onto a
local Resources DataFrame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from corkscrew_spark.kql import (KqlError, kql_estimate_statement,
                                 kql_to_df, kql_to_df_skipping)
from corkscrew_spark.testing import (compare_to_oracle, count_jobs,
                                     scanned_files)


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """Two small warehouse tables, ``T`` and ``U``: k 0..799 range-
    clustered into 8 files with zone maps on k, v = k % 7, p = k % 3,
    and a JSON-string bag b = {"x": k % 2}."""
    from corkscrew_spark import skipping

    root = tmp_path_factory.mktemp("kql_wh")
    out = {}
    for name in ("T", "U"):
        path = str(root / name.lower())
        spark.range(800).selectExpr(
            "id AS k", "id % 7 AS v", "id % 3 AS p",
            "to_json(named_struct('x', id % 2)) AS b",
        ).repartitionByRange(8, "k").write.parquet(path)
        skipping.compute_stats(spark, path, ["k"])
        out[name] = path
    return out


@pytest.fixture(scope="module")
def resources(spark):
    """Synthetic ARG-shaped Resources table with every column the
    reference's QueryAllResources projection expects."""
    rows = [
        ("id-vm1", "vm-alpha", "microsoft.compute/virtualmachines", "eastus",
         "rg-app", "sub1", {"env": "prod", "team": "core"},
         {"hardwareProfile": {"vmSize": "Standard_D2"}},
         "vm", "Standard", "planA", "sys", ["1"], "", "",
         "2024-01-01T00:00:00Z", "2024-06-01T00:00:00Z"),
        ("id-vm2", "vm-beta", "microsoft.compute/virtualmachines", "westus",
         "rg-app", "sub1", {"env": "dev"},
         {"hardwareProfile": {"vmSize": "Standard_D4"}},
         "vm", "Standard", "", "", [], "", "",
         "2024-02-01T00:00:00Z", "2024-05-01T00:00:00Z"),
        ("id-st1", "stacct", "microsoft.storage/storageaccounts", "eastus",
         "rg-data", "sub2", {"env": "prod"},
         {"hardwareProfile": None},
         "StorageV2", "Standard_LRS", "", "", [], "", "",
         "2024-03-01T00:00:00Z", "2024-04-01T00:00:00Z"),
        ("id-misc", "weird", "singlepart", "eastus",
         "rg-app", "sub1", {}, {"hardwareProfile": None},
         "", "", "", "", [], "", "",
         "2024-01-15T00:00:00Z", "2024-01-16T00:00:00Z"),
    ]
    schema = (
        "id string, name string, type string, location string,"
        "resourceGroup string, subscriptionId string,"
        "tags map<string,string>,"
        "properties struct<hardwareProfile: struct<vmSize: string>>,"
        "kind string, sku string, plan string, identity string,"
        "zones array<string>, extendedLocation string, managedBy string,"
        "createdTime string, changedTime string"
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Verbatim reference queries
# ---------------------------------------------------------------------------

def test_reference_query_all_resources_verbatim(resources):
    # resource_graph.go:70-76 QueryAllResources — exact string.
    q = """
	Resources
	| project id, name, type, location, resourceGroup, subscriptionId, tags, properties, kind, sku, plan, identity, zones, extendedLocation, managedBy, createdTime, changedTime
	| order by type asc, name asc
	"""
    out = kql_to_df(q, {"Resources": resources})
    assert out.columns == [
        "id", "name", "type", "location", "resourceGroup", "subscriptionId",
        "tags", "properties", "kind", "sku", "plan", "identity", "zones",
        "extendedLocation", "managedBy", "createdTime", "changedTime"]
    names = [r["name"] for r in out.collect()]
    assert names == ["vm-alpha", "vm-beta", "stacct", "weird"]


def test_reference_discover_all_resource_types_verbatim(resources):
    # resource_graph.go:81-106 DiscoverAllResourceTypes — exact string.
    q = """
	Resources
	| summarize
		ResourceCount = count(),
		SampleProperties = any(properties),
		Locations = make_set(location),
		ResourceGroups = make_set(resourceGroup)
		by type
	| extend
		Provider = split(type, '/')[0],
		Service = split(type, '/')[1],
		ResourceType = split(type, '/')[2]
	| where isnotempty(Service) and isnotempty(ResourceType)
	| project
		type,
		Provider,
		Service,
		ResourceType,
		ResourceCount,
		SampleProperties,
		Locations,
		ResourceGroups
	| order by Provider asc, Service asc, ResourceType asc
	"""
    rows = kql_to_df(q, {"Resources": resources}).collect()
    # 'singlepart' has no Service/ResourceType → filtered; 2-part types have
    # no [2] → also filtered (matches ARG types provider/service/type).
    assert rows == []

    # With 3-part types the pipeline yields grouped rows.
    three = resources.withColumn(
        "type", F.concat(F.col("type"), F.lit("/default")))
    rows = kql_to_df(q, {"Resources": three}).collect()
    assert [r["Service"] for r in rows] == ["virtualmachines", "storageaccounts"]
    vm = rows[0]
    assert vm["ResourceCount"] == 2
    assert vm["Locations"] == ["eastus", "westus"]  # make_set sorted
    assert vm["SampleProperties"]["hardwareProfile"]["vmSize"] is not None


def test_reference_tag_query_verbatim(resources):
    # resource_graph.go:244-258 QueryResourcesByTags filter shape.
    q = """
	Resources
	| where tags['env'] == 'prod'
	| project id, name, type, location, resourceGroup, subscriptionId, tags, properties
	| order by type asc, name asc
	"""
    names = [r["name"] for r in kql_to_df(q, {"Resources": resources}).collect()]
    assert names == ["vm-alpha", "stacct"]


def test_reference_vm_with_size_pattern(resources):
    # resource_graph.go:489-494 QueryOptimizer vm_with_size — exact string
    # (dynamic properties.hardwareProfile.vmSize path over a struct column).
    q = """
				Resources
				| where type == "microsoft.compute/virtualmachines"
				| extend vmSize = properties.hardwareProfile.vmSize
				| project id, name, location, resourceGroup, vmSize, properties
			"""
    rows = kql_to_df(q, {"Resources": resources}).orderBy("id").collect()
    assert [r["vmSize"] for r in rows] == ["Standard_D2", "Standard_D4"]


def test_reference_relationship_extract_all(resources):
    # resource_graph.go:131-147 relationship discovery core: extract_all
    # over a string column, array_length guard, mv-expand, extract.
    res = resources.withColumn(
        "props_str",
        F.lit('ref /subscriptions/s1/resourceGroups/rg/providers/'
              'Microsoft.Network/interfaces/nic1 end'))
    q = """
	Resources
	| extend ReferencedResources = extract_all(@'\\/subscriptions\\/[^\\/]+\\/resourceGroups\\/[^\\/]+\\/providers\\/[^\\/]+\\/[^\\/]+\\/[^\\/\\s"]+', props_str)
	| where array_length(ReferencedResources) > 0
	| project type, ReferencedResources
	| mv-expand ReferencedResource = ReferencedResources
	| extend ReferencedType = extract(@'\\/providers\\/([^\\/]+\\/[^\\/]+)', 1, tostring(ReferencedResource))
	| where isnotempty(ReferencedType)
	| summarize RelationshipCount = count() by SourceType = type, TargetType = ReferencedType
	| order by RelationshipCount desc, SourceType asc
	"""
    rows = kql_to_df(q, {"Resources": res}).collect()
    assert {(r["SourceType"], r["TargetType"], r["RelationshipCount"])
            for r in rows} == {
        ("microsoft.compute/virtualmachines", "Microsoft.Network/interfaces", 2),
        ("microsoft.storage/storageaccounts", "Microsoft.Network/interfaces", 1),
        ("singlepart", "Microsoft.Network/interfaces", 1),
    }


# ---------------------------------------------------------------------------
# Semantics units
# ---------------------------------------------------------------------------

def test_case_insensitive_operators(resources):
    out = kql_to_df(
        "Resources | where type =~ 'MICROSOFT.COMPUTE/VIRTUALMACHINES' "
        "and name contains 'ALPHA'", {"Resources": resources})
    assert [r["name"] for r in out.collect()] == ["vm-alpha"]


def test_has_matches_whole_terms_only(spark):
    df = spark.createDataFrame(
        [("the quick brown fox",), ("a quicksilver cat",)], "s string")
    got = kql_to_df("T | where s has 'quick' | project s", {"T": df}).collect()
    assert [r["s"] for r in got] == ["the quick brown fox"]


def test_order_by_defaults_descending(spark):
    df = spark.createDataFrame([(1,), (3,), (2,)], "x long")
    got = kql_to_df("T | order by x | project x", {"T": df}).collect()
    assert [r["x"] for r in got] == [3, 2, 1]


def test_top_and_in_and_bangops(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "x long, s string")
    got = kql_to_df(
        "T | where s in ('a','b','c') and s !in ('c') and x != 1 "
        "| top 1 by x asc", {"T": df}).collect()
    assert [(r["x"], r["s"]) for r in got] == [(2, "b")]


def test_summarize_bare_agg_kusto_name(spark):
    df = spark.createDataFrame([(1,), (2,)], "x long")
    got = kql_to_df("T | summarize count(), sum(x)", {"T": df})
    assert got.columns == ["count_", "sum_"]
    assert got.collect()[0][0] == 2


def test_array_index_oob_is_null(spark):
    df = spark.createDataFrame([("a/b",)], "s string")
    got = kql_to_df(
        "T | extend p = split(s, '/')[5] | project p", {"T": df}).collect()
    assert got[0]["p"] is None


def test_extract_no_match_is_null(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    got = kql_to_df(
        "T | extend d = extract(@'(\\d+)', 1, s) | project d", {"T": df}
    ).collect()
    assert got[0]["d"] is None


def test_datetime_literals_quoted_and_unquoted(spark):
    df = spark.createDataFrame(
        [(1, "2024-05-01 00:00:00"), (2, "2023-01-01 00:00:00")],
        "id long, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    for q in (
        "T | where ts > datetime(2024-01-01T00:00:00Z) | project id",
        "T | where ts > datetime('2024-01-01T00:00:00Z') | project id",
    ):
        assert [r["id"] for r in kql_to_df(q, {"T": df}).collect()] == [1]


def test_join_renames_clashing_right_columns(spark):
    left = spark.createDataFrame([(1, "l")], "k long, v string")
    right = spark.createDataFrame([(1, "r")], "k long, v string")
    got = kql_to_df(
        "L | join kind=inner ( R ) on k", {"L": left, "R": right})
    assert sorted(got.columns) == ["k", "v", "v1"]
    row = got.collect()[0]
    assert (row["v"], row["v1"]) == ("l", "r")


def test_join_right_key_clashing_left_column(spark):
    """`$left.a == $right.b` where b exists on BOTH sides: the right
    key is renamed b→b1 like any clash, and the join condition must
    reference the renamed column (review finding: right[rkey] was
    unresolved)."""
    left = spark.createDataFrame([(1, 10), (2, 20)], "a long, b long")
    right = spark.createDataFrame([(1, "x"), (3, "y")], "b long, w string")
    got = kql_to_df(
        "L | join kind=inner ( R ) on $left.a == $right.b",
        {"L": left, "R": right})
    assert sorted(got.columns) == ["a", "b", "b1", "w"]
    row = got.collect()[0]
    assert (row["a"], row["b"], row["b1"], row["w"]) == (1, 10, 1, "x")


def test_where_trailing_tokens_raise(tiny_events):
    """`where a == 1 b == 2` (missing `and`) must error like Kusto, not
    silently filter on the first conjunct only."""
    with pytest.raises(KqlError, match="trailing token"):
        kql_to_df("T | where value == 1.5 event_id == 2",
                  {"T": tiny_events})
    with pytest.raises(KqlError, match="trailing token"):
        kql_to_df("T | project event_id value", {"T": tiny_events})
    with pytest.raises(KqlError, match="trailing token"):
        kql_to_df("T | summarize count() event_id", {"T": tiny_events})


def test_mv_expand_multi_zips_to_longest(spark):
    """Multi-column mv-expand zips to the LONGEST array (null-padding
    the shorter/null ones) — keying on the first array dropped the
    other columns' tails and whole records when it was null."""
    df = spark.createDataFrame(
        [(1, [1], [10, 20]), (2, None, [30]), (3, [4, 5], None)],
        "id long, a array<long>, b array<long>")
    got = kql_to_df("T | mv-expand a, b | project id, a, b",
                    {"T": df}).collect()
    rows = {(r["id"], r["a"], r["b"]) for r in got}
    assert rows == {(1, 1, 10), (1, None, 20),
                    (2, None, 30), (3, 4, None), (3, 5, None)}
    # all arrays empty/null: the record drops (no descending sequence)
    empty = spark.createDataFrame([(9, [], None)],
                                  "id long, a array<long>, b array<long>")
    assert kql_to_df("T | mv-expand a, b", {"T": empty}).count() == 0


def test_datetime_diff_week_is_sunday_aligned(spark):
    """Kusto week boundaries are SUNDAYS: 2016-12-31 (Sat) →
    2017-01-01 (Sun) crosses one; epoch-aligned buckets (Thursdays)
    said zero."""
    df = spark.createDataFrame([(1,)], "id long")
    row = kql_to_df(
        """T | extend w = datetime_diff('week',
                 datetime(2017-01-01T00:00:00Z),
                 datetime(2016-12-31T00:00:00Z)),
               d = datetime_diff('day',
                 datetime(2017-01-01T00:00:00Z),
                 datetime(2016-12-31T00:00:00Z))""",
        {"T": df}).collect()[0]
    assert (row["w"], row["d"]) == (1, 1)


def test_verbatim_string_backslash_not_stage_escape(spark):
    """A trailing backslash inside @'...' must not desync stage
    splitting (verbatim strings have no escapes — splitter and
    tokenizer must agree) and later stages must still apply."""
    df = spark.createDataFrame([("C:\\",), ("D:",)], "p string")
    got = kql_to_df("T | where p == @'C:\\' | count", {"T": df}).collect()
    assert got[0]["Count"] == 1


def test_in_list_negative_literals(spark):
    df = spark.createDataFrame([(-1,), (2,), (5,)], "code long")
    got = kql_to_df("T | where code in (-1, 2) | order by code asc",
                    {"T": df}).collect()
    assert [r["code"] for r in got] == [-1, 2]


def test_mv_apply_by_inside_string_literal(spark):
    """The `by`-detection for the inner summarize must read TOKENS: a
    'by' inside a string literal is not a by-clause."""
    df = spark.createDataFrame([(1, ["by", "x"]), (2, ["y"])],
                               "id long, xs array<string>")
    got = kql_to_df(
        "T | mv-apply xs on ( summarize c = countif(xs == 'by') )",
        {"T": df}).collect()
    assert sorted((r["id"], r["c"]) for r in got) == [(1, 1), (2, 0)]


def test_make_series_quoted_datetime_literals(tiny_events):
    got = kql_to_df(
        """T | make-series n = count() on ts
               from datetime('2024-01-01') to datetime('2024-01-03')
               step 1d""",
        {"T": tiny_events}).collect()
    assert got[0]["n"] == [2, 1]  # 2 events on Jan 1, 1 on Jan 2
    with pytest.raises(KqlError, match="bad datetime"):
        kql_to_df(
            "T | make-series n = count() on ts from datetime(nope) "
            "to datetime('2024-01-03') step 1d", {"T": tiny_events})


def test_pipes_inside_strings_not_stage_breaks(spark):
    df = spark.createDataFrame([("a|b",), ("c",)], "s string")
    got = kql_to_df("T | where s == 'a|b' | count", {"T": df}).collect()
    assert got[0]["Count"] == 1


def test_errors_are_kqlerrors(resources):
    with pytest.raises(KqlError, match="unknown table"):
        kql_to_df("Nope | count", {"Resources": resources})
    with pytest.raises(KqlError, match="unsupported operator"):
        kql_to_df("Resources | frobnicate x", {"Resources": resources})
    with pytest.raises(KqlError, match="unsupported function"):
        kql_to_df("Resources | extend x = mystery(1)", {"Resources": resources})


# ---------------------------------------------------------------------------
# Differential (sf0.001) for the registered oracle queries
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "name", ["kql_events_rollup", "kql_docs_tokens", "kql_join_spend"])
def test_kql_queries_match_oracle(spark, sf_dir, name):
    assert compare_to_oracle(spark, name, sf_dir) > 0


# ---------------------------------------------------------------------------
# Round-2 widening: case/argmax/percentile/conditional aggs, timespans,
# parse, union, project-rename/keep, make-series, parallel mv-expand
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tiny_events(spark):
    rows = [
        (1, "2024-01-01 00:30:00", 10, "click", 1.5, '{"k": 7}'),
        (2, "2024-01-01 07:10:00", 11, "view", 2.5, '{"k": 9}'),
        (3, "2024-01-02 01:00:00", 10, "click", 4.0, '{"k": 11}'),
        (4, "2024-01-03 09:00:00", 12, "purchase", 9.0, '{"k": 2}'),
    ]
    schema = ("event_id long, ts string, user_id long, event_type string,"
              "value double, props string")
    return (spark.createDataFrame(rows, schema)
            .withColumn("ts", F.col("ts").cast("timestamp")))


def test_case_requires_odd_args(tiny_events):
    with pytest.raises(KqlError, match="case"):
        kql_to_df("T | extend x = case(value > 1, 'a')", {"T": tiny_events})


def test_conditional_aggs_and_argmax(tiny_events):
    rows = kql_to_df(
        """
        T
        | summarize clicks = countif(event_type == 'click'),
                    click_v = sumif(value, event_type == 'click'),
                    users_click = dcountif(user_id, event_type == 'click'),
                    at_max = arg_max(value, event_id),
                    at_min = arg_min(value, event_id)
        """, {"T": tiny_events}).collect()
    r = rows[0]
    assert (r["clicks"], r["click_v"], r["users_click"]) == (2, 5.5, 1)
    assert r["at_max"] == 4 and r["at_min"] == 1


def test_timespan_bin_is_epoch_aligned(tiny_events):
    rows = kql_to_df(
        "T | extend b = bin(ts, 6h) | project event_id, b | order by event_id asc",
        {"T": tiny_events}).collect()
    assert [str(r["b"]) for r in rows] == [
        "2024-01-01 00:00:00", "2024-01-01 06:00:00",
        "2024-01-02 00:00:00", "2024-01-03 06:00:00"]
    with pytest.raises(KqlError, match="whole seconds"):
        kql_to_df("T | extend b = bin(ts, 500ms)", {"T": tiny_events})


def test_datetime_diff_counts_boundaries(tiny_events):
    rows = kql_to_df(
        """T | extend d = datetime_diff('day', ts, datetime(2024-01-01T00:00:00Z))
           | project event_id, d | order by event_id asc""",
        {"T": tiny_events}).collect()
    assert [r["d"] for r in rows] == [0, 0, 1, 2]
    with pytest.raises(KqlError, match="period"):
        kql_to_df("T | extend d = datetime_diff('fortnight', ts, ts)",
                  {"T": tiny_events})


def test_startofweek_is_sunday(tiny_events):
    rows = kql_to_df(
        "T | extend w = startofweek(ts) | project w | limit 1",
        {"T": tiny_events}).collect()
    # 2024-01-01 is a Monday; KQL weeks start Sunday → 2023-12-31
    assert str(rows[0]["w"]) == "2023-12-31 00:00:00"


def test_parse_typed_captures_and_miss(tiny_events):
    rows = kql_to_df(
        """T | parse props with '{"k": ' k:long '}'
           | project event_id, k | order by event_id asc""",
        {"T": tiny_events}).collect()
    assert [r["k"] for r in rows] == [7, 9, 11, 2]
    # non-matching input yields null, not ''
    rows = kql_to_df(
        """T | parse event_type with 'cli' tail
           | project event_id, tail | order by event_id asc""",
        {"T": tiny_events}).collect()
    assert [r["tail"] for r in rows] == ["ck", None, "ck", None]
    with pytest.raises(KqlError, match="capture type"):
        kql_to_df("T | parse props with 'x' k:complex128", {"T": tiny_events})


def test_parse_where_drops_nonmatching(tiny_events):
    """parse-where = parse + drop rows whose source misses the pattern
    (Kusto), unlike parse which keeps them with null captures."""
    kept = kql_to_df(
        """T | parse-where event_type with 'cli' tail
           | project event_id, tail | order by event_id asc""",
        {"T": tiny_events}).collect()
    assert [(r["event_id"], r["tail"]) for r in kept] == [(1, "ck"), (3, "ck")]
    # typed capture + trailing literal: only k ending in a specific
    # digit survives; leading-digits capture may be empty -> null
    rows = kql_to_df(
        """T | parse-where props with '{"k": ' d:long '9}'
           | project event_id, d""", {"T": tiny_events}).collect()
    assert [(r["event_id"], r["d"]) for r in rows] == [(2, None)]


def test_parse_kind_regex_groups_and_errors(tiny_events):
    """kind=regex: fragments are raw regex; a USER capture group in a
    fragment must not steal the engine captures' indices (shadow-named
    resolution); invalid regex and unknown kinds fail loudly."""
    rows = kql_to_df(
        r"""T | parse kind=regex props with @'\{"k": (7|9|11)(\d?)' tail
           | project event_id, tail | order by event_id asc""",
        {"T": tiny_events}).collect()
    # props: {"k": 7} {"k": 9} {"k": 11} {"k": 2} — two user groups
    # precede the engine capture (verbatim @'…' fragments, the Kusto
    # idiom for regex — plain '…' literals unescape backslashes);
    # tail is everything after the digits
    assert [r["tail"] for r in rows] == ["}", "}", "}", None]
    with pytest.raises(KqlError, match="invalid parse regex"):
        kql_to_df(r"T | parse kind=regex props with @'([' x",
                  {"T": tiny_events})
    with pytest.raises(KqlError, match="simple or regex"):
        kql_to_df("T | parse kind=banana props with 'x' y",
                  {"T": tiny_events})


def test_top_nested_hierarchy_and_naming(tiny_events):
    """Hierarchical top-N: level-2 winners are per level-1 group, each
    level carries its aggregate; default column name aggregated_<col>,
    explicit alias honoured; `with others` loudly unsupported."""
    rows = kql_to_df(
        """T | top-nested 2 of event_type by round(sum(value), 2),
               top-nested 1 of user_id by u = round(sum(value), 2)
           | order by event_type asc""",
        {"T": tiny_events}).collect()
    # sums: purchase 9.0, click 5.5, view 2.5 -> top2 purchase, click;
    # best user within: purchase->12 (9.0), click->10 (5.5)
    assert [(r["event_type"], r["aggregated_event_type"], r["user_id"],
             r["u"]) for r in rows] == [
        ("click", 5.5, 10, 5.5), ("purchase", 9.0, 12, 9.0)]
    # r10: `with others` is SUPPORTED in Kusto's position (before
    # `by`); the trailing position errors with a targeted hint
    with pytest.raises(KqlError, match="goes between"):
        kql_to_df("T | top-nested 2 of event_type by sum(value) "
                  "with others = 'rest'", {"T": tiny_events})
    with pytest.raises(KqlError, match="N of Col"):
        kql_to_df("T | top-nested of event_type by sum(value)",
                  {"T": tiny_events})


def test_top_nested_with_others_buckets(tiny_events):
    """r10 (r9 stretch #7): `with others = <literal>` adds one row
    per surviving prefix aggregating the anti-joined remainder;
    deeper columns are NULL on an others row; a numeric level column
    takes a numeric label; an empty remainder emits no row."""
    rows = kql_to_df(
        """T | top-nested 2 of event_type with others = 'OTHER' by n = count(),
               top-nested 1 of user_id with others = -1 by m = count()
           | order by event_type asc, user_id asc""",
        {"T": tiny_events}).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    # level-1 others bucket: everything outside the top-2 event types
    assert "OTHER" in by_type
    oth = by_type["OTHER"][0]
    assert oth["user_id"] is None and oth["m"] is None
    assert oth["n"] >= 1
    # per-winner level-2 others: remainder users beyond the top 1
    for et, group in by_type.items():
        if et == "OTHER":
            continue
        labels = {r["user_id"] for r in group}
        assert -1 in labels or len(labels) == 1  # no remainder -> no row
    # a top-N covering every value emits NO others rows
    rows = kql_to_df(
        "T | top-nested 99 of event_type with others = 'OTHER' by n = count()",
        {"T": tiny_events}).collect()
    assert all(r["event_type"] != "OTHER" for r in rows)
    # r10 advice: a STRING label over a numeric level column is a
    # compile-time KqlError (Kusto rejects it; a runtime cast would
    # abort the whole job mid-execution under Spark 4 ANSI)
    with pytest.raises(KqlError, match="non-string column"):
        kql_to_df(
            "T | top-nested 1 of user_id with others = 'Other' "
            "by n = count()", {"T": tiny_events}).collect()


def test_union_outer_nullfills_and_inner_intersects(tiny_events):
    outer = kql_to_df(
        """T | where event_type == 'click' | project event_id, value
           | union kind=outer ( T | where event_type == 'view' | project event_id, user_id )""",
        {"T": tiny_events})
    assert sorted(outer.columns) == ["event_id", "user_id", "value"]
    assert outer.count() == 3
    inner = kql_to_df(
        """T | where event_type == 'click' | project event_id, value
           | union kind=inner ( T | where event_type == 'view' | project event_id, user_id )""",
        {"T": tiny_events})
    assert inner.columns == ["event_id"]
    with pytest.raises(KqlError, match="unknown table"):
        kql_to_df("T | union Nope", {"T": tiny_events})


def test_project_rename_and_keep(tiny_events):
    df = kql_to_df(
        "T | project-rename id = event_id | project-keep id, value",
        {"T": tiny_events})
    assert df.columns == ["id", "value"]
    with pytest.raises(KqlError, match="unknown column"):
        kql_to_df("T | project-rename x = nope", {"T": tiny_events})
    with pytest.raises(KqlError, match="unknown column"):
        kql_to_df("T | project-keep nope", {"T": tiny_events})


def test_make_series_grid_default_and_parallel_mvexpand(tiny_events):
    rows = kql_to_df(
        """
        T
        | make-series n = count() default = 0 on ts
            from datetime(2024-01-01T00:00:00Z) to datetime(2024-01-04T00:00:00Z) step 1d
            by event_type
        | mv-expand n, ts
        | project event_type, ts, n
        | order by event_type asc, ts asc
        """, {"T": tiny_events}).collect()
    # 3 types × 3 daily bins, zero-filled where no events
    assert len(rows) == 9
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["n"])
    assert by_type == {"click": [1, 1, 0], "view": [1, 0, 0],
                       "purchase": [0, 0, 1]}
    with pytest.raises(KqlError, match="make-series"):
        kql_to_df("T | make-series n = count() on ts step 1d", {"T": tiny_events})


def test_scalar_string_helpers(tiny_events):
    r = kql_to_df(
        """T | where event_id == 1
           | extend i = indexof(event_type, 'ick'), miss = indexof(event_type, 'zz'),
                    s = strcat_delim('-', event_type, user_id), r = reverse(event_type)
           | project i, miss, s, r""", {"T": tiny_events}).collect()[0]
    assert (r["i"], r["miss"], r["s"], r["r"]) == (2, -1, "click-10", "kcilc")


def test_between_inclusive_and_negated(spark):
    df = spark.createDataFrame([(1,), (5,), (10,), (11,)], "x long")
    got = kql_to_df("T | where x between (5 .. 10) | project x", {"T": df}).collect()
    assert sorted(r["x"] for r in got) == [5, 10]
    got = kql_to_df("T | where x !between (5 .. 10) | project x", {"T": df}).collect()
    assert sorted(r["x"] for r in got) == [1, 11]


def test_has_any_and_has_all_whole_terms(spark):
    df = spark.createDataFrame(
        [("alpha beta",), ("beta gamma",), ("alphabet soup",)], "s string")
    got = kql_to_df("T | where s has_any ('alpha', 'gamma') | project s",
                    {"T": df}).collect()
    assert sorted(r["s"] for r in got) == ["alpha beta", "beta gamma"]
    got = kql_to_df("T | where s has_all ('beta', 'gamma') | project s",
                    {"T": df}).collect()
    assert [r["s"] for r in got] == ["beta gamma"]


def test_mv_apply_summarize_per_record(spark):
    df = spark.createDataFrame(
        [(1, [1, 5, 9]), (2, [2, 2]), (3, [])],
        "id long, xs array<long>",
    )
    got = {r["id"]: (r["n"], r["s"]) for r in kql_to_df(
        "T | mv-apply xs on ( where xs >= 2 | summarize n = count(), s = sum(xs) )"
        " | project id, n, s",
        {"T": df}).collect()}
    # id 1: elements 5, 9 survive; id 2: both 2s; id 3: empty array drops out
    assert got == {1: (2, 14), 2: (2, 4)}


def test_mv_apply_requires_summarize_tail(spark):
    import pytest as _pytest

    from corkscrew_spark.kql import KqlError

    df = spark.createDataFrame([(1, [1])], "id long, xs array<long>")
    with _pytest.raises(KqlError, match="summarize"):
        kql_to_df("T | mv-apply xs on ( where xs > 0 )", {"T": df})


def test_numeric_vs_string_literal_is_compile_error(spark):
    """Kusto rejects `longcol == 'text'` at compile time; Spark's ANSI
    folding would otherwise raise CAST_INVALID_INPUT mid-action on an
    executor — the compiler must surface a KqlError immediately."""
    import pytest

    from corkscrew_spark.catalog import register_tables
    from corkscrew_spark.kql import KqlError, kql_to_df

    t = register_tables(spark, "/root/testdata/sf0.001")
    with pytest.raises(KqlError, match="type mismatch"):
        kql_to_df("documents | where doc_id == 'd-000001'", t)
    # numeric-to-numeric and string-to-string comparisons still compile
    assert kql_to_df("documents | where doc_id == 1", t).count() == 1
    assert kql_to_df("documents | where lang == 'en' | take 1",
                     t).count() == 1


def test_numeric_vs_string_literal_every_comparison(spark):
    """The compile-time type check covers every comparison shape — a
    literal on either side, in/!in, between, a computed operand — and
    admits the string literals Spark's cast reads as numbers."""
    t = {"T": spark.createDataFrame([(1, 2.5, "a")],
                                    "id long, v double, s string")}
    for cond in ("'x' == id", "id != 'x'", "id in ('x')", "id !in ('x')",
                 "id between ('a' .. 'b')", "id + 1 > 'x'", "id <= '1.5'",
                 "v >= 'x'"):
        with pytest.raises(KqlError, match="type mismatch"):
            kql_to_df(f"T | where {cond}", t)
    assert kql_to_df("T | where id == ' 1 ' and v < '2.5e1' and s == 'a' "
                     "| count", t).first()["Count"] == 1


class TestKqlSkipping:
    """kql_to_df_skipping: warehouse-dir sources read through zone maps
    mined from the pipeline's leading where stages — result identity
    with plain reads, fewer files opened."""

    def test_skip_predicates_mining(self):
        from corkscrew_spark.kql import _skip_predicates

        assert _skip_predicates("k >= 700 and s == 'x'") == [
            ("k", ">=", 700), ("s", "=", "x")]
        assert _skip_predicates("700 <= k") == [("k", ">=", 700)]
        assert _skip_predicates("k in (1, 2, 3)") == [("k", "in", [1, 2, 3])]
        assert _skip_predicates("isnull(v) and isnotnull(s)") == [
            ("v", "is_null", None), ("s", "is_not_null", None)]
        # a top-level `or` voids the stage; unsound shapes drop the term
        assert _skip_predicates("k >= 700 or s == 'x'") == []
        assert _skip_predicates("tolower(s) == 'x' and k > 5") == [
            ("k", ">", 5)]
        assert _skip_predicates("s =~ 'X'") == []     # case-insensitive
        assert _skip_predicates("s has 'word'") == []
        assert _skip_predicates("k != 3") == []
        # offset-bearing datetimes can disagree with the session zone
        assert _skip_predicates("ts > datetime(2024-01-01T00:00:00Z)") == []
        got = _skip_predicates("ts > datetime(2024-01-05 06:00:00)")
        import datetime as dt
        assert got == [("ts", ">", dt.datetime(2024, 1, 5, 6, 0))]

    def test_warehouse_source_pruned_and_identical(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from corkscrew_spark import skipping
        from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

        path = str(tmp_path / "events_tbl")
        spark.range(800).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
            F.concat(F.lit("u"), (F.col("id") % 13).cast("string")
                     ).alias("user")
        ).repartitionByRange(8, "k").write.parquet(path)
        skipping.compute_stats(spark, path, ["k"])
        q = ("Events | where k >= 700 and user != 'u3' "
             "| summarize Count=count() by v | order by v asc")
        got = kql_to_df_skipping(spark, q, {"Events": path})
        plain = kql_to_df(q, {"Events": spark.read.parquet(path)})
        assert [tuple(r) for r in got.collect()] \
            == [tuple(r) for r in plain.collect()]
        # the source really went through read_skipping with the mined
        # conjuncts, and the plan kept a strict file subset
        plan = skipping.plan_skip(path, [("k", ">=", 700)])
        assert plan["fallback"] is None and plan["pruned"]
        assert len(plan["kept"]) <= 2

    def test_non_head_and_later_wheres_not_mined(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from corkscrew_spark import skipping
        from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

        path = str(tmp_path / "t2")
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        ).repartitionByRange(4, "k").write.parquet(path)
        skipping.compute_stats(spark, path, ["k"])
        # the where AFTER summarize refers to an aggregate column: it
        # must not be mined (only the leading-where prefix is), and the
        # result must match the plain compile
        q = ("T | summarize n=count() by g | where n > 10 "
             "| order by g asc")
        got = kql_to_df_skipping(spark, q, {"T": path})
        plain = kql_to_df(q, {"T": spark.read.parquet(path)})
        assert [tuple(r) for r in got.collect()] \
            == [tuple(r) for r in plain.collect()]


def test_kql_or_where_prunes_as_dnf(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from corkscrew_spark import skipping
    from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

    path = str(tmp_path / "ort")
    spark.range(800).selectExpr("id AS k", "id % 7 AS v"
                                ).repartitionByRange(8, "k").write.parquet(path)
    skipping.compute_stats(spark, path, ["k"])
    seen = []
    real = skipping.read_skipping_any
    monkeypatch.setattr(
        skipping, "read_skipping_any",
        lambda s, p, b, **kw: seen.append(b) or real(s, p, b, **kw))
    q = ("T | where v >= 0 | where k < 50 or (k >= 750 and v == 1) "
         "| summarize n=count() by v | order by v asc")
    got = kql_to_df_skipping(spark, q, {"T": path})
    assert seen == [[[("v", ">=", 0), ("k", "<", 50)],
                     [("v", ">=", 0), ("k", ">=", 750), ("v", "=", 1)]]]
    plain = kql_to_df(q, {"T": spark.read.parquet(path)})
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in plain.collect()]
    plan = skipping.plan_skip_any(
        path, [[("k", "<", 50)], [("k", ">=", 750)]])
    assert plan["pruned"]


def test_kql_parenthesized_stage_still_mines():
    from corkscrew_spark.kql import _skip_branches, _skip_predicates

    assert _skip_branches("(k < 50 or k >= 750)") == [
        [("k", "<", 50)], [("k", ">=", 750)]]
    assert _skip_predicates("(k >= 1 and v == 2)") == [
        ("k", ">=", 1), ("v", "=", 2)]
    # KQL case() is a parenthesized function: its inner and/or never
    # leaks into the top-level split
    assert _skip_predicates("case(k > 1 and v == 2, 1, 0) == 1") == []


def test_kql_skipping_rejects_tables_warehouse_collision(spark, tmp_path):
    """A name registered both as a caller DataFrame and a warehouse dir
    would silently resolve to the directory read (keys are lowered);
    the compiler refuses the ambiguity instead."""
    import pytest
    from pyspark.sql import functions as F

    from corkscrew_spark.kql import KqlError, kql_to_df_skipping

    path = str(tmp_path / "amb")
    spark.range(10).select(F.col("id").alias("k")).write.parquet(path)
    df = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(KqlError, match="exactly one"):
        kql_to_df_skipping(spark, "Amb | count", {"amb": path},
                           tables={"AMB": df})


class TestKqlJoinSideSkipping:
    """Round-7: join/union sub-pipeline sources prune too — any table
    referenced EXACTLY ONCE reads through its reference's leading
    wheres; a second mention anywhere (even unparsed) forces plain."""

    @pytest.fixture()
    def dirs(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from corkscrew_spark import skipping

        ev = str(tmp_path / "events_t")
        us = str(tmp_path / "users_t")
        spark.range(800).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("uid")
        ).repartitionByRange(8, "k").write.parquet(ev)
        spark.range(400).select(
            F.col("id").alias("uid"), (F.col("id") % 4).alias("tier")
        ).repartitionByRange(4, "uid").write.parquet(us)
        skipping.compute_stats(spark, ev, ["k"])
        skipping.compute_stats(spark, us, ["uid"])
        return ev, us

    def test_join_side_pruned_and_identical(self, spark, dirs):
        from corkscrew_spark import skipping
        from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

        ev, us = dirs
        q = ("Ev | where k >= 700 "
             "| join kind=inner (Us | where uid < 5) on uid "
             "| summarize n=count() by tier | order by tier asc")
        got = kql_to_df_skipping(spark, q, {"Ev": ev, "Us": us})
        plain = kql_to_df(q, {"Ev": spark.read.parquet(ev),
                              "Us": spark.read.parquet(us)})
        assert [tuple(r) for r in got.collect()] \
            == [tuple(r) for r in plain.collect()]
        # BOTH sides' plans prune (head on k, join side on uid)
        for path, preds in ((ev, [("k", ">=", 700)]),
                            (us, [("uid", "<", 5)])):
            plan = skipping.plan_skip(path, preds)
            assert plan["fallback"] is None and plan["pruned"], path
        files = scanned_files(got)
        assert 0 < len([f for f in files if "events_t" in f]) < 8
        assert 0 < len([f for f in files if "users_t" in f]) < 4

    def test_union_operand_pruned(self, spark, dirs):
        from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

        ev, us = dirs
        q = ("Ev | where k < 50 "
             "| union (Us | where uid >= 350) | count")
        got = kql_to_df_skipping(spark, q, {"Ev": ev, "Us": us})
        plain = kql_to_df(q, {"Ev": spark.read.parquet(ev),
                              "Us": spark.read.parquet(us)})
        assert got.first()["Count"] == plain.first()["Count"] == 100
        files = scanned_files(got)
        assert 0 < len([f for f in files if "users_t" in f]) < 4

    def test_multi_reference_prunes_each_reference(self, spark, dirs):
        """The same table as head AND join side (different wheres):
        each reference is its own filter over the table's one plain
        read, pruned by that reference's own wheres, so the statement
        opens fewer files than the table has and loses no row."""
        from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

        ev, _us = dirs
        q = ("Ev | where k >= 700 "
             "| join kind=inner (Ev | where k < 50 "
             "| project uid, k2=k) on uid | count")
        got = kql_to_df_skipping(spark, q, {"Ev": ev})
        plain = kql_to_df(q, {"Ev": spark.read.parquet(ev)})
        assert got.first()["Count"] == plain.first()["Count"] > 0
        assert 0 < len([f for f in scanned_files(got)
                        if "events_t" in f]) < 8


class TestKqlScanBudget:
    """Round-8: `kql_to_df_skipping(max_scan_bytes=…)` is the same
    admission control as `QueryEngine(max_scan_bytes=…)` — the
    metadata-only estimate of every table the pipeline actually reads
    is checked BEFORE any file opens, the plan shared with the pruned
    read (one listing, never two)."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from corkscrew_spark import skipping

        path = str(tmp_path / "bud_t")
        spark.range(800).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).repartitionByRange(8, "k").write.parquet(path)
        skipping.compute_stats(spark, path, ["k"])
        return path

    def test_selective_runs_pruned_wide_refused(self, spark, table):
        from corkscrew_spark import skipping
        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import kql_to_df_skipping

        est = skipping.estimate_scan(table, [("k", ">=", 700)])
        budget = est["bytes_kept"] + 1
        got = kql_to_df_skipping(
            spark, "T | where k >= 700 | summarize n=count()",
            {"T": table}, max_scan_bytes=budget)
        assert got.first()["n"] == 100
        assert 0 < len(scanned_files(got)) <= 2  # still pruned
        with pytest.raises(ScanBudgetExceeded, match="budget"):
            kql_to_df_skipping(
                spark, "T | where k >= 0 | summarize n=count()",
                {"T": table}, max_scan_bytes=budget)

    def test_bare_pipeline_refused_at_full_scan(self, spark, table):
        """`BigTable | take 5` — no minable where — estimates at FULL
        scan and is refused (the engine-side review finding applies to
        the KQL surface identically)."""
        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import kql_to_df_skipping

        with pytest.raises(ScanBudgetExceeded, match="budget"):
            kql_to_df_skipping(spark, "T | take 5", {"T": table},
                               max_scan_bytes=1)
        big = kql_to_df_skipping(spark, "T | take 5", {"T": table},
                                 max_scan_bytes=10 ** 12)
        assert big.count() == 5

    def test_mv_apply_body_reads_are_governed(self, spark, table):
        """A union/join inside an mv-apply BODY resolves tables through
        apply_stage — the governor must see those reads too (review
        finding: the body's table once bypassed admission control).
        Also: a warehouse table the query never mentions must not be
        eagerly registered."""
        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import (kql_estimate_statement,
                                         kql_to_df_skipping)

        q = ("S | mv-apply xs on ( union T | summarize n = count() )")
        small = spark.createDataFrame([(1, ["a"])],
                                      "id long, xs array<string>")
        assert set(kql_estimate_statement(
            q, {"T": table}, tables={"S": small})["tables"]) == {"t"}
        with pytest.raises(ScanBudgetExceeded, match="budget"):
            kql_to_df_skipping(spark, q, {"T": table},
                               tables={"S": small}, max_scan_bytes=1)
        # unreferenced warehouse table: no eager read, query still runs
        got = kql_to_df_skipping(
            spark, "S | mv-expand xs | count",
            {"Unused": table}, tables={"S": small})
        assert got.first()["Count"] == 1

    def test_multi_reference_enforced_at_full_scan(self, spark, table):
        """A twice-read table prices each reference under its own
        wheres, and the governor refuses the statement on that
        estimate."""
        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import kql_to_df_skipping

        q = ("T | where k >= 700 | join kind=inner "
             "(T | where k < 50 | project v, k2=k) on v | count")
        with pytest.raises(ScanBudgetExceeded):
            kql_to_df_skipping(spark, q, {"T": table}, max_scan_bytes=1)
        assert kql_to_df_skipping(
            spark, q, {"T": table},
            max_scan_bytes=10 ** 12).first()["Count"] > 0

    def test_statement_aggregate_ceiling(self, spark, table, tmp_path):
        """r10 (matching the SQL engine): the budget caps the QUERY'S
        total I/O — two tables each under budget alone are refused
        when their sum crosses it, and a twice-referenced table
        counts once per reference."""
        from pyspark.sql import functions as F

        from corkscrew_spark import skipping
        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import kql_to_df_skipping

        other = str(tmp_path / "bud_u")
        spark.range(600).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).repartitionByRange(8, "k").write.parquet(other)
        skipping.compute_stats(spark, other, ["k"])
        t_full = skipping.estimate_scan(table, [])["bytes_kept"]
        u_full = skipping.estimate_scan(other, [])["bytes_kept"]
        budget = max(t_full, u_full) + 1
        assert budget < t_full + u_full
        # each alone fits
        assert kql_to_df_skipping(
            spark, "T | count", {"T": table},
            max_scan_bytes=budget).first()["Count"] == 800
        assert kql_to_df_skipping(
            spark, "U | count", {"U": other},
            max_scan_bytes=budget).first()["Count"] == 600
        # together they do not
        with pytest.raises(ScanBudgetExceeded, match="STATEMENT"):
            kql_to_df_skipping(
                spark, "T | union U | count",
                {"T": table, "U": other}, max_scan_bytes=budget)
        # a twice-referenced table is twice the I/O
        with pytest.raises(ScanBudgetExceeded, match="STATEMENT"):
            kql_to_df_skipping(
                spark, "T | join kind=inner (T | project v, k2=k) "
                "on v | count",
                {"T": table}, max_scan_bytes=t_full + 1)

    def test_kql_estimate_statement_totals(self, spark, table):
        """r10: the KQL dry-run exposes the query total the aggregate
        governor enforces on — a twice-referenced table counts once
        per reference in the total, once in the per-table dict."""
        from corkscrew_spark import skipping
        from corkscrew_spark.kql import kql_estimate_statement

        t_full = skipping.estimate_scan(table, [])["bytes_kept"]
        est = kql_estimate_statement(
            "T | join kind=inner (T | project v, k2=k) on v | count",
            {"T": table})
        assert est["reads"] == 2
        assert est["bytes_kept"] == 2 * t_full
        assert set(est["tables"]) == {"t"}

    def test_nostats_table_refused_at_fallback_bytes(
            self, spark, table, tmp_path):
        """r10 verdict #1 (KQL twin): a warehouse table with NO
        skipping stats produced a fallback estimate the armed
        governor neither refused nor summed. It now counts at its
        honest full-scan bytes and the refusal names the remedy."""
        from pyspark.sql import functions as F

        from corkscrew_spark import skipping
        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import (kql_estimate_statement,
                                         kql_to_df_skipping)

        nostats = str(tmp_path / "bud_ns")
        spark.range(800).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).repartitionByRange(8, "k").write.parquet(nostats)
        full = skipping.estimate_scan(nostats, [])
        assert full["fallback"] is not None
        with pytest.raises(ScanBudgetExceeded,
                           match="stats are unavailable"):
            kql_to_df_skipping(
                spark, "N | where k >= 700 | count", {"N": nostats},
                max_scan_bytes=full["bytes_kept"] - 1)
        # the dry-run total carries the same fallback bytes
        est = kql_estimate_statement("N | count", {"N": nostats})
        assert est["bytes_kept"] == full["bytes_total"]
        assert est["tables"]["n"]["fallback"] is not None
        # statement ceiling counts it too: stats-fresh T alone fits,
        # T ∪ N does not
        t_full = skipping.estimate_scan(table, [])["bytes_kept"]
        with pytest.raises(ScanBudgetExceeded, match="STATEMENT"):
            kql_to_df_skipping(
                spark, "T | union N | count",
                {"T": table, "N": nostats},
                max_scan_bytes=max(t_full, full["bytes_kept"]) + 1)

    def test_opt_out_enforces_on_full_scan_estimate(self, spark, table):
        """A budget between the pruned and full estimates admits the
        pipeline, because the read really is the pruned one."""
        from corkscrew_spark import skipping
        from corkscrew_spark.kql import kql_to_df_skipping

        pruned = skipping.estimate_scan(table, [("k", ">=", 700)])
        full = skipping.estimate_scan(table, [])
        assert pruned["bytes_kept"] < full["bytes_kept"]
        mid = (pruned["bytes_kept"] + full["bytes_kept"]) // 2
        q = "T | where k >= 700 | count"
        got = kql_to_df_skipping(spark, q, {"T": table},
                                 max_scan_bytes=mid)
        assert got.first()["Count"] == 100
        assert 0 < len(scanned_files(got)) < 8  # really pruned

    def test_kql_estimate_scan_dry_run(self, spark, table, tmp_path):
        """kql_estimate_statement is the dry-run half: each reference
        priced under its own mined predicates, full-scan estimate for
        bare ones, absent for unread/no-stats tables —
        never saying 'will run' for a pipeline the governor refuses."""
        from pyspark.sql import functions as F

        from corkscrew_spark.kql import KqlError, kql_estimate_statement

        est = kql_estimate_statement("T | where k >= 700 | count",
                                     {"T": table})["tables"]
        e = est["t"]
        assert e["fallback"] is None
        assert 0 < e["files_kept"] < e["files_total"] == 8
        # bare pipeline: trivial full-scan estimate
        bare = kql_estimate_statement("T | take 5",
                                      {"T": table})["tables"]["t"]
        assert bare["files_kept"] == bare["files_total"] == 8
        # multi-referenced: each reference prices under its own wheres
        multi = kql_estimate_statement(
            "T | where k >= 700 | join kind=inner "
            "(T | where k < 50 | project v, k2=k) on v | count",
            {"T": table})["tables"]["t"]
        assert 0 < multi["files_kept"] < 8
        # DNF leading where estimates through the union-bound path
        dnf = kql_estimate_statement(
            "T | where k < 50 or k >= 750 | count",
            {"T": table})["tables"]["t"]
        assert dnf["files_kept"] == 2
        # unread and stats-less tables are absent
        nostats = str(tmp_path / "ns_t")
        spark.range(10).select(F.col("id").alias("k")
                               ).write.parquet(nostats)
        got = kql_estimate_statement("T | count",
                                     {"T": table, "U": nostats})["tables"]
        assert set(got) == {"t"}
        ns = kql_estimate_statement("N | count",
                                    {"N": nostats})["tables"]
        assert ns["n"]["fallback"] is not None  # no stats: full scan
        import pytest as _pytest
        with _pytest.raises(KqlError, match="empty"):
            kql_estimate_statement("", {"T": table})

    def test_unreferenced_and_statless_tables(self, spark, table,
                                              tmp_path):
        from pyspark.sql import functions as F

        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import kql_to_df_skipping

        # a warehouse entry the pipeline never reads costs nothing
        got = kql_to_df_skipping(
            spark, "T | where k >= 700 | count",
            {"T": table, "Unused": table}, max_scan_bytes=10 ** 12)
        assert got.first()["Count"] == 100
        # r11 (was: advisory-only): a table without stats counts at
        # its honest full-scan fallback bytes, exactly like the
        # engine governor
        nostats = str(tmp_path / "nostats_t")
        spark.range(50).select(F.col("id").alias("k")
                               ).write.parquet(nostats)
        with pytest.raises(ScanBudgetExceeded,
                           match="stats are unavailable"):
            kql_to_df_skipping(spark, "N | count", {"N": nostats},
                               max_scan_bytes=1)


def test_mvapply_body_placeholder_not_a_ref(spark, wh):
    """A body-leading `where` filters the exploded stream, not a
    warehouse table: a table read inside an mv-apply body is governed
    at full scan, and a body with no table read reads nothing."""
    s = {"S": spark.createDataFrame([(1, [1, 2])],
                                    "id long, xs array<long>")}
    est = kql_estimate_statement(
        "S | mv-apply xs on ( where xs > 0 | union T "
        "| summarize n = count() )", wh, tables=s)
    assert est["reads"] == 1
    assert est["tables"]["t"]["files_kept"] == 8
    est = kql_estimate_statement(
        "S | mv-apply xs on ( where xs > 0 | summarize n = count() )",
        wh, tables=s)
    assert est["reads"] == 0 and est["tables"] == {}


def test_division_by_zero_yields_null_not_crash(spark):
    """r10 review: under Spark 4's default ANSI mode `a / b` with ONE
    zero divisor aborted the whole pipeline mid-job; Kusto yields null
    for integer division by zero. `/` and `%` compile to
    try_divide/try_mod — null on zero divisor, job survives."""
    from corkscrew_spark.kql import kql_to_df

    df = spark.createDataFrame([(10, 2), (5, 0), (9, 3)],
                               "a long, b long")
    got = {(r["a"], r["r"], r["m"]) for r in kql_to_df(
        "T | extend r = a / b, m = a % b", {"T": df}).collect()}
    assert got == {(10, 5.0, 0), (5, None, None), (9, 3.0, 0)}
    # aggregates over the extended column survive too
    n = kql_to_df("T | extend r = a / b | where isnull(r) | count",
                  {"T": df}).first()["Count"]
    assert n == 1


def test_conversion_functions_null_on_malformed(spark):
    """r10 review: Kusto's tolong/toint/toreal/tobool/todatetime return
    null on malformed input; Spark 4's default ANSI cast aborted the
    job on the first bad row. try_cast semantics pinned."""
    from corkscrew_spark.kql import kql_to_df

    df = spark.createDataFrame(
        [("12", "2024-01-01T00:00:00Z"), ("abc", "not-a-date")],
        "s string, t string")
    rows = kql_to_df(
        "T | extend v = tolong(s), r = toreal(s), d = todatetime(t), "
        "b = tobool(s)", {"T": df}).orderBy("s").collect()
    good = next(r for r in rows if r["s"] == "12")
    bad = next(r for r in rows if r["s"] == "abc")
    assert good["v"] == 12 and good["r"] == 12.0 and good["d"] is not None
    assert bad["v"] is None and bad["r"] is None and bad["d"] is None
    assert bad["b"] is None
    # an overflowing typed parse capture yields null, not an abort
    big = spark.createDataFrame([("k=123",), ("k=" + "9" * 25,)],
                                "s string")
    rows = kql_to_df("T | parse s with 'k=' v:long", {"T": big}).collect()
    vals = {r["s"]: r["v"] for r in rows}
    assert vals["k=123"] == 123
    assert vals["k=" + "9" * 25] is None


def test_case_sensitive_family_and_matches_regex(spark):
    """r10: Kusto's case-sensitive comparison family (has_cs /
    contains_cs / startswith_cs / endswith_cs + negations), `matches
    regex`, `in~`/`!in~`, and the small verbs sample / serialize /
    project-reorder / getschema."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    df = spark.createDataFrame(
        [("Alpha", 1), ("beta", 2), ("ALPHA", 3)], "s string, k long")
    t = {"T": df}

    def ks(q):
        return sorted(r["k"] for r in kql_to_df(q, t).collect())

    assert ks("T | where s has_cs 'Alpha'") == [1]
    assert ks("T | where s has 'alpha'") == [1, 3]
    assert ks("T | where s contains_cs 'lph'") == [1]
    assert ks("T | where s !contains_cs 'lph'") == [2, 3]
    assert ks("T | where s startswith_cs 'AL'") == [3]
    assert ks("T | where s endswith_cs 'a'") == [1, 2]
    assert ks("T | where s matches regex '^[A]l'") == [1]
    assert ks("T | where s in~ ('alpha')") == [1, 3]
    assert ks("T | where s !in~ ('alpha')") == [2]
    # r10 advice: numeric literals in in~ compared against the
    # column's string RENDERING ('5' vs '5.0'), silently dropping
    # rows — refused at compile time now (Kusto's ~ family is
    # string-only)
    with pytest.raises(KqlError, match="STRING membership"):
        kql_to_df("T | where k in~ (1, 3)", t)
    assert len(kql_to_df("T | sample 2", t).collect()) == 2
    assert len(kql_to_df("T | serialize | take 1", t).collect()) == 1
    out = kql_to_df("T | project-reorder k, s", t)
    assert out.columns == ["k", "s"]
    sch = {r["ColumnName"]: (r["ColumnOrdinal"], r["DataType"])
           for r in kql_to_df("T | getschema", t).collect()}
    assert sch == {"s": (0, "string"), "k": (1, "bigint")}
    with pytest.raises(KqlError, match="followed by `regex`"):
        kql_to_df("T | where s matches 'x'", t)
    with pytest.raises(KqlError, match="assignments"):
        kql_to_df("T | serialize rn = row_number()", t)


def test_let_statements(spark):
    """r11: `let Name = …;` bindings — scalar literals substitute
    lexically (token-aware: never inside strings, dotted tails, or
    function-call heads), tabular lets become named DataFrames
    visible to later statements, chains and datatable bodies work,
    and malformed statement sequences error loudly."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    ev = spark.createDataFrame(
        [(1, "click", 5.0), (2, "view", 2.0), (3, "click", 9.0),
         (4, "error", 1.0)],
        "id long, et string, v double")
    t = {"T": ev}
    got = kql_to_df(
        """let cutoff = 3.0;
           let Clicks = T | where et == 'click';
           Clicks | where v >= cutoff
           | summarize n = count(), s = sum(v)""", t).first()
    assert (got["n"], got["s"]) == (2, 14.0)
    # scalar lets chain and feed tabular lets
    assert kql_to_df(
        """let a = 2; let b = 'click';
           let Big = T | where v >= a;
           Big | where et == b | count""", t).first()["Count"] == 2
    # datatable body in a let, joined later
    assert kql_to_df(
        """let Dim = datatable(et:string, w:long)
               ['click', 10, 'view', 20];
           T | join kind=inner (Dim) on et
           | summarize tw = sum(w)""", t).first()["tw"] == 40
    # a let name inside a STRING literal never substitutes
    assert kql_to_df(
        "let x = 99; T | where et == 'x' | count",
        t).first()["Count"] == 0
    # function-call heads keep their name (let count = … must not
    # break count()); dotted tails keep theirs
    assert kql_to_df(
        "let sum = 7; T | summarize s = sum(v)",
        t).first()["s"] == 17.0
    with pytest.raises(KqlError, match="end with a tabular"):
        kql_to_df("let x = 1; let y = 2;", t)
    with pytest.raises(KqlError, match="only `let"):
        kql_to_df("T | count; T | count", t)
    with pytest.raises(KqlError, match="empty let body"):
        kql_to_df("let x = ; T | count", t)


def test_let_bodies_are_governed(spark, wh):
    """A warehouse read inside a `let` BODY is a real scan: the
    governor must see it, and the let-bound read still prunes by the
    body's own wheres."""
    from corkscrew_spark import skipping
    from corkscrew_spark.engine import ScanBudgetExceeded

    path = wh["T"]
    q = "let Big = T | where k >= 700; Big | count"
    assert kql_estimate_statement(q, wh)["tables"]["t"]["files_kept"] == 1
    with pytest.raises(ScanBudgetExceeded, match="budget"):
        kql_to_df_skipping(spark, q, {"T": path}, max_scan_bytes=1)
    pruned = skipping.estimate_scan(path, [("k", ">=", 700)])
    got = kql_to_df_skipping(
        spark, q, {"T": path},
        max_scan_bytes=pruned["bytes_kept"] + 1)
    assert got.first()["Count"] == 100
    assert 0 < len(scanned_files(got)) <= 2  # the let body's read pruned


def test_third_review_wave_fixes(spark):
    """r11 review pass 3: (a) literal-contract functions see raw
    tokens ONLY for single-token args — a computed bag_pack key
    starting with a string literal routes to the map path instead of
    silently freezing the key; (b) the computed-key fallback keeps
    VALUE types; (c) duplicate literal keys dedupe last-wins;
    (d) ago('1h') — the quoted-timespan typo — refuses at compile;
    (e) empty project lists error; (f) Decimal toscalar renders."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    df = spark.createDataFrame([(1, "a", 2.5)],
                               "id long, s string, v double")
    t = {"T": df}
    assert kql_to_df(
        "T | extend b = bag_pack(strcat('k_', tostring(id)), id) "
        "| project b", t).first()["b"] == '{"k_1":1}'
    assert kql_to_df("T | extend b = bag_pack('a', 1, 'a', 2) "
                     "| project b", t).first()["b"] == '{"a":2}'
    with pytest.raises(KqlError, match="not a string literal"):
        kql_to_df("T | where now() > ago('1h')", t)
    with pytest.raises(KqlError, match="at least one column"):
        kql_to_df("T | project-keep", t)
    with pytest.raises(KqlError, match="at least one column"):
        kql_to_df("T | project-away ,", t)
    dd = spark.range(1).selectExpr(
        "CAST(1.25 AS DECIMAL(10,2)) AS amount", "id")
    assert kql_to_df(
        "let m = toscalar(D | summarize sum(amount)); "
        "D | where amount <= m | count", {"D": dd}).first()["Count"] == 1
    # multi-token args to literal-contract functions fail LOUD now
    with pytest.raises(KqlError, match="must be literal"):
        kql_to_df("T | extend x = format_datetime(now(), "
                  "strcat('yyyy', 'MM'))", t)


def test_second_review_wave_fixes(spark, tmp_path):
    """r11 review pass 2: (a) a toscalar/materialize-wrapped let name
    substitutes NEUTRALLY in the refs pass so later wheres mentioning
    it never mine a bogus column predicate (the silent-row-loss class
    again); (b) ago() consumes its WHOLE argument expression; (c)
    toscalar float results render positionally (no exponent form in
    the tokenizer); (d) bag_pack with literal keys keeps each value's
    JSON scalar type; (e) quoted ')' inside a wrapped body parses;
    (f) a null toscalar result errors with the remedy."""
    import datetime

    from pyspark.sql import functions as F

    from corkscrew_spark import skipping
    from corkscrew_spark.kql import KqlError, kql_to_df, kql_to_df_skipping

    # (a) wrapped-let name shadowing a stats-tracked COLUMN: skipping
    # path must return the plain path's rows
    path = str(tmp_path / "wrapshadow_t")
    spark.range(800).select(F.col("id").alias("value")).repartitionByRange(
        8, "value").write.parquet(path)
    skipping.compute_stats(spark, path, ["value"])
    q = ("let value = toscalar(T | summarize max(value)); "
         "T | where value >= 700 | count")
    # compiled: max(value)=799 substitutes -> 799 >= 700 is constant
    # true -> all 800 rows; pre-fix the miner attributed
    # (value, >=, 700) and pruned 7 of 8 files
    assert kql_to_df(q, {"T": spark.read.parquet(path)}
                     ).first()["Count"] == 800
    assert kql_to_df_skipping(spark, q, {"T": path}
                              ).first()["Count"] == 800
    # materialize over a scalar literal mirrors the compiler too
    q2 = ("let value = materialize(999); "
          "T | where value >= 700 | count")
    assert kql_to_df_skipping(spark, q2, {"T": path}
                              ).first()["Count"] == 800

    ev = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 2.5e-05),
         (2, datetime.datetime(2024, 1, 2), 1.0)],
        "id long, ts timestamp, v double")
    t = {"T": ev}
    # (b) compound timespan arithmetic feeds the interval exactly
    assert kql_to_df("T | where ts > ago(1d + 12h) | count",
                     t).first()["Count"] == 0
    assert kql_to_df("T | where ts > ago(2 * 1h) | count",
                     t).first()["Count"] == 0
    # a column-valued ago() is per-row (Kusto allows expressions)
    assert kql_to_df("T | where ts < ago(id) | count",
                     t).first()["Count"] == 2
    # (c) a tiny float toscalar result re-tokenizes positionally
    assert kql_to_df(
        "let mn = toscalar(T | summarize min(v)); "
        "T | where v <= mn | count", t).first()["Count"] == 1
    # (d) literal-key bag_pack keeps scalar types
    row = kql_to_df("T | extend b = bag_pack('n', id, 's', 'x') "
                    "| where id == 1 | project b", t).first()
    assert row["b"] == '{"n":1,"s":"x"}'
    # (e) quoted ')' inside a wrapped body
    s = spark.createDataFrame([("a)b",), ("c",)], "s string")
    assert kql_to_df(
        "let M = materialize(S | where s contains ')'); M | count",
        {"S": s}).first()["Count"] == 1
    # (f) null scalar: loud remedy, not a type-name riddle
    with pytest.raises(KqlError, match="null scalar"):
        kql_to_df("let x = toscalar(T | where v > 100 "
                  "| summarize max(v)); T | count", t)


def test_datetime_and_dynamic_scalar_functions(spark):
    """r11: now/ago/dayofweek/endofday and the dynamic trio
    parse_json|todynamic / bag_pack — deterministic parts checked
    exactly, now/ago structurally."""
    import datetime

    from corkscrew_spark.kql import KqlError, kql_to_df

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 10), '{"k": 5, "x": "a"}'),
         (2, datetime.datetime(2024, 1, 7, 23, 59), '{"k": 7}')],
        "id long, ts timestamp, props string")
    t = {"T": df}
    rows = kql_to_df(
        "T | extend d = dayofweek(ts), e = endofday(ts) "
        "| project id, d, e | order by id asc", t).collect()
    # 2024-01-01 is a Monday (1), 2024-01-07 a Sunday (0)
    assert [r["d"] for r in rows] == [1, 0]
    assert str(rows[0]["e"]) == "2024-01-01 23:59:59.999999"
    rows = kql_to_df(
        "T | extend k = parse_json(props)['k'], x = todynamic(props).x "
        "| project id, k, x | order by id asc", t).collect()
    assert [(r["k"], r["x"]) for r in rows] == [("5", "a"), ("7", None)]
    rows = kql_to_df(
        "T | extend b = bag_pack('id', id, 'd', dayofweek(ts)) "
        "| project b | order by b asc", t).collect()
    assert [r["b"] for r in rows] == ['{"id":1,"d":1}', '{"id":2,"d":0}']
    # now()/ago(): structural — all 2024 rows are older than ago(365d)
    # relative to the wall clock, and now() is after every row
    assert kql_to_df("T | where ts > ago(365d) | count",
                     t).first()["Count"] == 0
    assert kql_to_df("T | extend n = now() | where n > ts | count",
                     t).first()["Count"] == 2
    # ago() takes any timespan-valued EXPRESSION (r11 review: the
    # first-token-only reading silently truncated compound args) —
    # column-valued windows are per-row, like Kusto
    assert kql_to_df("T | where ts < ago(id) | count",
                     t).first()["Count"] == 2


def test_toscalar_and_materialize_lets(spark, wh):
    """r11: `let x = toscalar(<pipeline>);` collects the first
    column of the first row at compile time (Kusto semantics) and
    substitutes it as a literal; `materialize(…)` is a transparent
    caching hint. Wrapped bodies' table reads are governed, and
    prune by their own wheres."""
    import datetime

    from corkscrew_spark.kql import KqlError, kql_to_df

    ev = spark.createDataFrame(
        [(1, "click", 5.0, datetime.datetime(2024, 1, 1, 10)),
         (2, "view", 2.0, datetime.datetime(2024, 1, 2, 10)),
         (3, "click", 9.0, datetime.datetime(2024, 1, 3, 10))],
        "id long, et string, v double, ts timestamp")
    t = {"T": ev}
    assert kql_to_df(
        "let mx = toscalar(T | summarize max(v)); "
        "T | where v == mx | count", t).first()["Count"] == 1
    assert kql_to_df(
        "let m = toscalar(T | summarize min(et)); "
        "T | where et == m | count", t).first()["Count"] == 2
    # datetime scalars render back as datetime(...) literals
    assert kql_to_df(
        "let cut = toscalar(T | summarize max(ts)); "
        "T | where ts >= cut | count", t).first()["Count"] == 1
    assert kql_to_df(
        "let M = materialize(T | where et == 'click'); M | count",
        t).first()["Count"] == 2
    # both wrappers' reads are governed (the dry-run sees them)
    est = kql_estimate_statement(
        "let mx = toscalar(T | where k >= 700 | summarize max(k)); "
        "U | count", wh)["tables"]
    assert est["t"]["files_kept"] == 1 and est["u"]["files_kept"] == 8
    est = kql_estimate_statement(
        "let M = materialize(T | where k >= 700); M | count", wh)
    assert est["reads"] == 1 and est["tables"]["t"]["files_kept"] == 1
    with pytest.raises(KqlError, match="returned no rows"):
        kql_to_df("let x = toscalar(T | where v > 100 "
                  "| summarize m = max(v) by et); T | count", t)
    # a wrapper that does NOT span the whole body never unwraps
    with pytest.raises(KqlError):
        kql_to_df("let x = toscalar(T | count) + 1; T | count", t)


def test_scalar_let_shadowing_column_prunes_consistently(
        spark, tmp_path):
    """r11 review finding 1 (silent row loss): pruning mined the RAW
    where text while the compiler substituted scalar lets — a let
    shadowing a column name pruned files by a predicate the compiled
    query never applies. Both layers now substitute first, so the
    skipping path returns exactly the plain path's rows."""
    from pyspark.sql import functions as F

    from corkscrew_spark import skipping
    from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

    path = str(tmp_path / "shadow_t")
    spark.range(800).select(F.col("id").alias("k")).repartitionByRange(
        8, "k").write.parquet(path)
    skipping.compute_stats(spark, path, ["k"])
    # after substitution the where is the constant 999 >= 700 (true):
    # every row survives; pre-fix the miner attributed (k, >=, 700)
    # and the pruned read silently dropped 7 of 8 files
    q = "let k = 999; T | where k >= 700 | count"
    plain = kql_to_df(q, {"T": spark.read.parquet(path)})
    assert plain.first()["Count"] == 800
    skipped = kql_to_df_skipping(spark, q, {"T": path})
    assert skipped.first()["Count"] == 800
    # bonus of substitute-then-mine: a let-PARAMETERIZED where is now
    # minable and actually prunes
    q2 = "let cutoff = 700; T | where k >= cutoff | count"
    got = kql_to_df_skipping(spark, q2, {"T": path})
    assert got.first()["Count"] == 100
    assert 0 < len(scanned_files(got)) <= 2


def test_let_shadowing_warehouse_table_counts_one_scan(
        spark, tmp_path):
    """r11 review finding 2: `let T = T | where …; T | count` scans
    the table ONCE (later references resolve to the let), but refs
    counted the final head as a second warehouse read — a budget
    between 1x and 2x full-scan spuriously refused an under-budget
    query."""
    from pyspark.sql import functions as F

    from corkscrew_spark import skipping
    from corkscrew_spark.kql import (kql_estimate_statement,
                                     kql_to_df_skipping)

    path = str(tmp_path / "rebind_t")
    spark.range(800).select(F.col("id").alias("k")).repartitionByRange(
        8, "k").write.parquet(path)
    skipping.compute_stats(spark, path, ["k"])
    pruned = skipping.estimate_scan(
        path, [("k", ">=", 700)])["bytes_kept"]
    q = "let T = T | where k >= 700; T | count"
    est = kql_estimate_statement(q, {"T": path})
    assert est["reads"] == 1
    assert est["bytes_kept"] == pruned  # the let body's own wheres
    got = kql_to_df_skipping(spark, q, {"T": path},
                             max_scan_bytes=pruned)
    assert got.first()["Count"] == 100


def test_unrecordable_statement_priced_by_mention(spark, wh):
    """bag_unpack reads its output columns from the data, and a
    toscalar placeholder cannot fill a literal-only slot (`take n`), so
    the record pass stops there: the statement prices each warehouse
    table at full scan once per mention of its name, and a budget of
    exactly that admits it with the plain read's rows."""
    from corkscrew_spark import skipping
    from corkscrew_spark.engine import ScanBudgetExceeded

    full = skipping.estimate_scan(wh["T"], [])["bytes_kept"]
    q = ("T | where k >= 700 | evaluate bag_unpack(b) "
         "| summarize n = count() by x")
    assert kql_estimate_statement(q, wh)["bytes_kept"] == full
    with pytest.raises(ScanBudgetExceeded):
        kql_to_df_skipping(spark, q, wh, max_scan_bytes=full - 1)
    got = kql_to_df_skipping(spark, q, wh, max_scan_bytes=full)
    plain = kql_to_df(q, {"T": spark.read.parquet(wh["T"])})
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, plain.collect())) == [("0", 50), ("1", 50)]
    q = "let n = toscalar(U | summarize max(p)); T | take n"
    assert kql_estimate_statement(q, wh)["bytes_kept"] == 2 * full
    assert kql_to_df_skipping(spark, q, wh,
                              max_scan_bytes=2 * full).count() == 2


def test_record_pass_runs_no_action(spark, wh):
    """The record pass compiles without a Spark action: toscalar takes
    a typed placeholder and a branch-mode partition skips its
    distinct-key collect. A dry-run and a budget refusal therefore run
    at most one job per table (its plain read's schema inference)."""
    from corkscrew_spark.engine import ScanBudgetExceeded

    q = ("let mx = toscalar(U | summarize max(k)); "
         "T | where k >= mx | partition hint.strategy=legacy by p "
         "( summarize n = count() )")
    with count_jobs(spark) as jobs:
        est = kql_estimate_statement(q, wh)
    assert est["reads"] == 1 + 64 and jobs() <= 2
    with count_jobs(spark) as jobs:
        with pytest.raises(ScanBudgetExceeded):
            kql_to_df_skipping(spark, q, wh, max_scan_bytes=1)
    assert jobs() <= 2


def test_pivot_column_named_like_aggregate_function(spark):
    """r11 review finding 3: a column literally named `sum` must stay
    in the implicit group-by of `pivot(et, sum(v))` — function-call
    heads are not column inputs."""
    from corkscrew_spark.kql import kql_to_df

    df = spark.createDataFrame(
        [(1, 10, "a", 1.0), (1, 20, "a", 2.0), (2, 10, "b", 3.0)],
        "uid long, sum long, et string, v double")
    out = kql_to_df("T | evaluate pivot(et, sum(v))", {"T": df})
    assert set(out.columns) == {"uid", "sum", "a", "b"}
    rows = {(r["uid"], r["sum"]): (r["a"], r["b"])
            for r in out.collect()}
    assert rows[(1, 10)] == (1.0, None)
    assert rows[(1, 20)] == (2.0, None)
    assert rows[(2, 10)] == (None, 3.0)


def test_bag_unpack_non_string_map_keys(spark):
    """r11 review finding 4: map<long,…> bags unpack with the key's
    string rendering as the column name instead of crashing with a
    raw TypeError."""
    from corkscrew_spark.kql import kql_to_df

    df = spark.createDataFrame([(1,), (2,)], "id long").selectExpr(
        "id", "map(1L, id, 2L, id*10) AS m")
    rows = kql_to_df("T | evaluate bag_unpack(m) | order by id asc",
                     {"T": df}).collect()
    assert [(r["id"], r["1"], r["2"]) for r in rows] == [
        (1, 1, 10), (2, 2, 20)]


def test_project_wildcards(spark):
    """r11: Kusto `*` wildcards in project-away/keep/reorder — glob
    items expand in table order, empty glob is fine on away only,
    unknown plain names error everywhere (Kusto parity; drop()'s
    silent no-op hid typos)."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    df = spark.createDataFrame(
        [(1, 2, 3, 4)], "id long, tmp_a long, tmp_b long, val long")
    t = {"T": df}
    assert kql_to_df("T | project-away tmp_*", t).columns == \
        ["id", "val"]
    assert kql_to_df("T | project-keep tmp_*, id", t).columns == \
        ["tmp_a", "tmp_b", "id"]
    assert kql_to_df("T | project-reorder val, tmp_*", t).columns == \
        ["val", "tmp_a", "tmp_b", "id"]
    assert kql_to_df("T | project-away zzz_*", t).columns == \
        ["id", "tmp_a", "tmp_b", "val"]
    with pytest.raises(KqlError, match="matches no"):
        kql_to_df("T | project-keep zzz_*", t)
    with pytest.raises(KqlError, match="unknown column"):
        kql_to_df("T | project-away nope", t)


def test_search_operator(spark):
    """r11: `search 'term'` — cross-column contains over every
    column's string rendering, case-insensitive by default,
    kind=case_sensitive honored; non-literal terms refused."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    df = spark.createDataFrame(
        [(1, "Alpha", "note-x"), (2, "beta", "ALPHA dog"),
         (3, "gamma", None)],
        "id long, s string, t string")
    tabs = {"T": df}

    def ids(q):
        return sorted(r["id"] for r in kql_to_df(q, tabs).collect())

    assert ids("T | search 'alpha'") == [1, 2]
    assert ids("T | search kind=case_sensitive 'Alpha'") == [1]
    assert ids("T | search kind=case_sensitive 'ALPHA'") == [2]
    # numeric columns render as strings and match too
    assert ids("T | search '3'") == [3]
    with pytest.raises(KqlError, match="string literal"):
        kql_to_df("T | search s", tabs)
    with pytest.raises(KqlError, match="unsupported search kind"):
        kql_to_df("T | search kind=regex 'x'", tabs)


def test_datatable_head(spark):
    """r11: `datatable(Col:type, …) [v1, v2, …]` — literal table head
    with row-major values, typed nulls, datetimes, negatives; count
    mismatch / bad type / mistyped cell are compile-time errors."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    rows = kql_to_df(
        """datatable(s:string, v:long, ok:bool, ts:datetime, r:real)
           ['a', 1, true, datetime(2024-01-02 03:04:05), 1.5,
            'b', -2, false, datetime(null), 2]
           | order by s asc""", {}).collect()
    assert [(r["s"], r["v"], r["ok"], r["r"]) for r in rows] == [
        ("a", 1, True, 1.5), ("b", -2, False, 2.0)]
    assert rows[0]["ts"].year == 2024 and rows[1]["ts"] is None
    # empty body -> zero rows, schema intact
    empty = kql_to_df("datatable(x:long) [] | count", {})
    assert empty.first()["Count"] == 0
    # downstream stages compose like any table head
    got = kql_to_df(
        "datatable(x:long) [1, 2, 3] | summarize s = sum(x)", {})
    assert got.first()["s"] == 6
    with pytest.raises(KqlError, match="divide evenly"):
        kql_to_df("datatable(a:string, b:long) ['x', 1, 'y']", {})
    with pytest.raises(KqlError, match="unsupported datatable type"):
        kql_to_df("datatable(a:blob) [1]", {})
    with pytest.raises(KqlError, match="does not match column"):
        kql_to_df("datatable(a:long) ['oops']", {})
    with pytest.raises(KqlError, match="unsupported datatable literal"):
        kql_to_df("datatable(a:long) [1 + 2]", {})
    # a registered table named `datatable` still resolves as a table
    df = spark.createDataFrame([(1,)], "k long")
    assert kql_to_df("datatable | count",
                     {"datatable": df}).first()["Count"] == 1


def test_evaluate_pivot(spark):
    """r11: `evaluate pivot(Col [, agg(Expr) [, keys…]])` — Kusto's
    pivot plugin: default count(), agg inputs excluded from the
    implicit group-by, explicit key list honored."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0), (2, "a", 4.0)],
        "uid long, et string, v double")
    t = {"T": df}
    rows = kql_to_df("T | evaluate pivot(et, sum(v)) "
                     "| order by uid asc", t).collect()
    assert [(r["uid"], r["a"], r["b"]) for r in rows] == [
        (1, 1.0, 2.0), (2, 7.0, None)]
    # default count(): every non-pivot column is a key
    rows = kql_to_df("T | project uid, et | evaluate pivot(et) "
                     "| order by uid asc", t).collect()
    assert [(r["uid"], r["a"], r["b"]) for r in rows] == [
        (1, 1, 1), (2, 2, None)]
    # explicit key column list
    rows = kql_to_df("T | evaluate pivot(et, sum(v), uid) "
                     "| order by uid asc", t).collect()
    assert [(r["uid"], r["a"], r["b"]) for r in rows] == [
        (1, 1.0, 2.0), (2, 7.0, None)]
    with pytest.raises(KqlError, match="unknown column"):
        kql_to_df("T | evaluate pivot(nope)", t)
    # narrow is IN dialect since r12 (TestKqlNarrow); a still-unknown
    # plugin keeps the precise refusal
    with pytest.raises(KqlError, match="unsupported evaluate plugin"):
        kql_to_df("T | evaluate autocluster()", t)


def test_evaluate_bag_unpack(spark):
    """r11: `evaluate bag_unpack(Col [, 'prefix'])` over BOTH dynamic
    representations — JSON string and Spark map — with sorted key
    columns, dropped source column, collision refusal."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    js = spark.createDataFrame(
        [(1, '{"k": 5, "lang": "en"}'), (2, '{"k": 7}')],
        "id long, props string")
    rows = kql_to_df("T | evaluate bag_unpack(props) "
                     "| order by id asc", {"T": js}).collect()
    assert [(r["id"], r["k"], r["lang"]) for r in rows] == [
        (1, "5", "en"), (2, "7", None)]
    out = kql_to_df("T | evaluate bag_unpack(props, 'p_')", {"T": js})
    assert out.columns == ["id", "p_k", "p_lang"]
    mp = js.selectExpr("id", "map('a', id, 'b', id*2) AS m")
    rows = kql_to_df("T | evaluate bag_unpack(m) | order by id asc",
                     {"T": mp}).collect()
    assert [(r["id"], r["a"], r["b"]) for r in rows] == [
        (1, 1, 2), (2, 2, 4)]
    # key colliding with an existing column: refuse, suggest prefix
    clash = spark.createDataFrame([(1, '{"id": 9}')],
                                  "id long, props string")
    with pytest.raises(KqlError, match="collide"):
        kql_to_df("T | evaluate bag_unpack(props)", {"T": clash})
    with pytest.raises(KqlError, match="must be dynamic"):
        kql_to_df("T | evaluate bag_unpack(id)", {"T": js})
    # key-cardinality guard: a bag keyed on VALUES would become a
    # million-column plan at scale — refused loudly over the cap
    import pyspark.sql.functions as SF
    wide = spark.range(20).select(
        SF.col("id"),
        SF.concat(SF.lit('{"key'), SF.col("id"),
                  SF.lit('": 1}')).alias("props"))
    monkey_env = pytest.MonkeyPatch()
    monkey_env.setenv("CORKSCREW_BAG_UNPACK_MAX_KEYS", "10")
    try:
        with pytest.raises(KqlError, match="more than 10 distinct"):
            kql_to_df("T | evaluate bag_unpack(props)", {"T": wide})
        monkey_env.setenv("CORKSCREW_BAG_UNPACK_MAX_KEYS", "30")
        assert len(kql_to_df("T | evaluate bag_unpack(props)",
                             {"T": wide}).columns) == 21
    finally:
        monkey_env.undo()


def test_top_hitters(spark):
    """r10: `top-hitters N of Col [by expr]` — exact heavy-hitters
    rollup under Kusto's approximate contract and output column names;
    ties break on the hitter value ascending."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 9.0), ("c", 1.0), ("d", 1.0)],
        "s string, v double")
    rows = kql_to_df("T | top-hitters 2 of s", {"T": df}).collect()
    assert [(r["s"], r["approximate_count_s"]) for r in rows] == [
        ("a", 2), ("b", 1)]  # count tie b/c/d -> value asc
    rows = kql_to_df("T | top-hitters 2 of s by v", {"T": df}).collect()
    assert [(r["s"], r["approximate_sum_s"]) for r in rows] == [
        ("b", 9.0), ("a", 3.0)]
    with pytest.raises(KqlError, match="N of Col"):
        kql_to_df("T | top-hitters s", {"T": df})


def test_lookup_and_union_withsource(spark):
    """r10: `lookup` (dimension join — broadcast right, leftouter
    default, non-key clashes are an ERROR not a rename) and
    `union withsource=Col` row labeling."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, s string")
    b = spark.createDataFrame([(1, "dim1"), (3, "dim3")],
                              "k long, nm string")
    t = {"T": a, "U": b}
    rows = kql_to_df("T | lookup U on k | order by k asc", t).collect()
    assert [(r["k"], r["nm"]) for r in rows] == [(1, "dim1"), (2, None)]
    rows = kql_to_df("T | lookup kind=inner U on k", t).collect()
    assert [(r["k"], r["nm"]) for r in rows] == [(1, "dim1")]
    rows = kql_to_df(
        "T | lookup kind=inner (U | project k, nm) on "
        "$left.k == $right.k", t).collect()
    assert [(r["k"], r["nm"]) for r in rows] == [(1, "dim1")]
    with pytest.raises(KqlError, match="duplicates column"):
        kql_to_df("T | lookup U on k",
                  {"T": a, "U": b.withColumnRenamed("nm", "s")})
    with pytest.raises(KqlError, match="kind=leftouter"):
        kql_to_df("T | lookup kind=rightouter U on k", t)
    # withsource labels each row with its source table (head included)
    rows = kql_to_df(
        "T | union withsource=Src U | summarize n = count() by Src "
        "| order by Src asc", {"T": a, "U": a}).collect()
    assert [(r["Src"], r["n"]) for r in rows] == [("T", 2), ("U", 2)]


def test_lookup_reads_are_governed(spark, wh):
    """The lookup operand is a warehouse read — governed (priced by
    the dry-run) like join/union operands, bare or parenthesized."""
    for q in ("T | project k | lookup kind=leftouter U on k",
              "T | project k | lookup (U | project k) on k",
              "T | union withsource=Src U"):
        est = kql_estimate_statement(q, wh)
        assert est["reads"] == 2 and set(est["tables"]) == {"t", "u"}, q


def test_print_and_range_heads(spark):
    """r10: table-less heads — `print name = expr, …` (one constant
    row) and `range Col from A to B step C` (inclusive bounds,
    negative steps) — the Kusto docs/test idioms; a table literally
    named print/range still wins when referenced bare."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    assert kql_to_df("print x = 1 + 2, s = strcat('a','b')",
                     {}).collect() == [
        __import__("pyspark").sql.Row(x=3, s="ab")]
    rows = kql_to_df("range k from 1 to 5 step 2 | extend sq = k * k",
                     {}).collect()
    assert [(r["k"], r["sq"]) for r in rows] == [(1, 1), (3, 9), (5, 25)]
    rows = kql_to_df("range k from 5 to 1 step -2", {}).collect()
    assert [r["k"] for r in rows] == [5, 3, 1]
    # bare reference to a TABLE named print resolves as the table
    df = spark.createDataFrame([(7,)], "k long")
    assert kql_to_df("print | count",
                     {"print": df}).first()["Count"] == 1
    with pytest.raises(KqlError, match="non-zero"):
        kql_to_df("range k from 1 to 5 step 0", {})
    with pytest.raises(KqlError, match="name = expr"):
        kql_to_df("print", {})


class TestKqlPruningFuzz:
    """Hypothesis identity fuzz for the KQL skipping path (r11 — the
    KQL twin of TestEngineFuzz): random leading-where conjunct/
    disjunct mixes, optionally behind scalar lets and a tabular let,
    must return EXACTLY the plain compilation's rows. Catches the
    whole mining-vs-compile divergence class (both r11 review
    findings lived there) structurally."""

    _TERMS = [
        "k >= 700", "k < 50", "k between (100 .. 200)", "v == 3",
        "s == 's1'", "k in (3, 5, 750)", "s startswith 's1'",
        "isnotnull(v)", "k + 0 > 10", "k == 799", "isnull(s)",
        "toupper(s) == 'S1'",
    ]

    @pytest.fixture(scope="class")
    def fuzz_table(self, spark, tmp_path_factory):
        from corkscrew_spark import skipping

        path = str(tmp_path_factory.mktemp("kqlfuzz") / "tbl")
        spark.range(800).selectExpr(
            "id AS k", "id % 7 AS v",
            "concat('s', id % 13) AS s"
        ).repartitionByRange(8, "k").write.parquet(path)
        skipping.compute_stats(spark, path, ["k", "v", "s"],
                               bloom_cols=["s"])
        return path

    def test_fuzz_kql_pruning_identity(self, spark, fuzz_table):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from corkscrew_spark.kql import kql_to_df, kql_to_df_skipping

        plain_df = spark.read.parquet(fuzz_table)

        @settings(max_examples=20, deadline=None)
        @given(data=st.data())
        def run(data):
            terms = data.draw(st.lists(
                st.sampled_from(self._TERMS), min_size=1, max_size=3))
            ops = data.draw(st.lists(
                st.sampled_from(["and", "or"]),
                min_size=len(terms) - 1, max_size=len(terms) - 1))
            where = terms[0]
            for op, t in zip(ops, terms[1:]):
                where += f" {op} {t}"
            # optionally parameterize a literal through a scalar let,
            # optionally route through a tabular let
            use_let = data.draw(st.booleans())
            pipeline = f"T | where {where} | order by k asc, v asc, s asc"
            if use_let:
                pipeline = (f"let Sub = T | where {where}; "
                            "Sub | order by k asc, v asc, s asc")
            if data.draw(st.booleans()):
                pipeline = "let lim = 700; " + pipeline.replace(
                    "700", "lim")
            got = [tuple(r) for r in kql_to_df_skipping(
                spark, pipeline, {"T": fuzz_table}).collect()]
            want = [tuple(r) for r in kql_to_df(
                pipeline, {"T": plain_df}).collect()]
            assert got == want, pipeline

        run()


def test_range_datetime_grid(spark):
    """r11: `range Col from datetime(…) to datetime(…) step <ts>` —
    the time-axis grid every dashboard left-joins its aggregates
    against; generated distributed over epoch seconds, inclusive both
    ends, whole-second steps only."""
    from corkscrew_spark.kql import KqlError, kql_to_df

    assert kql_to_df(
        "range Day from datetime(2024-01-01) to datetime(2024-01-05) "
        "step 1d | count", {}).first()["Count"] == 5
    rows = kql_to_df(
        "range H from datetime(2024-01-01 00:00:00) to "
        "datetime(2024-01-01 06:00:00) step 2h | order by H asc",
        {}).collect()
    assert [str(r["H"]) for r in rows] == [
        "2024-01-01 00:00:00", "2024-01-01 02:00:00",
        "2024-01-01 04:00:00", "2024-01-01 06:00:00"]
    # the dashboard idiom: grid left-joined against an aggregate
    ev = spark.createDataFrame(
        [("2024-01-02",), ("2024-01-02",), ("2024-01-04",)],
        "d string").selectExpr("CAST(d AS TIMESTAMP) AS Day")
    out = kql_to_df(
        """range Day from datetime(2024-01-01) to datetime(2024-01-05)
               step 1d
           | join kind=leftouter ( E | summarize n = count() by Day )
               on Day
           | order by Day asc""", {"E": ev}).collect()
    assert [r["n"] for r in out] == [None, 2, None, 1, None]
    with pytest.raises(KqlError, match="whole-second"):
        kql_to_df("range X from datetime(2024-01-01) to "
                  "datetime(2024-01-02) step 500ms", {})
    with pytest.raises(KqlError, match="bad range datetime"):
        kql_to_df("range X from datetime(bogus) to "
                  "datetime(2024-01-02) step 1d", {})


# ---------------------------------------------------------------------------
# Round-12: r11 ADVICE regressions
# ---------------------------------------------------------------------------

def test_round_negative_precision(tiny_events):
    """r11 ADVICE: round(x, -1) is legal Kusto (round to tens) — the
    two-token unary-minus literal must reach the literal contract as
    one number token, not crash with a raw AttributeError."""
    rows = kql_to_df(
        "T | extend r = round(value * 10, -1) | project event_id, r "
        "| order by event_id asc", {"T": tiny_events}).collect()
    # values 15, 25, 40, 90 → rounded to tens: 20, 20/30, 40, 90
    assert rows[0]["r"] in (10.0, 20.0)  # banker's vs half-up at .5
    assert rows[2]["r"] == 40.0 and rows[3]["r"] == 90.0
    # non-literal / fractional precision: loud KqlError, not a crash
    with pytest.raises(KqlError, match="round.*integer literal"):
        kql_to_df("T | extend r = round(value, event_id)",
                  {"T": tiny_events})
    with pytest.raises(KqlError, match="round.*integer literal"):
        kql_to_df("T | extend r = round(value, 1.5)",
                  {"T": tiny_events})


def test_bag_pack_null_field_kept(tiny_events):
    """r11 ADVICE: Kusto bag_pack('k', null) emits {"k":null}; the
    struct path's to_json must not drop null fields."""
    row = kql_to_df(
        "T | where event_id == 1 "
        "| extend b = bag_pack('k', iff(value > 100, 'x', ''), "
        "                      'n', iff(value > 100, value, todouble('')))",
        {"T": tiny_events}).first()
    import json
    bag = json.loads(row["b"])
    assert bag == {"k": "", "n": None}


def test_bag_unpack_empty_string_key(spark):
    """r11 ADVICE: an empty-string key must either unpack (with a
    prefix) or refuse loudly — never silently drop."""
    df = spark.createDataFrame(
        [('{"": "x", "k": "y"}',)], "bag string")
    out = kql_to_df("T | evaluate bag_unpack(bag, 'p_')", {"T": df})
    assert set(out.columns) == {"p_", "p_k"}
    assert out.first()["p_"] == "x"
    with pytest.raises(KqlError, match="empty-string key"):
        kql_to_df("T | evaluate bag_unpack(bag)", {"T": df})


def test_datatable_blank_slot_raises(spark):
    """r11 ADVICE: a stray comma in a datatable body shifted values
    across columns whenever the count still divided evenly."""
    with pytest.raises(KqlError, match="blank value"):
        kql_to_df("datatable(a:string, b:long) ['x', , 1, 'y']", {})
    # a single trailing comma (the common hand-written style) is fine
    rows = kql_to_df(
        "datatable(a:string, b:long) ['x', 1, 'y', 2,] "
        "| order by b asc", {}).collect()
    assert [(r["a"], r["b"]) for r in rows] == [("x", 1), ("y", 2)]


# ---------------------------------------------------------------------------
# Round-12: render / as (dashboard paste-compat) + out-of-dialect refusals
# ---------------------------------------------------------------------------

def test_render_is_validated_noop(tiny_events):
    """r12: `render` is a display hint — validate the chart kind and
    with-properties, pass the frame through unchanged; a verbatim
    exported-dashboard query compiles."""
    base = kql_to_df(
        "T | summarize n = count() by event_type | order by n desc",
        {"T": tiny_events}).collect()
    # verbatim Azure-dashboard style export, trailing render
    rendered = kql_to_df(
        """T
           | summarize n = count() by event_type
           | order by n desc
           | render barchart with (title = 'Events by type',
                                   legend = visible)""",
        {"T": tiny_events}).collect()
    assert rendered == base
    assert kql_to_df("T | render table", {"T": tiny_events}).count() == 4
    with pytest.raises(KqlError, match="chart kind"):
        kql_to_df("T | render sparkles", {"T": tiny_events})
    with pytest.raises(KqlError, match="unknown render property"):
        kql_to_df("T | render barchart with (coolness = 11)",
                  {"T": tiny_events})
    with pytest.raises(KqlError, match="final operator"):
        kql_to_df("T | render barchart | count", {"T": tiny_events})
    with pytest.raises(KqlError, match="final operator"):
        kql_to_df("T | join kind=inner ( T | render table ) on event_id",
                  {"T": tiny_events})


def test_as_binds_for_later_stages(tiny_events):
    """r12: `as Name` makes the pipeline state joinable/unionable
    later in the same query (Kusto mid-pipeline binding)."""
    rows = kql_to_df(
        """T
           | where value > 2
           | as Big
           | summarize n = count() by event_type
           | join kind=inner ( Big | summarize total = sum(value)
                                       by event_type ) on event_type
           | order by event_type asc""",
        {"T": tiny_events}).collect()
    assert [(r["event_type"], r["n"], r["total"]) for r in rows] == [
        ("click", 1, 4.0), ("purchase", 1, 9.0), ("view", 1, 2.5)]
    # hint.materialized accepted, same semantics
    assert kql_to_df(
        "T | as hint.materialized=true Snap | count",
        {"T": tiny_events}).first()["Count"] == 4
    with pytest.raises(KqlError, match="shadow"):
        kql_to_df("T | as T | count", {"T": tiny_events})
    with pytest.raises(KqlError, match="as takes"):
        kql_to_df("T | as 9lives", {"T": tiny_events})


def test_out_of_dialect_verbs_name_the_rewrite(tiny_events):
    # facet/fork return MULTIPLE result tables — out of dialect with a
    # named rewrite; partition is IN dialect since r12 (see
    # TestKqlPartition)
    for verb, hint in [("facet by event_type", "summarize"),
                       ("fork (count) (count)", "union")]:
        with pytest.raises(KqlError, match="out of dialect"):
            kql_to_df(f"T | {verb}", {"T": tiny_events})
        try:
            kql_to_df(f"T | {verb}", {"T": tiny_events})
        except KqlError as e:
            assert hint in str(e)


def test_externaldata_csv_and_parquet(spark, tmp_path):
    """r12: `externaldata (schema) ['path'] with(format=…)` — schema'd
    spark.read over allow-listed local paths."""
    csv = tmp_path / "dim.csv"
    csv.write_text("code,weight\nA,1.5\nB,2.0\nC,\n")
    q = (f"externaldata (code:string, weight:real) ['{csv}'] "
         "with (format='csv', ignoreFirstRecord=true) "
         "| order by code asc")
    rows = kql_to_df(q, {}, externaldata_roots=[str(tmp_path)]).collect()
    assert [(r["code"], r["weight"]) for r in rows] == [
        ("A", 1.5), ("B", 2.0), ("C", None)]
    # parquet: declared columns are cast and selected
    pq = "/root/testdata/sf0.001/region.parquet"
    out = kql_to_df(
        f"externaldata (r_regionkey:long, r_name:string) ['{pq}'] "
        "with (format='parquet') | order by r_regionkey asc",
        {}, externaldata_roots=["/root/testdata"])
    assert out.columns == ["r_regionkey", "r_name"]
    exp = (spark.read.parquet(pq)
           .select("r_regionkey", "r_name")
           .orderBy("r_regionkey").collect())
    got = out.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    with pytest.raises(KqlError, match="missing declared"):
        kql_to_df(
            f"externaldata (nope:string) ['{pq}'] "
            "with (format='parquet')",
            {}, externaldata_roots=["/root/testdata"])


def test_externaldata_allowlist(spark, tmp_path, monkeypatch):
    csv = tmp_path / "x.csv"
    csv.write_text("1\n2\n")
    q = f"externaldata (v:long) ['{csv}'] | count"
    # no roots configured: refuse
    monkeypatch.delenv("CORKSCREW_EXTERNALDATA_ROOTS", raising=False)
    with pytest.raises(KqlError, match="disabled"):
        kql_to_df(q, {})
    # env allow-list works
    monkeypatch.setenv("CORKSCREW_EXTERNALDATA_ROOTS", str(tmp_path))
    assert kql_to_df(q, {}).first()["Count"] == 2
    # outside the root: refuse
    with pytest.raises(KqlError, match="outside the allow-listed"):
        kql_to_df("externaldata (v:long) ['/etc/hostname'] | count",
                  {})
    with pytest.raises(KqlError, match="does not exist"):
        kql_to_df(
            f"externaldata (v:long) ['{tmp_path}/gone.csv'] | count",
            {})


def test_externaldata_governed(spark, tmp_path):
    """r12: under a scan budget, externaldata prices at raw file
    weight — governor refusal and dry-run report identical bytes."""
    from corkscrew_spark.engine import ScanBudgetExceeded
    from corkscrew_spark.kql import (externaldata_bytes,
                                     kql_estimate_statement,
                                     kql_to_df_skipping)

    csv = tmp_path / "big.csv"
    csv.write_text("v\n" + "\n".join(str(i) for i in range(1000)))
    nbytes = csv.stat().st_size
    q = (f"externaldata (v:long) ['{csv}'] "
         "with (format='csv', ignoreFirstRecord=true) "
         "| summarize s = sum(v)")
    est = kql_estimate_statement(q, {})
    assert est["bytes_kept"] == nbytes == externaldata_bytes([str(csv)])
    assert est["reads"] == 1
    with pytest.raises(ScanBudgetExceeded, match="raw file weight"):
        kql_to_df_skipping(spark, q, {}, max_scan_bytes=nbytes - 1,
                           externaldata_roots=[str(tmp_path)])
    ok = kql_to_df_skipping(spark, q, {}, max_scan_bytes=nbytes + 10,
                            externaldata_roots=[str(tmp_path)])
    assert ok.first()["s"] == sum(range(1000))
    # a keyword inside a string literal is not a read
    names = spark.createDataFrame([("externaldata",)], "name string")
    assert kql_estimate_statement(
        "T | where name == 'externaldata'", {},
        tables={"T": names})["reads"] == 0


def test_integer_literal_contracts_loud(tiny_events):
    """r12 review: the unary-minus raw synthesis lets negative
    literals reach every numeric contract — each must range-check
    with a KqlError, never a ValueError or a runtime ANSI error."""
    t = {"T": tiny_events}
    with pytest.raises(KqlError, match="make_set cap"):
        kql_to_df("T | summarize s = make_set(event_type, -3)", t)
    with pytest.raises(KqlError, match="make_set cap"):
        kql_to_df("T | summarize s = make_set(event_type, 2.5)", t)
    with pytest.raises(KqlError, match=r"percentile.*\[0, 100\]"):
        kql_to_df("T | summarize p = percentile(value, -5)", t)
    with pytest.raises(KqlError, match="capture group"):
        kql_to_df("T | extend x = extract('(a)', -1, event_type)", t)
    with pytest.raises(KqlError, match="round.*integer literal"):
        kql_to_df("T | extend r = round(value, 2.5)", t)
    # in-range still works
    row = kql_to_df(
        "T | summarize s = make_set(event_type, 2), "
        "p = percentile(value, 50)", t).first()
    assert len(row["s"]) == 2


def test_externaldata_and_datatable_strict_shapes(spark, tmp_path):
    """r12 review pass 2: missing commas between paths and duplicate
    declared columns refuse loudly (Spark would otherwise accept a
    duplicate-name schema and produce ambiguous columns)."""
    csv = tmp_path / "a.csv"
    csv.write_text("1\n")
    with pytest.raises(KqlError, match="comma-separated"):
        kql_to_df(f"externaldata (v:long) ['{csv}' '{csv}'] | count",
                  {}, externaldata_roots=[str(tmp_path)])
    with pytest.raises(KqlError, match="duplicate column"):
        kql_to_df(f"externaldata (v:long, v:string) ['{csv}'] | count",
                  {}, externaldata_roots=[str(tmp_path)])
    with pytest.raises(KqlError, match="duplicate column"):
        kql_to_df("datatable(a:long, a:long) [1, 2] | count", {})


def test_as_binding_subquery_scoped(tiny_events):
    """r12 review pass 3: an `as` made inside a parenthesized
    sub-pipeline is local to it (Kusto scoping) — the outer pipeline
    must not resolve it; outer bindings stay visible inside."""
    t = {"T": tiny_events}
    # inner `as Inner` must NOT leak to the outer stage
    with pytest.raises(KqlError, match="unknown table"):
        kql_to_df(
            "T | join kind=inner ( T | as Inner | summarize "
            "n = count() by event_id ) on event_id "
            "| join kind=inner (Inner) on event_id", t)
    # outer `as Outer` IS visible inside a subquery (the feature)
    n = kql_to_df(
        "T | as Outer | join kind=inner ( Outer | project event_id ) "
        "on event_id | count", t).first()["Count"]
    assert n == 4


def test_union_bare_tableless_operand(spark, tmp_path):
    """r12 review: Kusto allows an unparenthesized table-less head as
    a union operand; and ignoreFirstRecord refuses for formats where
    it has no meaning instead of being silently ignored."""
    csv = tmp_path / "u.csv"
    csv.write_text("5\n6\n")
    rows = kql_to_df(
        f"datatable(v:long) [1, 2] "
        f"| union externaldata (v:long) ['{csv}'] "
        "| order by v asc",
        {}, externaldata_roots=[str(tmp_path)]).collect()
    assert [r["v"] for r in rows] == [1, 2, 5, 6]
    assert kql_to_df(
        "datatable(v:long) [1] | union range v from 10 to 11 step 1 "
        "| count", {}).first()["Count"] == 3
    pj = tmp_path / "u.json"
    pj.write_text('{"v": 1}\n')
    with pytest.raises(KqlError, match="no meaning"):
        kql_to_df(
            f"externaldata (v:long) ['{pj}'] "
            "with (format='json', ignoreFirstRecord=true) | count",
            {}, externaldata_roots=[str(tmp_path)])


def test_render_refused_in_let_bodies(tiny_events):
    """r12 review: render must close the OUTERMOST pipeline — a let
    body is a sub-expression, same rule as a parenthesized join side."""
    with pytest.raises(KqlError, match="final operator"):
        kql_to_df("let X = T | render table; X | count",
                  {"T": tiny_events})
    with pytest.raises(KqlError, match="final operator"):
        kql_to_df("let c = toscalar(T | count | render table); "
                  "T | where event_id <= c | count",
                  {"T": tiny_events})


# ---------------------------------------------------------------------------
# partition operator (r12)
# ---------------------------------------------------------------------------

class TestKqlPartition:
    """`partition [hint.strategy=…] by Col ( body )` — vectorized
    (grouped rewrites, one scan, no key-cardinality limit) by default;
    Kusto's legacy 64-branch compilation on hint or for bodies with no
    grouped form. The two compilations must agree row-for-row on every
    body both can run."""

    @pytest.fixture(scope="class")
    def pdata(self, spark):
        rows = [
            ("a", "x", 1, 10.0), ("a", "y", 2, 30.0), ("a", "x", 3, 20.0),
            ("b", "x", 4, 5.0), ("b", "y", 5, 50.0),
            (None, "x", 6, 7.0), (None, "y", 7, 70.0),
            ("c", "x", 8, 8.0),
        ]
        return spark.createDataFrame(
            rows, "k string, cat string, id long, v double")

    BODIES = [
        "top 2 by v desc, id asc",
        "where v > 6 | summarize n = count(), mx = max(v) by cat",
        "summarize s = sum(id) by cat | top 1 by s asc, cat asc",
        "count",
        "distinct cat",
        "extend big = v > 9 | distinct big",
        "sort by v asc, id asc | take 1",
        "project id, k | top 1 by id asc",
        "top-hitters 1 of cat by v",
    ]

    @pytest.mark.parametrize("body", BODIES)
    def test_vector_equals_branch(self, pdata, body):
        """Every vectorizable body: the grouped rewrite and the
        per-key branch union produce the same multiset (null partition
        key included)."""
        vec = kql_to_df(f"T | partition by k ( {body} )", {"T": pdata})
        br = kql_to_df(
            f"T | partition hint.strategy=legacy by k ( {body} )",
            {"T": pdata})
        assert vec.columns == br.columns
        assert sorted(map(repr, vec.collect())) \
            == sorted(map(repr, br.collect()))

    def test_vectorized_is_default_and_single_scan(self, spark, tmp_path):
        """The default strategy compiles the grouped rewrite: ONE scan
        regardless of key cardinality (the branch plan scans once per
        key) — the 100 TB shape."""
        path = str(tmp_path / "pvec")
        spark.range(100).selectExpr(
            "id", "id % 5 AS k", "id * 1.5 AS v").write.parquet(path)
        df = spark.read.parquet(path)
        vec = kql_to_df(
            "T | partition by k ( top 2 by v desc, id asc )", {"T": df})
        br = kql_to_df(
            "T | partition hint.strategy=legacy by k "
            "( top 2 by v desc, id asc )", {"T": df})
        assert vec.count() == br.count() == 10
        n_vec = vec._jdf.queryExecution().optimizedPlan().toString() \
            .count("Relation")
        n_br = br._jdf.queryExecution().optimizedPlan().toString() \
            .count("Relation")
        assert n_vec == 1
        assert n_br == 5

    def test_unsorted_take_row_counts(self, pdata):
        got = kql_to_df("T | partition by k ( take 2 )", {"T": pdata})
        # 4 keys (incl. null): a=3→2, b=2→2, null=2→2, c=1→1
        assert got.count() == 7
        assert got.columns == pdata.columns

    def test_branch_cap_refused(self, spark):
        df = spark.range(100).selectExpr("id AS k", "id AS v")
        with pytest.raises(KqlError, match="64 distinct"):
            kql_to_df(
                "T | partition hint.strategy=legacy by k ( getschema )",
                {"T": df}).collect()

    def test_shuffle_hint_refuses_unvectorizable(self, pdata):
        with pytest.raises(KqlError, match="vectorized"):
            kql_to_df(
                "T | partition hint.strategy=shuffle by k ( getschema )",
                {"T": pdata})

    def test_innerunique_join_not_vectorized(self, pdata):
        """Default-kind join dedups left keys PER PARTITION — no
        grouped rewrite exists, so the body routes to branch mode
        (where per-key compilation gives the exact semantics)."""
        from corkscrew_spark.kql import _StageCompiler

        reason = _StageCompiler._partition_vector_reason(
            "join ( D ) on id | count")
        assert reason is not None and "innerunique" in reason

    def test_sort_vectorizes_everywhere(self):
        """`sort` vectorizes in any position: consumed by take/limit
        (per-key top) or an extend window; unconsumed it only affects
        output order, which the partition union does not guarantee in
        Kusto either."""
        from corkscrew_spark.kql import _StageCompiler

        assert _StageCompiler._partition_vector_reason(
            "sort by v desc") is None
        assert _StageCompiler._partition_vector_reason(
            "sort by v desc | take 3") is None
        assert _StageCompiler._partition_vector_reason(
            "sort by v asc | extend rn = row_number() | where rn <= 2"
        ) is None

    def test_unknown_hint_and_column_refused(self, pdata):
        with pytest.raises(KqlError, match="hint"):
            kql_to_df("T | partition hint.spread=2 by k ( count )",
                      {"T": pdata})
        with pytest.raises(KqlError, match="unknown column"):
            kql_to_df("T | partition by nope ( count )", {"T": pdata})

    def test_render_inside_body_refused(self, pdata):
        with pytest.raises(KqlError, match="render"):
            kql_to_df(
                "T | partition hint.strategy=legacy by k "
                "( render barchart )", {"T": pdata})

    def test_project_away_all_columns_loud(self, pdata):
        """A glob that strips every column would silently strand the
        vectorized rewrite without its hidden key — loud refusal, not
        wrong results."""
        with pytest.raises(KqlError, match="partition key"):
            kql_to_df("T | partition by k ( project-away * | count )",
                      {"T": pdata})

    def test_pipeline_refs_branch_multiplier(self, wh):
        """Branch-mode partition re-plans the upstream pipeline per
        key: the governor prices head AND body reads at the worst-case
        64; vectorized partition prices once; reads AFTER the
        partition stage price once (they run on the unioned output)."""
        from corkscrew_spark import skipping

        full = skipping.estimate_scan(wh["T"], [])["bytes_kept"]
        assert full == skipping.estimate_scan(wh["U"], [])["bytes_kept"]
        for q, reads in (
                ("T | partition by p ( join kind=inner (U) on k "
                 "| count )", 2),
                ("T | partition hint.strategy=legacy by p "
                 "( join kind=inner (U) on k | getschema )", 128),
                ("T | partition hint.strategy=legacy by p "
                 "( summarize n = count() ) "
                 "| join kind=inner (U | project n = k) on n", 65)):
            est = kql_estimate_statement(q, wh)
            assert (est["reads"], est["bytes_kept"]) \
                == (reads, reads * full), q

    def test_branch_mode_governed_at_multiplier(self, spark, tmp_path):
        """An armed budget that admits one full scan refuses the same
        scan wrapped in a legacy-strategy partition (64× worst case) —
        the budget cannot be dodged by the wrapper; the vectorized
        twin is admitted."""
        from corkscrew_spark import skipping
        from corkscrew_spark.engine import ScanBudgetExceeded
        from corkscrew_spark.kql import kql_to_df_skipping

        path = str(tmp_path / "pgov")
        spark.range(400).selectExpr(
            "id AS k", "id % 3 AS p", "id * 2.0 AS v"
        ).repartitionByRange(4, "k").write.parquet(path)
        skipping.compute_stats(spark, path, ["k"])
        full = skipping.estimate_scan(path, [])["bytes_kept"]
        got = kql_to_df_skipping(
            spark, "T | partition by p ( top 1 by v desc, k asc )",
            {"T": path}, max_scan_bytes=full * 2)
        assert got.count() == 3
        with pytest.raises(ScanBudgetExceeded, match="budget"):
            kql_to_df_skipping(
                spark,
                "T | partition hint.strategy=legacy by p "
                "( top 1 by v desc, k asc )",
                {"T": path}, max_scan_bytes=full * 2)


# ---------------------------------------------------------------------------
# serialized row functions (r12)
# ---------------------------------------------------------------------------

class TestKqlSerializedFns:
    """row_number/prev/next/row_cumsum — Kusto's serialized row
    functions, compiled to window functions over the pipeline's
    in-force `sort by` (per-key inside a vectorized `partition` body:
    the shape that scales; a bare global sort is a single-partition
    window, same cost center as Kusto's own serialized execution)."""

    @pytest.fixture(scope="class")
    def sdata(self, spark):
        rows = [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
                ("b", 4, 5.0), ("b", 5, 50.0), (None, 6, 7.0)]
        return spark.createDataFrame(rows, "k string, id long, v double")

    def test_global_serialized_chain(self, sdata):
        out = {r["id"]: r for r in kql_to_df(
            "T | sort by id asc | extend rn = row_number(), "
            "pv = prev(v), nx = next(v, 1, -1.0), cs = row_cumsum(v)",
            {"T": sdata}).collect()}
        assert [out[i]["rn"] for i in range(1, 7)] == [1, 2, 3, 4, 5, 6]
        assert out[1]["pv"] is None and out[2]["pv"] == 10.0
        assert out[6]["nx"] == -1.0 and out[5]["nx"] == 7.0
        assert out[3]["cs"] == 60.0 and out[6]["cs"] == 122.0

    def test_row_number_start(self, sdata):
        out = kql_to_df(
            "T | sort by id asc | extend rn = row_number(10)",
            {"T": sdata}).collect()
        assert sorted((r["id"], r["rn"]) for r in out) \
            == [(i, i + 9) for i in range(1, 7)]

    def test_partition_per_key_window(self, sdata):
        """Inside a vectorized partition body the window partitions by
        the hidden key — per-key row numbers, and vector == branch."""
        q = ("T | partition by k ( sort by id asc | extend "
             "rn = row_number(), d = v - prev(v, 1, 0.0) "
             "| where rn <= 2 )")
        vec = kql_to_df(q, {"T": sdata})
        br = kql_to_df(
            q.replace("partition by", "partition hint.strategy=legacy by"),
            {"T": sdata})
        sa = sorted(map(repr, vec.collect()))
        assert sa == sorted(map(repr, br.collect()))
        rows = {(r["k"], r["id"]): r for r in vec.collect()}
        assert rows[("a", 1)]["rn"] == 1 and rows[("b", 4)]["rn"] == 1
        assert rows[("b", 5)]["d"] == 45.0
        # vectorized: ONE scan, not one per key
        assert vec._jdf.queryExecution().optimizedPlan().toString() \
            .count("LogicalRDD") == 1

    def test_needs_sort_and_invalidation(self, sdata):
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df("T | extend rn = row_number()", {"T": sdata})
        # summarize destroys the serialization
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df(
                "T | sort by id asc | summarize n = count() by k "
                "| extend rn = row_number()", {"T": sdata})
        # where/project preserve it (Kusto: serialization survives
        # filters and projections)
        out = kql_to_df(
            "T | sort by id asc | where v > 6 | project id, v "
            "| extend rn = row_number()", {"T": sdata}).collect()
        assert sorted((r["id"], r["rn"]) for r in out) \
            == [(1, 1), (2, 2), (3, 3), (5, 4), (6, 5)]

    def test_sort_does_not_leak_into_subpipeline(self, sdata):
        """A join side starts with no order in force even when the
        outer pipeline sorted."""
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df(
                "T | sort by id asc | join kind=inner "
                "( T | extend rn = row_number() | project id, rn ) "
                "on id", {"T": sdata})

    def test_restart_args_refused(self, sdata):
        with pytest.raises(KqlError, match="restart"):
            kql_to_df(
                "T | sort by id asc | extend r = row_number(1, v > 5)",
                {"T": sdata})
        with pytest.raises(KqlError, match="restart"):
            kql_to_df(
                "T | sort by id asc | extend r = row_cumsum(v, v > 5)",
                {"T": sdata})

    def test_offset_must_be_literal(self, sdata):
        with pytest.raises(KqlError, match="integer literal"):
            kql_to_df(
                "T | sort by id asc | extend p = prev(v, id)",
                {"T": sdata})


# ---------------------------------------------------------------------------
# scan operator (r12)
# ---------------------------------------------------------------------------

class TestKqlScan:
    """`scan [with_match_id=M] with (step …)` — the predicate-step
    subset of Kusto's sequence matcher. Step conditions compile to
    boolean columns (JVM codegen); the Arrow-batched applyInPandas
    state machine loops over the bool matrix per serialization group
    (the hidden partition key inside a vectorized `partition` body)."""

    @pytest.fixture(scope="class")
    def sequence(self, spark):
        rows = [("u1", 1, "login"), ("u1", 2, "browse"),
                ("u1", 3, "login"), ("u1", 4, "buy"), ("u1", 5, "buy"),
                ("u1", 6, "login"), ("u2", 7, "buy"), ("u2", 8, "login"),
                ("u2", 9, "buy")]
        return spark.createDataFrame(rows, "u string, id long, e string")

    def test_two_step_machine_exact(self, sequence):
        """Advance > greedy-repeat > restart; completion resets to
        idle; non-matching rows drop with state held; a final-step
        match while idle drops."""
        out = sorted((r["id"], r["e"], r["m"]) for r in kql_to_df(
            "T | sort by id asc | scan with_match_id = m with ("
            " step login: e == 'login'; step buy: e == 'buy'; )",
            {"T": sequence}).collect())
        assert out == [(1, "login", 1), (3, "login", 1), (4, "buy", 1),
                       (6, "login", 2), (7, "buy", 2), (8, "login", 3),
                       (9, "buy", 3)]

    def test_single_step_is_filter_plus_row_number(self, sequence):
        out = sorted((r["id"], r["m"]) for r in kql_to_df(
            "T | sort by id asc | scan with_match_id = m with "
            "( step s: e == 'buy'; )", {"T": sequence}).collect())
        assert out == [(4, 1), (5, 2), (7, 3), (9, 4)]

    def test_per_key_inside_partition(self, sequence):
        """partition by u ( sort | scan ) — per-key machines: u2's
        leading buy is idle-dropped, match ids restart per key; vector
        == branch."""
        q = ("T | partition by u ( sort by id asc | scan "
             "with_match_id = m with ( step login: e == 'login'; "
             "step buy: e == 'buy'; ) )")
        vec = kql_to_df(q, {"T": sequence})
        br = kql_to_df(
            q.replace("partition by", "partition hint.strategy=legacy by"),
            {"T": sequence})
        sa = sorted(map(repr, vec.collect()))
        assert sa == sorted(map(repr, br.collect()))
        got = sorted((r["u"], r["id"], r["m"]) for r in vec.collect())
        assert got == [("u1", 1, 1), ("u1", 3, 1), ("u1", 4, 1),
                       ("u1", 6, 2), ("u2", 8, 1), ("u2", 9, 1)]

    def test_no_match_id_column(self, sequence):
        out = kql_to_df(
            "T | sort by id asc | scan with ( step s: e == 'login'; )",
            {"T": sequence})
        assert out.columns == sequence.columns
        assert out.count() == 4

    def test_scan_preserves_serialization(self, sequence):
        """scan output stays serialized — a following extend can
        window over it."""
        out = sorted((r["id"], r["rn"]) for r in kql_to_df(
            "T | sort by id asc | scan with ( step s: e == 'buy'; ) "
            "| extend rn = row_number()", {"T": sequence}).collect())
        assert out == [(4, 1), (5, 2), (7, 3), (9, 4)]

    def test_refusals(self, sequence):
        cases = [
            ("T | scan with ( step s: e == 'x'; )", "serialized"),
            ("T | sort by id asc | scan declare (x:long) with "
             "( step s: e == 'x'; )", "declare"),
            ("T | sort by id asc | scan with "
             "( step s: e == 'x' => k = 1; )", "assignments"),
            ("T | sort by id asc | scan with "
             "( step s output=last: e == 'x'; )", "output"),
            ("T | sort by id asc | scan with_match_id = id with "
             "( step s: e == 'x'; )", "collides"),
            ("T | sort by id asc | scan with ( )", "at least one"),
        ]
        for bad, pat in cases:
            with pytest.raises(KqlError, match=pat):
                kql_to_df(bad, {"T": sequence})


class TestKqlR12ReviewFixes:
    """Pinned regressions for the r12 review wave over the
    partition/serialized/scan diff."""

    @pytest.fixture(scope="class")
    def nully(self, spark):
        rows = [("a", 1, None), ("a", 2, 5.0), ("a", 3, None),
                ("b", 4, 7.0)]
        return spark.createDataFrame(rows, "k string, id long, v double")

    def test_prev_default_only_when_row_missing(self, nully):
        """prev(v, 1, d) substitutes d ONLY when the offset row does
        not exist — an existing row's null value stays null (coalesce
        was wrong)."""
        out = {r["id"]: r["p"] for r in kql_to_df(
            "T | sort by id asc | extend p = prev(v, 1, -1.0)",
            {"T": nully}).collect()}
        assert out[1] == -1.0      # no previous row -> default
        assert out[2] is None      # previous row EXISTS, value null
        assert out[3] == 5.0
        assert out[4] is None      # previous row exists, value null

    def test_branch_partition_empty_input_zero_rows(self, spark):
        """Zero partitions = zero rows, even for ungrouped aggregate
        bodies (count's seed row must not leak)."""
        empty = spark.createDataFrame([], "k string, v long")
        for body in ("count", "summarize n = count()"):
            got = kql_to_df(
                f"T | partition hint.strategy=legacy by k ( {body} )",
                {"T": empty})
            assert got.count() == 0

    def test_overwriting_sort_column_refuses_or_invalidates(self, nully):
        # same stage: loud refusal
        with pytest.raises(KqlError, match="overwrites sort column"):
            kql_to_df(
                "T | sort by id asc | extend id = -id, "
                "rn = row_number()", {"T": nully})
        # earlier stage: serialization invalidated -> loud refusal at
        # the serialized call, not a silently reordered window
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df(
                "T | sort by id asc | extend id = -id "
                "| extend rn = row_number()", {"T": nully})
        # dropping the sort column invalidates too (was a raw
        # AnalysisException)
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df(
                "T | sort by id asc | project v "
                "| extend rn = row_number()", {"T": nully})

    def test_top_establishes_serialization(self, nully):
        """Kusto documents top's output as serialized by its keys —
        row_number after a global top works and numbers in top order."""
        out = sorted((r["id"], r["rn"]) for r in kql_to_df(
            "T | top 3 by id desc | extend rn = row_number()",
            {"T": nully}).collect())
        assert out == [(2, 3), (3, 2), (4, 1)]

    def test_scan_null_order_matches_spark(self, spark):
        """Ascending serialization puts null sort keys FIRST (Spark's
        null placement) in the scan machine too — the pandas default
        (nulls last) diverged."""
        rows = [(None, "start"), (1, "start"), (2, "end")]
        df = spark.createDataFrame(rows, "t int, e string")
        out = kql_to_df(
            "T | sort by t asc | scan with_match_id = m with ("
            " step a: e == 'start'; step b: e == 'end'; )",
            {"T": df}).collect()
        got = sorted((r["t"] if r["t"] is not None else -99, r["m"])
                     for r in out)
        # null-t start row is FIRST: it opens match 1, t=1 repeats it,
        # t=2 completes it — all one match
        assert got == [(-99, 1), (1, 1), (2, 1)]

    def test_scan_helper_columns_collision_guarded(self, spark):
        df = spark.createDataFrame(
            [(1, "x", True), (2, "x", False)],
            "id long, e string, __scan_s0 boolean")
        out = kql_to_df(
            "T | sort by id asc | scan with ( step s: e == 'x'; )",
            {"T": df}).collect()
        # the user column survives untouched
        assert sorted((r["id"], r["__scan_s0"]) for r in out) \
            == [(1, True), (2, False)]


class TestKqlNarrow:
    """`evaluate narrow()` — Kusto's transpose plugin: one row per
    (input row, column), Row numbered by the in-force serialization
    (deterministic by contract here; refused unsorted)."""

    def test_transpose_values(self, spark):
        df = spark.createDataFrame(
            [("a", 2, 5.0), ("a", 1, None), ("b", 3, 7.0)],
            "k string, id long, v double")
        out = sorted(
            ((r["Row"], r["Column"], r["Value"]) for r in kql_to_df(
                "T | sort by id asc | evaluate narrow()",
                {"T": df}).collect()))
        assert out == [
            (0, "id", "1"), (0, "k", "a"), (0, "v", None),
            (1, "id", "2"), (1, "k", "a"), (1, "v", "5.0"),
            (2, "id", "3"), (2, "k", "b"), (2, "v", "7.0")]

    def test_per_key_rows_inside_partition(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)],
            "k string, id long, v double")
        q = "T | partition by k ( sort by id asc | evaluate narrow() )"
        vec = kql_to_df(q, {"T": df})
        br = kql_to_df(
            q.replace("partition by", "partition hint.strategy=legacy by"),
            {"T": df})
        assert sorted(map(repr, vec.collect())) \
            == sorted(map(repr, br.collect()))
        # Row restarts per key: key b's single row is Row 0
        assert ("b", "0") in {(r["Value"], str(r["Row"]))
                              for r in vec.collect()
                              if r["Column"] == "k"}

    def test_refusals(self, spark):
        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(KqlError, match="serialized"):
            kql_to_df("T | evaluate narrow()", {"T": df})
        with pytest.raises(KqlError, match="no arguments"):
            kql_to_df("T | sort by id asc | evaluate narrow(1)",
                      {"T": df})

    def test_pivot_clears_serialization(self, spark):
        df = spark.createDataFrame([("a", 1)], "k string, id long")
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df(
                "T | sort by id asc | evaluate pivot(k) "
                "| extend rn = row_number()", {"T": df})


class TestKqlScalarWidening:
    """r12 scalar-function widening — spot semantics the oracle can't
    carry (transcendentals, null contracts, negative slices)."""

    @pytest.fixture(scope="class")
    def one(self, spark):
        return spark.createDataFrame(
            [(1, 4.0, ["x", "y", "z", "w"], '{"b":2,"a":1}')],
            "id long, v double, arr array<string>, js string")

    def _val(self, one, expr):
        return kql_to_df(f"T | extend r = {expr} | project r",
                         {"T": one}).first()["r"]

    def test_math_family(self, one):
        import math
        assert self._val(one, "sqrt(v)") == 2.0
        assert abs(self._val(one, "exp(1.0)") - math.e) < 1e-12
        assert abs(self._val(one, "log(v)") - math.log(4.0)) < 1e-12
        assert self._val(one, "log2(8.0)") == 3.0
        assert self._val(one, "pow(2.0, 10.0)") == 1024.0
        assert self._val(one, "sign(-3.5)") == -1.0
        assert self._val(one, "min_of(v, 2.0, 9.0)") == 2.0
        assert self._val(one, "max_of(v, 2.0, 9.0)") == 9.0

    def test_strcmp_null_propagates(self, spark):
        df = spark.createDataFrame([(None,)], "s string")
        got = kql_to_df("T | extend r = strcmp(s, 'a') | project r",
                        {"T": df}).first()["r"]
        assert got is None

    def test_trim_and_count(self, one):
        assert self._val(one, "trim_start(@'x+', 'xxab')") == "ab"
        assert self._val(one, "trim_end(@'b+', 'abb')") == "a"
        assert self._val(one, "countof('ababab', 'ab')") == 3
        assert self._val(one, "countof('aaa', @'a+', 'regex')") == 1
        with pytest.raises(KqlError, match="normal.*regex|regex"):
            self._val(one, "countof('x', 'y', 'bad')")

    def test_array_family(self, one):
        assert self._val(one, "array_index_of(arr, 'z')") == 2
        assert self._val(one, "array_index_of(arr, 'nope')") == -1
        assert self._val(one, "array_slice(arr, 1, 2)") == ["y", "z"]
        # negative indices normalize against the length (0, -1 = all)
        assert self._val(one, "array_slice(arr, 0, -1)") \
            == ["x", "y", "z", "w"]
        assert self._val(one, "array_slice(arr, -2, -1)") == ["z", "w"]
        assert self._val(one, "array_concat(arr, pack_array('q'))") \
            == ["x", "y", "z", "w", "q"]
        assert self._val(one, "array_sort_desc(arr)") \
            == ["z", "y", "x", "w"]
        assert self._val(one, "repeat('ab', 2)") == ["ab", "ab"]

    def test_encode_parse(self, one):
        assert self._val(one, "base64_decode_tostring("
                              "base64_encode_tostring('hi'))") == "hi"
        assert self._val(one, "parse_ipv4('10.1.2.3')") \
            == 10 * 16777216 + 1 * 65536 + 2 * 256 + 3
        assert self._val(one, "parse_ipv4('999.1.2.3')") is None
        assert self._val(one, "parse_url('https://h:81/p?q=1').Host") \
            == "h"
        assert self._val(one, "bag_keys(parse_json(js))") == ["a", "b"]

    def test_datetime_family(self, one):
        got = self._val(
            one, "datetime_add('month', 1, datetime('2024-01-31'))")
        assert str(got).startswith("2024-02-29")  # calendar-aware
        with pytest.raises(KqlError, match="period"):
            self._val(one, "datetime_add('fortnight', 1, "
                           "datetime('2024-01-31'))")
        assert str(self._val(
            one, "make_datetime(2024, 3, 5)")).startswith("2024-03-05")

    def test_replace_regex_captures(self, one):
        assert self._val(
            one, r"replace_regex('a1b2', @'(\d)', @'[\1]')") \
            == "a[1]b[2]"


class TestKqlR12ReviewWave2:
    """Second review pass over the widening diff — pinned fixes."""

    @pytest.fixture(scope="class")
    def frame(self, spark):
        return spark.createDataFrame(
            [("a", 1, 10.0), ("b", 2, 5.0), ("c", 3, 7.0)],
            "k string, id long, v double")

    def test_project_overwrite_invalidates(self, frame):
        """project v = -v keeps the name alive while changing values —
        the serialization must die there, not silently reorder."""
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df(
                "T | sort by v asc | project k, id, v = -v "
                "| extend rn = row_number()", {"T": frame})
        # plain projection of the sort column keeps it in force
        out = sorted((r["id"], r["rn"]) for r in kql_to_df(
            "T | sort by v asc | project id, v "
            "| extend rn = row_number()", {"T": frame}).collect())
        assert out == [(1, 3), (2, 1), (3, 2)]

    def test_parse_capture_overwrite_invalidates(self, spark):
        df = spark.createDataFrame([("v=9", 1)], "s string, v long")
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df(
                "T | sort by v asc | parse s with 'v=' v:long "
                "| extend rn = row_number()", {"T": df})

    def test_computed_sort_exprs_do_not_self_invalidate(self, frame):
        """sort by strlen(k): function names are not columns — the
        refs net must not kill its own serialization (regression from
        the first review wave)."""
        out = sorted((r["id"], r["rn"]) for r in kql_to_df(
            "T | sort by strlen(k) asc, id asc "
            "| extend rn = row_number()", {"T": frame}).collect())
        assert out == [(1, 1), (2, 2), (3, 3)]

    def test_countof_overlapping_plain_matches(self, frame):
        def val(expr):
            return kql_to_df(f"T | extend r = {expr} | project r "
                             "| take 1", {"T": frame}).first()["r"]
        assert val("countof('aaa', 'aa')") == 2       # overlap (Kusto)
        assert val("countof('aaa', @'aa', 'regex')") == 1  # no overlap
        with pytest.raises(KqlError, match="non-empty"):
            val("countof('aaa', '')")

    def test_array_sort_nulls_last(self, spark):
        df = spark.createDataFrame([(["b", None, "a"],)],
                                   "arr array<string>")
        got = kql_to_df(
            "T | extend s = array_sort_asc(arr), "
            "d = array_sort_desc(arr) | project s, d",
            {"T": df}).first()
        assert got["s"] == ["a", "b", None]
        assert got["d"] == ["b", "a", None]

    def test_replace_regex_literal_dollar(self, frame):
        got = kql_to_df(
            "T | extend r = replace_regex('ab', @'a', 'x$z') "
            "| project r | take 1", {"T": frame}).first()["r"]
        assert got == "x$zb"

    def test_narrow_row_column_collision(self, spark):
        df = spark.createDataFrame([(1, "x")], "Row long, e string")
        out = sorted((r["Row"], r["Column"], r["Value"]) for r in
                     kql_to_df("T | sort by Row asc "
                               "| evaluate narrow()",
                               {"T": df}).collect())
        # the input Row column's VALUE (1) survives as a transposed row
        assert out == [(0, "Row", "1"), (0, "e", "x")]


class TestKqlR12ReviewWave3:
    """Third review pass — pinned fixes."""

    def test_parse_source_overwrite_keeps_later_captures(self, spark):
        """A capture overwriting the parse SOURCE must not corrupt the
        captures after it — all captures resolve against the original
        frame (one withColumns, not sequential rebinding)."""
        df = spark.createDataFrame([("v=a,b",)], "s string")
        got = kql_to_df("T | parse s with 'v=' s ',' t",
                        {"T": df}).first()
        assert got["s"] == "a" and got["t"] == "b"

    def test_narrow_retires_serialization(self, spark):
        """After narrow() the old sort is gone even when the sort
        column was named Row — a later row_number must refuse, not
        window nondeterministically over tied Rows."""
        df = spark.createDataFrame([(1, "x")], "Row long, e string")
        with pytest.raises(KqlError, match="serialized input"):
            kql_to_df("T | sort by Row asc | evaluate narrow() "
                      "| extend rn = row_number()", {"T": df})

    def test_replace_regex_ref_then_literal_digit(self, spark):
        """\\1 followed by a literal digit must stay group 1 + '2',
        not become Java's greedy $12."""
        df = spark.createDataFrame([("ab",)], "s string")
        got = kql_to_df(
            r"T | extend r = replace_regex(s, @'(a)', @'\12') "
            "| project r", {"T": df}).first()["r"]
        assert got == "a2b"


def test_project_rename_onto_existing_refuses(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(KqlError, match="already exists"):
        kql_to_df("T | project-rename v = k", {"T": df})
    # self-rename is a no-op, not a conflict
    assert kql_to_df("T | project-rename v = v", {"T": df}).columns \
        == ["k", "v"]
