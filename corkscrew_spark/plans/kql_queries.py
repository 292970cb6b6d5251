"""KQL-surface queries — raw Kusto pipeline strings compiled by
``corkscrew_spark.kql`` and oracle-checked against DuckDB SQL.

The reference accepts raw KQL for its Azure provider
(``plugins/azure-provider/resource_graph.go:71-118``); these queries
prove the translator end-to-end on the synthetic tables: the *string*
goes in, the compiled DataFrame's results hash-match an independently
written SQL oracle. Verbatim reference query strings are additionally
exercised in ``tests/test_kql.py``.

Scale: each compiles to ordinary filter/groupBy/explode/join plans —
Catalyst pushdown and broadcast selection apply to the translated plan
exactly as to hand-written DataFrame code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from corkscrew_spark.catalog import register_tables
from corkscrew_spark.kql import kql_to_df
from corkscrew_spark.plans.queries import query


@query(
    "kql_events_rollup",
    oracle="""
    SELECT event_type,
           COUNT(*)                        AS n,
           COUNT(DISTINCT user_id)         AS users,
           ROUND(SUM(value), 2)            AS total
    FROM events
    WHERE value >= 0 AND event_type <> 'purchase'
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def kql_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`where`+`summarize count()/dcount()/sum() by`+`order by asc` from a
    raw KQL string (resource_graph.go:83-110 summarize semantics)."""
    return kql_to_df(
        """
        events
        | where value >= 0 and event_type != 'purchase'
        | summarize n = count(), users = dcount(user_id),
                    total = round(sum(value), 2) by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_docs_tokens",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE lang = 'en'
    )
    WHERE length(tok) >= 6
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 15
    """,
)
def kql_docs_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`extend split()`+`mv-expand`+`strlen` from a raw KQL string
    (resource_graph.go:134-137 mv-expand/extend usage)."""
    return kql_to_df(
        """
        documents
        | where lang == 'en'
        | extend toks = split(text, ' ')
        | mv-expand tok = toks
        | where strlen(tok) >= 6
        | summarize n = count() by tok
        | order by n desc, tok asc
        | limit 15
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_join_spend",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.n_orders, o.spend
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey             AS c_custkey,
               COUNT(*)              AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS spend
        FROM orders GROUP BY o_custkey
    ) o USING (c_custkey)
    WHERE c.c_mktsegment = 'BUILDING'
    ORDER BY c.c_custkey ASC
    """,
)
def kql_join_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`join kind=leftouter (subquery) on key` from a raw KQL string
    (resource_graph.go:268-280 leftouter join shape), with an aliased
    summarize-by key renaming the join column."""
    return kql_to_df(
        """
        customer
        | where c_mktsegment == 'BUILDING'
        | join kind=leftouter (
            orders
            | summarize n_orders = count(),
                        spend = round(sum(o_totalprice), 2) by c_custkey = o_custkey
        ) on c_custkey
        | project c_custkey, c_name, n_orders, spend
        | order by c_custkey asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_time_bins",
    oracle="""
    SELECT date_trunc('day', ts)          AS day,
           COUNT(*)                       AS n,
           COUNT(DISTINCT event_type)     AS types
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15'
    GROUP BY date_trunc('day', ts)
    ORDER BY day ASC
    LIMIT 10
    """,
)
def kql_time_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KQL time bucketing from a raw string: unquoted datetime literal in
    the filter, `startofday()` as the summarize key — resourcechanges
    timeline shape (resource_graph.go:193-198)."""
    return kql_to_df(
        """
        events
        | where ts >= datetime(2024-01-15T00:00:00Z)
        | summarize n = count(), types = dcount(event_type) by day = startofday(ts)
        | order by day asc
        | limit 10
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_case_tiers",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'jumbo'
                WHEN o_totalprice >= 150000 THEN 'large'
                ELSE 'regular' END                             AS tier,
           COUNT(*)                                            AS n,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT')      AS urgent,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS spend_f,
           COUNT(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END)   AS open_custs
    FROM orders
    GROUP BY 1
    ORDER BY tier ASC
    """,
)
def kql_case_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`case()` bucketing + the conditional-aggregate family (countif /
    sumif / dcountif) from a raw KQL string — the shape ARG dashboards
    use for severity rollups (resource_graph.go:83-110)."""
    return kql_to_df(
        """
        orders
        | extend tier = case(o_totalprice >= 300000, 'jumbo',
                             o_totalprice >= 150000, 'large', 'regular')
        | summarize n = count(),
                    urgent = countif(o_orderpriority == '1-URGENT'),
                    spend_f = round(sumif(o_totalprice, o_orderstatus == 'F'), 2),
                    open_custs = dcountif(o_custkey, o_orderstatus == 'O') by tier
        | order by tier asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_arg_max_order",
    oracle="""
    SELECT o_orderpriority,
           MAX(o_orderkey)                 AS last_key,
           arg_max(o_totalprice, o_orderkey) AS last_price,
           arg_min(o_totalprice, o_orderkey) AS first_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC
    """,
)
def kql_arg_max_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`arg_max`/`arg_min` (row-attribute-at-extremum). The maximized
    expression is the unique o_orderkey so the result is deterministic
    across engines (ties on a non-unique key would not be)."""
    return kql_to_df(
        """
        orders
        | summarize last_key = max(o_orderkey),
                    last_price = arg_max(o_orderkey, o_totalprice),
                    first_price = arg_min(o_orderkey, o_totalprice) by o_orderpriority
        | order by o_orderpriority asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_percentile_value",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def kql_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`percentile()` — Spark's exact linear-interpolation percentile
    matches quantile_cont; KQL's native percentile is approximate
    (t-digest), so this surface intentionally promises the exact
    variant (documented deviation, same argument shape)."""
    return kql_to_df(
        """
        events
        | summarize p50 = round(percentile(value, 50), 4),
                    p95 = round(percentile(value, 95), 4) by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_bin_6h",
    oracle="""
    SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS b,
           COUNT(*)             AS n,
           ROUND(SUM(value), 2) AS v
    FROM events
    GROUP BY 1
    ORDER BY b ASC
    LIMIT 20
    """,
)
def kql_bin_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timespan-literal `bin(ts, 6h)` — epoch-aligned datetime buckets
    (the resourcechanges timeline at sub-day granularity)."""
    return kql_to_df(
        """
        events
        | summarize n = count(), v = round(sum(value), 2) by b = bin(ts, 6h)
        | order by b asc
        | limit 20
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_parse_props",
    oracle="""
    SELECT event_type,
           COUNT(*)    AS n,
           CAST(SUM(CAST(regexp_extract(props, '^\\{"k": (.*)\\}$', 1) AS BIGINT)) AS BIGINT) AS ksum
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def kql_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`parse Expr with 'lit' Name:type 'lit'` — typed capture between
    literal anchors compiled to one anchored regex (Kusto parse simple
    mode), aggregated to prove the long cast."""
    return kql_to_df(
        """
        events
        | parse props with '{"k": ' k:long '}'
        | summarize n = count(), ksum = sum(k) by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_union_mix",
    oracle="""
    SELECT * FROM (
        SELECT event_id, user_id, value, NULL AS ts
        FROM events WHERE event_type = 'click' AND value >= 9.0
        UNION ALL
        SELECT event_id, user_id, NULL AS value, ts
        FROM events WHERE event_type = 'purchase' AND value >= 9.9
    )
    ORDER BY event_id ASC
    """,
)
def kql_union_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`union kind=outer (subquery)` — by-name alignment with null fill
    for columns present on only one side, plus project-keep /
    project-rename exercised on the branches."""
    return kql_to_df(
        """
        events
        | where event_type == 'click' and value >= 9.0
        | project-keep event_id, user_id, value
        | union kind=outer (
            events
            | where event_type == 'purchase' and value >= 9.9
            | project-rename when = ts
            | project event_id, user_id, ts = when
          )
        | order by event_id asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_make_series_daily",
    oracle="""
    WITH bins AS (SELECT unnest(generate_series(0, 5)) AS b),
    filtered AS (
        SELECT * FROM events
        WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
    ),
    types AS (SELECT DISTINCT event_type FROM filtered),
    agg AS (
        SELECT event_type,
               CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 432000) AS BIGINT) AS b,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        FROM filtered GROUP BY 1, 2
    )
    SELECT t.event_type,
           CAST(to_timestamp(epoch(TIMESTAMP '2024-01-01') + bins.b * 432000) AS TIMESTAMP) AS ts,
           COALESCE(a.n, 0) AS n,
           a.v              AS v
    FROM types t
    CROSS JOIN bins
    LEFT JOIN agg a ON a.event_type = t.event_type AND a.b = bins.b
    ORDER BY t.event_type ASC, ts ASC
    """,
)
def kql_make_series_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`make-series` (regular time grid per group, default-filled) +
    parallel multi-column `mv-expand` back to rows so the oracle can
    compare. Series arrays are bounded by nbins (6 here), never by
    |rows| — the agg is one (keys, bin) groupBy with map-side partials,
    the grid join is |keys|×nbins (broadcast-sized)."""
    return kql_to_df(
        """
        events
        | make-series n = count() default = 0, v = round(sum(value), 2)
            on ts from datetime(2024-01-01T00:00:00Z) to datetime(2024-01-31T00:00:00Z) step 5d
            by event_type
        | mv-expand n, v, ts
        | project event_type, ts, n, v
        | order by event_type asc, ts asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_mv_apply_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> contains(lower(x), 'a'))) AS BIGINT)
               AS a_toks
    FROM documents
    WHERE len(list_filter(string_split(text, ' '),
                          x -> contains(lower(x), 'a'))) > 0
    ORDER BY doc_id ASC
    """,
)
def kql_mv_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mv-apply` end-to-end: per-document token subquery (filter +
    count) without any hand-written explode/groupBy — the compiler
    plans rowid-tag -> explode -> filter -> grouped summarize -> join.
    Documents with no qualifying token drop out (Kusto inner
    semantics), which the oracle mirrors with its > 0 guard."""
    return kql_to_df(
        """
        documents
        | extend toks = split(text, ' ')
        | mv-apply toks on ( where toks contains 'a'
                             | summarize a_toks = count() )
        | project doc_id, a_toks
        | order by doc_id asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_top_nested",
    oracle="""
    WITH l1 AS (
        SELECT event_type,
               ROUND(SUM(value), 2) AS aggregated_event_type
        FROM events
        GROUP BY event_type
        ORDER BY ROUND(SUM(value), 2) DESC, event_type ASC
        LIMIT 3
    ), l2 AS (
        SELECT e.event_type, e.user_id,
               ROUND(SUM(e.value), 2) AS aggregated_user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_type
                   ORDER BY ROUND(SUM(e.value), 2) DESC, e.user_id ASC
               ) AS rn
        FROM events e JOIN l1 USING (event_type)
        GROUP BY e.event_type, e.user_id
    )
    SELECT l1.event_type, l1.aggregated_event_type,
           l2.user_id, l2.aggregated_user_id
    FROM l2 JOIN l1 USING (event_type)
    WHERE rn <= 2
    ORDER BY event_type ASC, user_id ASC
    """,
)
def kql_top_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`top-nested` — hierarchical top-N (ARG's "top 3 types, top 2
    spenders within each"): per level ONE partial-agg groupBy gated by
    a broadcast of the ≤N1·N2-row winner set, windows only over the
    bounded winner partitions, never a global single-partition sort."""
    return kql_to_df(
        """
        events
        | top-nested 3 of event_type by round(sum(value), 2),
          top-nested 2 of user_id by round(sum(value), 2)
        | order by event_type asc, user_id asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_top_nested_others",
    oracle="""
    WITH l1 AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
        ORDER BY COUNT(*) DESC, event_type ASC LIMIT 2
    ), l2 AS (
        SELECT e.event_type, e.user_id, CAST(COUNT(*) AS BIGINT) AS m,
               ROW_NUMBER() OVER (PARTITION BY e.event_type
                   ORDER BY COUNT(*) DESC, e.user_id ASC) AS rn
        FROM events e JOIN l1 USING (event_type)
        GROUP BY e.event_type, e.user_id
    ), leaf AS (
        SELECT l1.event_type, l1.n, l2.user_id, l2.m
        FROM l2 JOIN l1 USING (event_type) WHERE rn <= 2
    ), oth1 AS (
        SELECT 'OTHER' AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(NULL AS BIGINT) AS user_id,
               CAST(NULL AS BIGINT) AS m
        FROM events
        WHERE event_type NOT IN (SELECT event_type FROM l1)
        HAVING COUNT(*) > 0
    ), oth2 AS (
        SELECT l1.event_type, l1.n, CAST(-1 AS BIGINT) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM events e JOIN l1 USING (event_type)
        WHERE NOT EXISTS (SELECT 1 FROM leaf
                          WHERE leaf.event_type = e.event_type
                            AND leaf.user_id = e.user_id)
        GROUP BY l1.event_type, l1.n
        HAVING COUNT(*) > 0
    )
    SELECT * FROM leaf
    UNION ALL SELECT * FROM oth1
    UNION ALL SELECT * FROM oth2
    ORDER BY event_type, user_id
    """,
)
def kql_top_nested_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`top-nested … with others = <literal>` (r9 stretch #7 — the one
    documented hole in the verb): per level, one extra row per
    surviving prefix aggregating the ANTI-JOINED remainder (base rows
    whose level value missed the top N), so non-decomposable
    aggregates stay exact; deeper columns are NULL on an others row
    and an empty remainder emits nothing. Counts keep the oracle
    integer-exact; the numeric user_id level takes a numeric label
    (Kusto: the const must be of the column's type)."""
    return kql_to_df(
        """
        events
        | top-nested 2 of event_type with others = 'OTHER' by n = count(),
          top-nested 2 of user_id with others = -1 by m = count()
        | order by event_type asc, user_id asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_cs_in_matches",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u
    FROM events
    WHERE lower(event_type) IN ('click', 'view')
      AND regexp_matches(props, '"k": [0-9]+')
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def kql_cs_in_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kusto's case-insensitive membership (`in~`) and `matches regex`
    (r10 dialect completions) through the string compiler: both fold
    to plain pushable predicates — a lower() IN-list and an rlike —
    so the translated plan stays a scan-side filter."""
    return kql_to_df(
        """
        events
        | where event_type in~ ('CLICK', 'View')
            and props matches regex '"k": [0-9]+'
        | summarize n = count(), u = dcount(user_id) by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_top_hitters",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS approximate_count_event_type
    FROM events
    GROUP BY event_type
    ORDER BY approximate_count_event_type DESC, event_type ASC
    LIMIT 3
    """,
)
def kql_top_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`top-hitters N of Col` (r10 dialect completion): Kusto's
    heavy-hitters contract is approximate; the compiled plan is the
    exact map-side-partial groupBy + distributed sort-and-limit (a
    strict refinement), keeping Kusto's `approximate_count_<Col>`
    output name. Counts keep the oracle integer-exact; ties break on
    the hitter value ascending on both engines."""
    return kql_to_df(
        "events | top-hitters 3 of event_type",
        register_tables(spark, sf_dir),
    )


@query(
    "kql_lookup_dim",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal >= 9900
    ORDER BY c.c_custkey ASC
    """,
)
def kql_lookup_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`lookup` (r10 dialect completion) — Kusto's dimension-join verb:
    leftouter by default, the right side ALWAYS broadcast (enrich a
    fact stream without shuffling it), non-key clashes an error
    instead of join's `1`-suffix renames."""
    return kql_to_df(
        """
        customer
        | where c_acctbal >= 9900
        | lookup nation on $left.c_nationkey == $right.n_nationkey
        | project c_custkey, c_name, n_name
        | order by c_custkey asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_parse_where",
    oracle=r"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(NULLIF(regexp_extract(props, '^\{"k": (.*?)9\}', 1),
                                '') AS BIGINT)) AS BIGINT) AS dsum
    FROM events
    WHERE regexp_matches(props, '^\{"k": (.*?)9\}')
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def kql_parse_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`parse-where` — the filtering twin of `parse`: rows whose source
    string does not match the anchored pattern are DROPPED (one extra
    rlike predicate, pushable) instead of surviving with null captures;
    here only props whose k ends in 9 survive, and the leading-digits
    capture aggregates as a typed long (empty capture -> null, Kusto
    simple-mode semantics)."""
    return kql_to_df(
        """
        events
        | parse-where props with '{"k": ' d:long '9}'
        | summarize n = count(), dsum = sum(d) by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_parse_regex",
    oracle=r"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(NULLIF(regexp_extract(props,
                '^\{"k": (1|2)(.*?)\}', 2), '') AS BIGINT)) AS BIGINT)
               AS rsum
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def kql_parse_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`parse kind=regex` — fragments are RAW regex (verbatim @'…'
    literals, the Kusto idiom): the alternation here is a USER capture
    group, so the engine resolves its own captures' indices through a
    shadow-named pattern instead of assuming positions. Non-matching
    rows keep null captures (plain parse); the same pattern drives the
    DuckDB oracle's regexp_extract with the shifted group index."""
    return kql_to_df(
        r"""
        events
        | parse kind=regex props with @'\{"k": (1|2)' rest:long @'\}'
        | summarize n = count(), rsum = sum(rest) by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_datatable",
    oracle="""
    SELECT d.r_name, r.r_regionkey, CAST(d.w AS BIGINT) AS w
    FROM (VALUES ('AFRICA', 1), ('ASIA', 2), ('EUROPE', 3))
         d(r_name, w)
    JOIN region r ON d.r_name = r.r_name
    ORDER BY d.r_name ASC
    """,
)
def kql_datatable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`datatable(…) […]` (r11 dialect completion) — Kusto's literal
    table head, the standard way ARG dashboards inline dimension
    tables (reference KQL surface:
    plugins/azure-provider/resource_graph.go:70-296). The literal
    rows land as one driver-side createDataFrame (a constant, nothing
    to distribute) and Spark BROADCASTS the 3-row side of the join —
    enriching a scan with a literal dimension costs no shuffle at any
    scale."""
    return kql_to_df(
        """
        datatable(r_name:string, w:long)
            ['AFRICA', 1, 'ASIA', 2, 'EUROPE', 3]
        | join kind=inner (region) on r_name
        | project r_name, r_regionkey, w
        | order by r_name asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_evaluate_pivot",
    oracle="""
    SELECT user_id % 10 AS grp,
           NULLIF(CAST(COUNT(*) FILTER (WHERE event_type = 'click')
                       AS BIGINT), 0) AS click,
           NULLIF(CAST(COUNT(*) FILTER (WHERE event_type = 'error')
                       AS BIGINT), 0) AS error,
           NULLIF(CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                       AS BIGINT), 0) AS purchase,
           NULLIF(CAST(COUNT(*) FILTER (WHERE event_type = 'signup')
                       AS BIGINT), 0) AS signup,
           NULLIF(CAST(COUNT(*) FILTER (WHERE event_type = 'view')
                       AS BIGINT), 0) AS view
    FROM events
    GROUP BY grp
    ORDER BY grp ASC
    """,
)
def kql_evaluate_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`evaluate pivot(Col)` (r11 dialect completion) — the Kusto
    pivot plugin with its default count() aggregate: group by every
    remaining column, one output column per DISTINCT pivot value
    (Spark's pivot-without-values pays one extra distinct-values job
    at plan time, the same schema-inference scan Kusto's plugin
    performs; the aggregation itself stays one map-side-partial
    shuffle). Empty cells are null (Spark agg-over-no-rows; Kusto
    emits 0 for count — README dialect note), mirrored by the
    oracle's NULLIF."""
    return kql_to_df(
        """
        events
        | extend grp = user_id % 10
        | project grp, event_type
        | evaluate pivot(event_type)
        | order by grp asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_bag_unpack",
    oracle="""
    SELECT json_extract_string(props, '$.k') AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY k
    ORDER BY k ASC
    """,
)
def kql_bag_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`evaluate bag_unpack(Col)` (r11 dialect completion) — expands
    the dynamic property bag into one column per key (key discovery
    is one distributed distinct-keys pass over the JSON, the
    plugin's inherent schema-inference cost; the per-row extraction
    is get_json_object in codegen, no Python). Values surface as
    strings (Kusto infers scalar types — README dialect note), which
    the oracle mirrors with json_extract_string."""
    return kql_to_df(
        """
        events
        | evaluate bag_unpack(props)
        | summarize n = count() by k
        | order by k asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_let_statements",
    oracle="""
    WITH clicks AS (
        SELECT * FROM events WHERE event_type = 'click'
    )
    SELECT CAST(user_id % 5 AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sv
    FROM clicks
    WHERE value >= 10.0
    GROUP BY grp
    ORDER BY grp ASC
    """,
)
def kql_let_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`let` binding statements (r11 dialect completion) — the single
    most common construct in real ARG dashboard queries (reference
    KQL surface: plugins/azure-provider/resource_graph.go): a scalar
    literal let substitutes lexically, a tabular let compiles to a
    named lazy DataFrame reused by later statements (no
    materialization, matching Kusto's default). The compiled plan is
    identical to the inlined pipeline — Catalyst sees one tree, so
    predicate pushdown crosses the binding untouched."""
    return kql_to_df(
        """
        let cutoff = 10.0;
        let Clicks = events | where event_type == 'click';
        Clicks
        | where value >= cutoff
        | extend grp = user_id % 5
        | summarize n = count(), sv = round(sum(value), 2) by grp
        | order by grp asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_search",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE lower(event_type) LIKE '%pur%'
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def kql_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`search 'term'` (r11 dialect completion) — Kusto's cross-column
    grep: one OR-of-contains predicate over every column's string
    rendering, case-insensitive by default; pure codegen, scan-side.
    The term 'pur' can only occur in the event_type column of this
    table (every other column renders as digits/timestamps), which the
    oracle mirrors with a single LIKE."""
    return kql_to_df(
        """
        events
        | search 'pur'
        | summarize n = count() by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_toscalar",
    oracle="""
    WITH m AS (SELECT MAX(value) AS mx FROM events)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(e.value), 2) AS mv
    FROM events e CROSS JOIN m
    WHERE e.value >= m.mx * 0.9
    GROUP BY e.event_type
    ORDER BY e.event_type ASC
    """,
)
def kql_toscalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`toscalar(<pipeline>)` in a let binding (r11 dialect
    completion) — Kusto's compile-time scalar extraction, the idiom
    behind every 'filter relative to the corpus max/latest' dashboard
    query. The inner pipeline runs as a driver action at compile time
    (exactly Kusto's semantics — a 1-row aggregate, metadata-cheap at
    any scale) and the value substitutes lexically as a literal, so
    the MAIN pipeline's plan carries a constant — pushable to the
    scan — rather than a join. The oracle expresses the same thing
    relationally with a 1-row CROSS JOIN."""
    return kql_to_df(
        """
        let mx = toscalar(events | summarize max(value));
        events
        | where value >= mx * 0.9
        | summarize n = count(), mv = round(max(value), 2) by event_type
        | order by event_type asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_datetime_dynamics",
    oracle="""
    SELECT CAST(dayofweek(e.ts) AS INT) AS dow,
           '{"d":' || CAST(dayofweek(e.ts) AS VARCHAR) || '}' AS tag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(e.props, '$.k') AS BIGINT))
                AS BIGINT) AS ksum,
           MAX(date_trunc('day', e.ts) + INTERVAL 1 DAY
               - INTERVAL 1 MICROSECOND) AS mx
    FROM events e
    WHERE dayofweek(e.ts) IN (0, 6)
    GROUP BY dow, tag
    ORDER BY dow ASC
    """,
)
def kql_datetime_dynamics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 scalar-function completions on one weekend rollup:
    `dayofweek` (days-since-Sunday count; Kusto's timespan value —
    dialect note), `endofday` (last microsecond of the day),
    `parse_json(...)['k']` (dynamic lift to map + property access,
    getItem in codegen), `bag_pack` (dynamic construction back to the
    JSON-string representation), and `tolong` conversion — all plain
    scan-side expressions; the whole query is one map + one
    aggregation shuffle."""
    return kql_to_df(
        """
        events
        | extend dow = dayofweek(ts),
                 k = tolong(parse_json(props)['k'])
        | where dow in (0, 6)
        | extend tag = bag_pack('d', dow)
        | summarize n = count(), ksum = sum(k),
                    mx = max(endofday(ts)) by dow, tag
        | order by dow asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_time_grid",
    oracle="""
    SELECT g.generate_series AS Day,
           CAST(COALESCE(e.n, 0) AS BIGINT) AS n,
           ROUND(COALESCE(e.sv, 0), 2) AS sv
    FROM generate_series(TIMESTAMP '2023-12-28',
                         TIMESTAMP '2024-02-03',
                         INTERVAL 1 DAY) g
    LEFT JOIN (
        SELECT date_trunc('day', ts) AS Day,
               COUNT(*) AS n, SUM(value) AS sv
        FROM events WHERE event_type = 'purchase'
        GROUP BY Day
    ) e ON g.generate_series = e.Day
    ORDER BY Day ASC
    """,
)
def kql_time_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`range <datetime grid>` left-joined against a daily rollup
    (r11) — THE dashboard time-axis idiom: a gap-free grid whose
    empty days surface as zeros instead of vanishing (a bare groupBy
    emits no row for a day with no purchases; monitoring charts need
    the zero). The grid generates distributed over epoch seconds and
    its join side is a broadcast (37 rows); the oracle mirrors it
    with DuckDB's generate_series. Window edges beyond the data
    (late Dec / early Feb) certify the zero-fill on both engines."""
    return kql_to_df(
        """
        range Day from datetime(2023-12-28) to datetime(2024-02-03)
            step 1d
        | join kind=leftouter (
            events
            | where event_type == 'purchase'
            | extend Day = startofday(ts)
            | summarize cnt = count(), s = sum(value) by Day
          ) on Day
        | extend n = coalesce(cnt, 0), sv = round(coalesce(s, 0.0), 2)
        | project Day, n, sv
        | order by Day asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_externaldata",
    oracle="""
    SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS nations
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name ASC
    """,
)
def kql_externaldata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`externaldata (schema) ['path'] with(format=…)` (r12) — Kusto's
    external-file head compiled to a schema'd ``spark.read`` over
    allow-listed local paths, GOVERNED at raw file weight (no zone
    maps exist for arbitrary files, so the honest scan estimate is
    everything the read opens).

    Self-certifying: the dry-run (``kql_estimate_statement``) must
    price the read at the parquet file's on-disk bytes, a budget one
    byte under must refuse naming the raw-file remedy, and the same
    budget plus headroom must admit — so a green row certifies
    estimate/governor/read agreement on the externaldata surface."""
    import os

    from corkscrew_spark.engine import ScanBudgetExceeded
    from corkscrew_spark.kql import (KqlError, kql_estimate_statement,
                                     kql_to_df_skipping)

    path = os.path.join(sf_dir, "nation.parquet")
    q = f"""
        externaldata (n_nationkey:long, n_name:string,
                      n_regionkey:long)
            ['{path}'] with (format='parquet')
        | join kind=inner (region) on
              $left.n_regionkey == $right.r_regionkey
        | summarize nations = count() by r_name
        | order by r_name asc
        """
    tabs = register_tables(spark, sf_dir)
    est = kql_estimate_statement(q, {}, tables=tabs)
    nbytes = os.path.getsize(path)
    if est["bytes_kept"] != nbytes or est["reads"] != 1:
        raise RuntimeError(
            f"externaldata dry-run priced {est['bytes_kept']} bytes / "
            f"{est['reads']} reads; expected {nbytes} / 1")
    try:
        kql_to_df_skipping(spark, q, {}, tables=tabs,
                           max_scan_bytes=nbytes - 1,
                           externaldata_roots=[sf_dir])
        raise RuntimeError(
            "scan budget under the file size failed to refuse the "
            "externaldata read")
    except ScanBudgetExceeded as ex:
        if "raw file weight" not in str(ex):
            raise RuntimeError(
                f"refusal did not name the raw-file remedy: {ex}")
    if not os.environ.get("CORKSCREW_EXTERNALDATA_ROOTS"):
        # only certifiable when the operator has NOT allow-listed
        # roots environment-wide (then refusal is the correct default)
        try:
            kql_to_df(q, tabs)
            raise RuntimeError(
                "externaldata compiled without an allow-list — the "
                "default must refuse")
        except KqlError:
            pass
    return kql_to_df_skipping(spark, q, {}, tables=tabs,
                              max_scan_bytes=nbytes + 4096,
                              externaldata_roots=[sf_dir])


@query(
    "kql_render_as",
    oracle="""
    WITH big AS (
        SELECT * FROM events WHERE value >= 50
    )
    SELECT a.event_type,
           CAST(a.n AS BIGINT)       AS n,
           ROUND(b.total, 2)         AS total
    FROM (SELECT event_type, COUNT(*) AS n FROM big
          GROUP BY event_type) a
    JOIN (SELECT event_type, SUM(value) AS total FROM big
          GROUP BY event_type) b
      ON a.event_type = b.event_type
    ORDER BY a.event_type ASC
    """,
)
def kql_render_as(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`as Name` + trailing `render` (r12) — the two highest-frequency
    paste-compat constructs in exported ARG/dashboard queries: `as`
    binds the mid-pipeline state for reuse by a later join (compiled
    as the lazy plan itself — Spark's exchange reuse dedups the
    shared subtree), and `render` is a validated display-hint no-op.
    Scale: one filtered scan feeding two aggregations and a
    broadcast-size join on event_type — no driver materialization."""
    return kql_to_df(
        """
        events
        | where value >= 50
        | as Big
        | summarize n = count() by event_type
        | join kind=inner (
              Big | summarize total = round(sum(value), 2)
                      by event_type ) on event_type
        | project event_type, n, total
        | order by event_type asc
        | render barchart with (title = 'Totals by type')
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_partition_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM (SELECT *, row_number() OVER (
              PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
    WHERE rn <= 2
    ORDER BY o_orderpriority ASC, o_orderkey ASC
    """,
)
def kql_partition_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`partition by Col ( top … )` (r12) — the Kusto partition
    operator, VECTORIZED: the contextual subquery has a grouped
    rewrite (per-key row_number window), so the compiled plan is ONE
    scan + one shuffle regardless of the key's cardinality — Kusto's
    shuffle strategy, chosen automatically. The legacy 64-branch
    compilation exists for bodies with no grouped form and is priced
    at its worst-case multiplier by the scan governor's record pass.
    Ties break on o_orderkey, deterministic."""
    return kql_to_df(
        """
        orders
        | partition by o_orderpriority (
              top 2 by o_totalprice desc, o_orderkey asc )
        | order by o_orderpriority asc, o_orderkey asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_partition_legacy",
    oracle="""
    SELECT grp, n, mx
    FROM (SELECT CAST(user_id % 5 AS BIGINT) AS grp,
                 CAST(COUNT(*) AS BIGINT)    AS n,
                 MAX(value)                  AS mx,
                 event_type,
                 row_number() OVER (
                     PARTITION BY event_type
                     ORDER BY COUNT(*) DESC,
                              CAST(user_id % 5 AS BIGINT) ASC) AS rn
          FROM events
          GROUP BY event_type, grp)
    WHERE rn <= 2
    ORDER BY grp ASC, n DESC, mx ASC
    """,
)
def kql_partition_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`partition hint.strategy=legacy by Col ( … )` (r12) — the
    branch compilation: one filtered branch per distinct key (Kusto's
    documented 64-partition legacy cap, loud refusal beyond), body
    compiled per branch, results unioned. The per-partition summarize
    + top here returns each event_type's two busiest user buckets —
    the same multiset the vectorized path produces (equality is
    pinned in tests/test_kql.py); this registration certifies the
    BRANCH path against the oracle. MAX keeps the value aggregate
    summation-order-free."""
    return kql_to_df(
        """
        events
        | partition hint.strategy=legacy by event_type (
              summarize n = count(), mx = max(value) by grp = user_id % 5
              | top 2 by n desc, grp asc )
        | order by grp asc, n desc, mx asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_serialized_funcs",
    oracle="""
    SELECT user_id, event_id, CAST(rn AS INTEGER) AS rn, run, dv
    FROM (SELECT user_id, event_id,
                 row_number() OVER w AS rn,
                 SUM(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS run,
                 value - COALESCE(lag(value) OVER w, 0.0) AS dv
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY event_id ASC))
    WHERE rn <= 3
    ORDER BY user_id ASC, event_id ASC
    """,
)
def kql_serialized_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialized row functions (r12) — `row_number()`, `prev()`,
    `row_cumsum()` in an `extend` after `sort by`, composed INSIDE the
    vectorized `partition` operator: the window partitions by the
    partition key, so the plan is one scan + one hash-partitioned
    window at any user cardinality (Kusto's serialize is sequential;
    the per-key composition is the shape that distributes). The
    sessionization idiom: per-user running total and delta-from-
    previous, first 3 events each."""
    return kql_to_df(
        """
        events
        | partition by user_id ( sort by event_id asc
              | extend rn = row_number(), run = row_cumsum(value),
                       dv = value - prev(value, 1, 0.0)
              | where rn <= 3 )
        | project user_id, event_id, rn, run, dv
        | order by user_id asc, event_id asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_scan_single",
    oracle="""
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY event_id ASC) AS m
    FROM events WHERE value >= 200
    ORDER BY user_id ASC, event_id ASC
    """,
)
def kql_scan_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`scan` (r12) — single-step degenerate case, which is exactly
    `where` + per-key match numbering: the one scan shape with an
    ANSI-SQL form, certifying the whole machinery (parse → boolean
    step columns in codegen → per-key Arrow state machine → match
    ids) against the oracle. Composed inside the vectorized
    `partition` operator, so the Arrow machine groups by user —
    distributed, never one global sequence. No trailing `order by`:
    the driver hash is order-insensitive and a global sort's range-
    sampling pass would run the Python machine a second time (r12)."""
    return kql_to_df(
        """
        events
        | partition by user_id ( sort by event_id asc
              | scan with_match_id = m with ( step big: value >= 200; ) )
        | project user_id, event_id, value, m
        """,
        register_tables(spark, sf_dir),
    )


@query("kql_scan_sessions")  # stateful sequence — no SQL form (rows-only)
def kql_scan_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`scan` (r12) — the real two-step sequence machine per user:
    a low-value event opens a session (greedy repeats extend it), the
    first high-value event completes it; incomplete sequences emit
    their matched prefix, idle high-value events drop. Stateful
    sequential semantics with no ANSI-SQL equivalent — driver records
    the rows-only check; the exact machine is pinned on hand-built
    sequences in tests/test_kql.py::TestKqlScan."""
    return kql_to_df(
        """
        events
        | partition by user_id ( sort by event_id asc
              | scan with_match_id = m with (
                    step low: value < 10;
                    step high: value >= 90; ) )
        | summarize matches = dcount(m), matched_rows = count()
              by user_id
        | order by user_id asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_narrow",
    oracle="""
    WITH base AS (
        SELECT n_nationkey, n_name, n_regionkey,
               row_number() OVER (PARTITION BY n_regionkey
                                  ORDER BY n_nationkey ASC) - 1 AS rn
        FROM nation
    )
    SELECT rn AS "Row", 'n_nationkey' AS "Column",
           CAST(n_nationkey AS VARCHAR) AS "Value" FROM base
    UNION ALL
    SELECT rn, 'n_name', n_name FROM base
    UNION ALL
    SELECT rn, 'n_regionkey', CAST(n_regionkey AS VARCHAR) FROM base
    ORDER BY "Row" ASC, "Column" ASC
    """,
)
def kql_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`evaluate narrow()` (r12) — Kusto's transpose plugin: one
    output row per (input row, column) as Row/Column/Value, Row
    numbered by the in-force serialization (this dialect requires a
    preceding `sort by` so Row is deterministic; Kusto leaves it
    unspecified on unsorted input). Registered in the PARTITIONED
    composition — Row numbers per region through the hidden-key
    window — because a bare global narrow() is a single-partition
    window (the plan audit rightly flags that shape over unbounded
    input; it remains available for small/limited frames). The
    transpose itself is one JVM-side struct-array explode."""
    return kql_to_df(
        """
        nation
        | project n_nationkey, n_name, n_regionkey
        | partition by n_regionkey ( sort by n_nationkey asc
              | evaluate narrow() )
        | order by Row asc, Column asc
        """,
        register_tables(spark, sf_dir),
    )


@query(
    "kql_scalar_widening",
    oracle=r"""
    SELECT o_orderkey,
           sqrt(o_totalprice)                             AS sq,
           least(o_totalprice, 100000.0)                  AS mn,
           greatest(o_totalprice, 100000.0)               AS mx,
           CAST(CASE WHEN o_totalprice - 100000.0 < 0 THEN -1.0
                     WHEN o_totalprice - 100000.0 > 0 THEN 1.0
                     ELSE 0.0 END AS DOUBLE)              AS sg,
           CAST(CASE WHEN o_orderstatus < 'O' THEN -1
                     WHEN o_orderstatus > 'O' THEN 1
                     ELSE 0 END AS INTEGER)               AS sc,
           regexp_replace(o_orderpriority, '^\d-', '')    AS pr,
           CAST(length(o_orderpriority)
                - length(replace(o_orderpriority, '-', ''))
                AS INTEGER)                               AS co,
           md5(o_orderstatus)                             AS m5,
           to_base64(CAST(o_orderstatus AS BLOB))         AS b64,
           CAST(dayofyear(o_orderdate) AS INTEGER)        AS doy,
           CAST(o_orderdate AS TIMESTAMP)
               + INTERVAL 2 DAY                           AS da,
           CAST(167772160 + o_orderkey % 200 AS BIGINT)   AS ipv,
           CAST(list_position(string_split(o_orderpriority, '-'),
                              'URGENT') AS INTEGER) - 1   AS ai
    FROM orders
    WHERE o_orderkey <= 2000
    ORDER BY o_orderkey ASC
    """,
)
def kql_scalar_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 scalar-function widening, oracle-certified in one pass:
    sqrt/min_of/max_of/sign/strcmp/replace_regex/countof/hash_md5/
    base64_encode_tostring/dayofyear/datetime_add/parse_ipv4/
    array_index_of — each a one-to-one JVM builtin mapping
    (transcendentals exp/log/pow are implemented but deliberately NOT
    oracled: libm implementations differ in the last ulp across
    engines, the documented float-determinism rule)."""
    return kql_to_df(
        """
        orders
        | where o_orderkey <= 2000
        | extend sq = sqrt(o_totalprice),
                 mn = min_of(o_totalprice, 100000.0),
                 mx = max_of(o_totalprice, 100000.0),
                 sg = sign(o_totalprice - 100000.0),
                 sc = strcmp(o_orderstatus, 'O'),
                 pr = replace_regex(o_orderpriority, @'^\\d-', ''),
                 co = countof(o_orderpriority, '-'),
                 m5 = hash_md5(o_orderstatus),
                 b64 = base64_encode_tostring(o_orderstatus),
                 doy = dayofyear(o_orderdate),
                 da = datetime_add('day', 2, todatetime(o_orderdate)),
                 ipv = parse_ipv4(strcat('10.0.0.',
                                         tostring(o_orderkey % 200))),
                 ai = array_index_of(split(o_orderpriority, '-'),
                                     'URGENT')
        | project o_orderkey, sq, mn, mx, sg, sc, pr, co, m5, b64,
                  doy, da, ipv, ai
        | order by o_orderkey asc
        """,
        register_tables(spark, sf_dir),
    )
