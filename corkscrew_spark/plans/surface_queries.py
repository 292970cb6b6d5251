"""Second wave of operator-surface queries (SURVEY.md §2 coverage).

KQL summarize / mv-expand (§2.8), array lambdas F4, levenshtein F6,
offset pagination O2, the dynamic change-query builder C1 through the
real operator, MERGE-upsert semantics K1-K3 as union+row_number, the
rule-matcher correlation join J5, and the multimodal mapInPandas
plumbing (rows-only).

Determinism rules as in plans/queries.py: alias everything identically on
both sides, round floats, date-only timestamps, unique tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from corkscrew_spark import changes
from corkscrew_spark.operators.paging import limit_offset
from corkscrew_spark.plans.queries import query, _t


@query(
    "kql_summarize",
    oracle="""
    SELECT event_type,
           COUNT(*) AS resource_count,
           MIN(props) AS sample_props,
           array_to_string(list_sort(list(DISTINCT strftime(date_trunc('month', ts),
               '%Y-%m'))), ',') AS months
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def kql_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KQL ``summarize ResourceCount=count(), SampleProperties=any(props),
    Locations=make_set(...) by type`` (resource_graph.go:83-110).

    make_set → sort_array(collect_set()) rendered as a joined string so
    both engines hash identically; any() → min() for a deterministic
    sample (KQL's any() is arbitrary — min is a valid choice of it).
    """
    ev = _t(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("resource_count"),
            F.min("props").alias("sample_props"),
            F.array_join(
                F.sort_array(
                    F.collect_set(F.date_format(F.date_trunc("month", "ts"), "yyyy-MM"))
                ),
                ",",
            ).alias("months"),
        )
    )


@query(
    "mv_expand_tokens",
    oracle="""
    SELECT tok, COUNT(*) AS cnt
    FROM part, UNNEST(string_split(p_name, ' ')) AS u(tok)
    GROUP BY tok
    ORDER BY cnt DESC, tok
    """,
)
def mv_expand_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KQL ``mv-expand`` / DuckDB ``unnest(split(...))`` → explode
    (resource_graph.go:136; untrusted_kms_keys.sql:4-6)."""
    p = _t(spark, sf_dir)["part"]
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "array_lambda_stats",
    oracle="""
    WITH arrs AS (
        SELECT l_orderkey, list(l_quantity) AS arr FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(arr) AS n_items,
           len(list_filter(arr, x -> x > 25)) AS n_high,
           ROUND(list_aggregate(arr, 'sum'), 2) AS total_qty
    FROM arrs ORDER BY l_orderkey
    """,
)
def array_lambda_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array lambda functions F4 (array_filter / list aggregation,
    untrusted_kms_keys.sql:4-6, json_helpers.go:82): per-order quantity
    arrays filtered and folded with higher-order functions."""
    li = _t(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_orderkey")
        .agg(F.collect_list("l_quantity").alias("arr"))
        .select(
            "l_orderkey",
            F.size("arr").alias("n_items"),
            F.size(F.filter("arr", lambda x: x > 25)).alias("n_high"),
            F.round(F.aggregate("arr", F.lit(0.0), lambda a, x: a + x), 2).alias(
                "total_qty"
            ),
        )
    )


@query(
    "levenshtein_suggest",
    oracle="""
    SELECT p_name, CAST(levenshtein(p_name, 'red widgets') AS INT) AS distance
    FROM (SELECT DISTINCT p_name FROM part)
    ORDER BY distance, p_name
    LIMIT 10
    """,
)
def levenshtein_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Did you mean' suggestion ranking by Levenshtein distance
    (cmd/corkscrew/main.go:1299-1371) — top-10 closest names, total
    deterministic order via (distance, name)."""
    p = _t(spark, sf_dir)["part"]
    return (
        p.select("p_name")
        .distinct()
        .select("p_name", F.levenshtein("p_name", F.lit("red widgets")).alias("distance"))
        .orderBy("distance", "p_name")
        .limit(10)
    )


@query(
    "paginate_offset",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def paginate_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination O2 (change_storage.go:558-566) — Spark has
    no OFFSET in the DataFrame API; `limit_offset` caps the input with
    TakeOrderedAndProject (distributed top-(offset+limit)) before the
    row_number slice, so no unbounded single-task sort. The sort has a
    unique tie-break so pages are stable."""
    o = _t(spark, sf_dir)["orders"]
    page = limit_offset(
        o, [F.desc("o_orderdate"), F.asc("o_orderkey")], limit=50, offset=100
    )
    return page.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "o_totalprice",
    )


@query(
    "change_query_builder",
    oracle="""
    WITH ce AS (
        SELECT 'ce-' || CAST(event_id AS VARCHAR) AS id,
               CAST(user_id AS VARCHAR) AS resource_id,
               CASE event_type WHEN 'error' THEN 'POLICY_CHANGE'
                    WHEN 'signup' THEN 'CREATE' ELSE 'UPDATE' END AS change_type,
               CASE WHEN value > 20 THEN 'HIGH'
                    WHEN value > 10 THEN 'MEDIUM' ELSE 'LOW' END AS severity,
               ts
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05' AND ts <= TIMESTAMP '2024-01-25'
    ), filtered AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY ts DESC, id) AS rn
        FROM ce WHERE change_type IN ('CREATE', 'POLICY_CHANGE')
    )
    SELECT id, resource_id, change_type, severity,
           CAST(date_trunc('day', ts) AS DATE) AS event_date
    FROM filtered WHERE rn > 50 AND rn <= 250
    ORDER BY id
    """,
)
def change_query_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 QueryChanges end-to-end through the real operator
    (change_storage.go:485-568): events mapped to the change-event shape,
    then time-range + IN-list filters, validated sort, and offset
    pagination via changes.query_changes. The events scan goes through
    load_table_between so the time bounds push into parquet row-group
    pruning (query_changes re-applies them on the converted column —
    harmless, already satisfied)."""
    from corkscrew_spark.catalog import load_table_between

    ev = load_table_between(
        spark, sf_dir, "events", "ts", start="2024-01-05", end="2024-01-25"
    )
    ce = ev.select(
        F.concat(F.lit("ce-"), F.col("event_id").cast("string")).alias("id"),
        F.lit("aws").alias("provider"),
        F.col("user_id").cast("string").alias("resource_id"),
        F.when(F.col("event_type") == "error", "POLICY_CHANGE")
        .when(F.col("event_type") == "signup", "CREATE")
        .otherwise("UPDATE")
        .alias("change_type"),
        F.when(F.col("value") > 20, "HIGH")
        .when(F.col("value") > 10, "MEDIUM")
        .otherwise("LOW")
        .alias("severity"),
        F.col("ts").alias("timestamp"),
    )
    page = changes.query_changes(
        ce,
        provider="aws",
        start="2024-01-05",
        end="2024-01-25",
        change_types=["CREATE", "POLICY_CHANGE"],
        sort_by="timestamp",
        descending=True,
        limit=200,
        offset=50,
    )
    return page.select(
        "id",
        "resource_id",
        "change_type",
        "severity",
        F.date_trunc("day", "timestamp").cast("date").alias("event_date"),
    )


@query(
    "upsert_latest",
    oracle="""
    SELECT user_id, event_type AS last_type,
           CAST(date_trunc('day', ts) AS DATE) AS last_date
    FROM (
        SELECT user_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    ORDER BY user_id
    """,
)
def upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics K1-K3 (graph_loader.go:155-253) without a
    transactional table format: base snapshot (pre-cutoff latest state per
    key) unioned with the update stream, then row_number dedup keeping the
    newest row per key — the overwrite-by-key pattern the reference's
    ``ON CONFLICT DO UPDATE`` maps to on plain parquet."""
    ev = _t(spark, sf_dir)["events"]
    cols = ["user_id", "event_type", "ts", "event_id"]
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    base = (
        ev.filter(F.col("ts") < F.lit("2024-01-15"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*cols)
    )
    updates = ev.filter(F.col("ts") >= F.lit("2024-01-15")).select(*cols)
    merged = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return merged.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.date_trunc("day", "ts").cast("date").alias("last_date"),
    )


@query(
    "correlation_rules",
    oracle="""
    SELECT c.c_custkey, s.s_suppkey,
           ROUND(1 - ABS(c.c_acctbal - s.s_acctbal) / 50.0, 4) AS strength,
           0.9 AS confidence
    FROM customer c
    JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND ABS(c.c_acctbal - s.s_acctbal) < 50.0
    ORDER BY c_custkey, s_suppkey
    """,
)
def correlation_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 rule-matcher correlation (correlation_engine.go:154-220): the
    reference's arbitrary Go predicate over source×target becomes a join
    condition — equi part (same nation) drives the hash join, the theta
    part (balance proximity) filters, strength/confidence are scored
    columns (models.go:48-73). The supplier side is broadcast (small dim)
    so the customer fact never shuffles."""
    t = _t(spark, sf_dir)
    c, s = t["customer"], t["supplier"]
    diff = F.abs(F.col("c_acctbal") - F.col("s_acctbal"))
    return (
        c.join(
            F.broadcast(s),
            (F.col("c_nationkey") == F.col("s_nationkey")) & (diff < 50.0),
        )
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(1 - diff / 50.0, 4).alias("strength"),
            F.lit(0.9).alias("confidence"),
        )
    )


# --- rows-only: mapInPandas plumbing has no SQL equivalent -----------------

@query("multimodal_features")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extraction plumbing: binary media column →
    Arrow-batched mapInPandas feature extraction (deterministic fake
    decoder — no codec libs in this environment) → per-kind rollup.
    Rows-only at the driver; tests/test_multimodal.py checks values."""
    from corkscrew_spark.operators import multimodal

    media = multimodal.synth_media(spark, 64)
    feats = multimodal.extract_features(media, dim=8, shards=4)
    return (
        feats.groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.min(F.size("feature")).alias("dim"),
            F.round(F.sum(F.element_at("feature", 1)), 3).alias("sum_f0"),
        )
    )


@query("multimodal_ppm_decode")
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end with no codec wheel: distributed
    P6 PPM synthesis (header + sha2 raster, pure JVM expressions) →
    PPMImageDecoder bound through the set_decoder seam → Arrow
    mapInPandas pixel decode + mean-pool features → per-kind rollup.
    Image rows decode actual raster bytes (decoder column 'ppm');
    audio/video fall back to the hash fake inside the same pass —
    the mixed-corpus behavior a 100 TB media table needs. Rows-only:
    the pixel math is verified against a driver-side reference decode
    in tests/test_multimodal.py. The decoder binds only while the
    PLAN is built (the closure captures it); global state is restored
    before returning."""
    from corkscrew_spark.operators import multimodal

    media = multimodal.synth_ppm_media(spark, 66, width=8, height=8)
    prev, probed = multimodal._DECODER, multimodal._PIL_PROBED
    multimodal.set_decoder(multimodal.PPMImageDecoder())
    try:
        feats = multimodal.extract_features(media, dim=9, shards=4)
    finally:
        multimodal._DECODER, multimodal._PIL_PROBED = prev, probed
    return (
        feats.groupBy("kind", "decoder")
        .agg(
            F.count("*").alias("n_media"),
            F.min(F.size("feature")).alias("dim"),
            F.round(F.sum(F.element_at("feature", 1)), 3).alias("sum_f0"),
        )
    )


@query("multimodal_wav_decode")
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end with no codec wheel (round-10
    stretch #8 — the seam is format-generic): distributed RIFF/WAVE
    PCM synthesis (constant 44-byte header + sha2 sample bytes, pure
    JVM expressions) → WavAudioDecoder bound through the SAME
    set_decoder seam the image decoders use → Arrow mapInPandas
    sample decode + windowed RMS/zero-crossing features → per-kind
    rollup. Audio rows decode actual PCM (decoder column 'wav');
    image/video fall back to the hash fake inside the same pass.
    Rows-only: the sample math is verified against a stdlib-`wave`
    reference decode in tests/test_multimodal.py. The decoder binds
    only while the PLAN is built (the closure captures it); global
    state is restored before returning."""
    from corkscrew_spark.operators import multimodal

    media = multimodal.synth_wav_media(spark, 66, ms=80)
    prev, probed = multimodal._DECODER, multimodal._PIL_PROBED
    multimodal.set_decoder(multimodal.WavAudioDecoder())
    try:
        feats = multimodal.extract_features(media, dim=8, shards=4)
    finally:
        multimodal._DECODER, multimodal._PIL_PROBED = prev, probed
    return (
        feats.groupBy("kind", "decoder")
        .agg(
            F.count("*").alias("n_media"),
            F.min(F.size("feature")).alias("dim"),
            F.round(F.sum(F.element_at("feature", 1)), 3).alias("sum_f0"),
        )
    )


@query(
    "fuzzy_match_parts",
    oracle="""
    WITH probes AS (
        SELECT p_partkey AS probe_id,
               substr(p_name, 1, 2) || substr(p_name, 4) AS probe_name
        FROM part WHERE p_partkey % 37 = 0
    )
    SELECT pr.probe_id, pa.p_partkey,
           CAST(levenshtein(pr.probe_name, pa.p_name) AS BIGINT) AS distance
    FROM probes pr, part pa
    WHERE levenshtein(pr.probe_name, pa.p_name) <= 2
    ORDER BY probe_id, p_partkey
    """,
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance join (operators/fuzzy.fuzzy_join): part names with a
    deleted character resolve back to the catalog within distance 2 via
    Ed-Join prefix filtering — rare-gram probes against a full gram
    postings index, length filter, exact levenshtein verify. The oracle
    brute-forces the cross join; the Spark side must produce the
    identical pair set from blocked candidates only."""
    from corkscrew_spark.operators.fuzzy import fuzzy_join

    part = _t(spark, sf_dir)["part"]
    probes = part.filter(F.col("p_partkey") % 37 == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.concat(
            F.substring("p_name", 1, 2),
            F.col("p_name").substr(F.lit(4), F.length("p_name")),
        ).alias("probe_name"),
    )
    return (
        fuzzy_join(probes, part.select("p_partkey", "p_name"),
                   "probe_id", "probe_name", "p_partkey", "p_name",
                   # q=3: part names draw on a tiny color-word vocabulary,
                   # so bigrams are all common; trigram postings are ~2x
                   # more selective here (13s -> 5.6s at sf0.1)
                   max_dist=2, q=3)
    )


@query(
    "resolve_entities",
    oracle="""
    WITH RECURSIVE recs AS (
        SELECT p_partkey AS rec_id, p_name AS name FROM part
        WHERE p_partkey % 10 = 0
        UNION ALL
        SELECT p_partkey + 10000000,
               substr(p_name, 1, 2) || substr(p_name, 4)
        FROM part WHERE p_partkey % 70 = 0
    ),
    pairs AS (
        SELECT a.rec_id AS ra, b.rec_id AS rb
        FROM recs a JOIN recs b ON a.rec_id < b.rec_id
        WHERE levenshtein(a.name, b.name) <= 1
    ),
    edges AS (SELECT ra AS a, rb AS b FROM pairs
              UNION SELECT rb, ra FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    lbl AS (SELECT node, MIN(lab) AS entity FROM reach GROUP BY node),
    resolved AS (
        SELECT r.rec_id, COALESCE(l.entity, r.rec_id) AS entity_id
        FROM recs r LEFT JOIN lbl l ON l.node = r.rec_id
    )
    SELECT rec_id, entity_id,
           rec_id = entity_id AS is_canonical,
           CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_records
    FROM resolved
    ORDER BY rec_id
    """,
)
def resolve_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution as ONE declarative pipeline: a dirty
    registry (a tenth of the part catalog; every 70th part re-registered
    with a typo'd name and a new
    record id) → blocked fuzzy self-join (Ed-Join prefix filtering, no
    all-pairs scan) → connected components (min-label propagation) →
    survivorship (canonical record = min id per entity). The oracle
    brute-forces the cross join and recomputes components with a
    recursive CTE — the Spark side must reach the identical entity
    assignment from blocked candidates only. Per-entity counts come
    from an aggregate over the matched-label frame joined back onto the
    records — every component member is by construction a record, so
    count-per-cluster on labels equals the per-entity window count
    without a window over the full record set (guide §2.3: aggregate
    the proxy, not the payload; unmatched records are singleton
    entities, count 1). The size frame has one row per cluster, so it
    grows with the data: AQE picks the join strategy, not a hint."""
    from corkscrew_spark.operators.dedup import dup_clusters
    from corkscrew_spark.operators.fuzzy import fuzzy_self_join

    part = _t(spark, sf_dir)["part"]
    base = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.col("p_partkey").alias("rec_id"), F.col("p_name").alias("name"))
    typos = part.filter(F.col("p_partkey") % 70 == 0).select(
        (F.col("p_partkey") + 10_000_000).alias("rec_id"),
        F.concat(
            F.substring("p_name", 1, 2),
            F.col("p_name").substr(F.lit(4), F.length("p_name")),
        ).alias("name"),
    )
    records = base.unionByName(typos).localCheckpoint(eager=True)
    # Symmetric blocked self-join: one gram index instead of two
    # (fuzzy_self_join — identical pair set to fuzzy_join(records,
    # records), asserted in tests/test_fuzzy.py).
    pairs = (
        fuzzy_self_join(records, "rec_id", "name", max_dist=1, q=3)
        .filter(F.col("rec_id_a") < F.col("rec_id_b"))
        .select(F.col("rec_id_a").alias("doc_a"),
                F.col("rec_id_b").alias("doc_b"))
    )
    labels = dup_clusters(pairs)
    ent = labels.select(F.col("doc_id").alias("rec_id"),
                        F.col("cluster_id").alias("entity_id"))
    # Component sizes from the label frame (cluster minima are
    # themselves members, so a singleton record's id never collides
    # with a cluster_id — coalesce(…, 1) is exact).
    sizes = (
        labels.groupBy(F.col("cluster_id").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        records.join(ent, "rec_id", "left")
        .select("rec_id",
                F.coalesce("entity_id", F.col("rec_id")).alias("entity_id"))
        .join(sizes, "entity_id", "left")
        .select(
            "rec_id", "entity_id",
            (F.col("rec_id") == F.col("entity_id")).alias("is_canonical"),
            F.coalesce("__n", F.lit(1)).cast("long").alias("n_records"),
        )
    )
