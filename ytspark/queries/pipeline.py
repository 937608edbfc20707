"""Driver-testdata analogues of the reference pipeline operators
(FIXTURES.md §4 mapping): cast+union mart ↦ customer slices; the
append/snapshot time-series analytics ↦ the ``events`` stream table.

These are the `queries()` faces of SURVEY §2 T8–T13 and of
``ytspark.analytics`` — same code paths, oracle-checkable data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ytspark.facts import union_all
from ytspark.operators.text import knuth_hash_sql
from ytspark.plans.scale import finish
from ytspark.queries import register
from ytspark.session import load_tables


@register(
    "mart_union_cast",
    oracle="""
SELECT * FROM (
  SELECT CAST(c_custkey AS BIGINT) AS entity_key,
         CAST(c_name AS VARCHAR) AS entity_name,
         CAST(c_acctbal AS DOUBLE) AS acctbal,
         'BUILDING' AS channel
  FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT CAST(c_custkey AS BIGINT), CAST(c_name AS VARCHAR),
         CAST(c_acctbal AS DOUBLE), 'MACHINERY'
  FROM customer WHERE c_mktsegment = 'MACHINERY'
  UNION ALL
  SELECT CAST(c_custkey AS BIGINT), CAST(c_name AS VARCHAR),
         CAST(c_acctbal AS DOUBLE), 'AUTOMOBILE'
  FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
)
""",
    doc="T9+T11 mart shape on testdata: per-slice typed cast projections "
        "stacked with UNION ALL (reference YT_Facts_stg.sql:3-12,103-115).",
    tags=("union", "cast", "pipeline"),
)
def mart_union_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]

    def slice_(segment: str) -> DataFrame:
        return cust.where(F.col("c_mktsegment") == segment).select(
            F.col("c_custkey").cast("bigint").alias("entity_key"),
            F.col("c_name").cast("string").alias("entity_name"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.lit(segment).alias("channel"),
        )

    return union_all([slice_("BUILDING"), slice_("MACHINERY"), slice_("AUTOMOBILE")])


@register(
    "incremental_append_union",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM (
  SELECT * FROM events WHERE ts <  TIMESTAMP '2024-01-15 00:00:00'
  UNION ALL
  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
)
GROUP BY event_type
""",
    doc="T8 incremental append: history ∪ delta (bag union, duplicates "
        "preserved) then aggregate — the engine's O(delta) append model.",
    tags=("union", "pipeline", "aggregate"),
)
def incremental_append_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    history = ev.where(F.col("ts") < cut)
    delta = ev.where(F.col("ts") >= cut)
    return (
        history.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


@register(
    "events_latest_snapshot",
    oracle="""
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="Latest snapshot per entity (ytspark.analytics.latest_snapshot on "
        "the events analogue of the channel-snapshot table).",
    tags=("window", "pipeline"),
)
def events_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.analytics import latest_snapshot

    ev = load_tables(spark, sf_dir, "events")["events"]
    return latest_snapshot(ev, "user_id", ts="ts", tiebreak=("event_id",)).select(
        "user_id", "event_id", "event_type", "ts"
    )


@register(
    "events_value_growth",
    oracle="""
SELECT event_id, user_id, value,
       value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS value_delta
FROM events
""",
    doc="Per-entity snapshot delta via LAG (analytics.growth) — the "
        "'views gained per tick' query over the snapshot model.",
    tags=("window", "pipeline"),
)
def events_value_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.analytics import growth

    ev = load_tables(spark, sf_dir, "events")["events"]
    return growth(ev, "user_id", "value", ts="ts", tiebreak=("event_id",)).select(
        "event_id", "user_id", "value", "value_delta"
    )


@register(
    "events_json_props",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS total_k,
       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
    doc="Semi-structured extraction: JSON props column parsed JVM-side "
        "(get_json_object; from_json is the typed alternative) then "
        "aggregated — the flatten-at-the-edge regime of SURVEY §1.3 "
        "applied to a JSON payload column.",
    tags=("json", "semi-structured", "aggregate"),
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("total_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "events_hourly_rollup",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY DATE_TRUNC('hour', ts), event_type
""",
    doc="Tumbling calendar rollup (analytics.period_rollup): the O2 "
        "micro-batch cadence materialized as an hourly aggregate.",
    tags=("aggregate", "time", "pipeline"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


@register(
    "events_sessionization",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM gaps GROUP BY user_id
""",
    doc="Sessionization (30-min inactivity gap): lag + cumulative flag — "
        "the batch equivalent of a session window. Gap compare is "
        "unix_micros (fractional-second safe): the original "
        "cast('long') truncated each timestamp to whole seconds, so a "
        "gap of 1800.04 s read as 1800 and merged two sessions the "
        "oracle's INTERVAL compare split — invisible on uniform data, "
        "caught by the round-11 zipf-skew sweep when a hot user's "
        "9,500 events finally produced a boundary-straddling gap.",
    tags=("window", "sessionize", "pipeline"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(prev_ts)
            > 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_daily_retention",
    oracle="""
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
)
SELECT STRFTIME(a.d, '%Y-%m-%d') AS day,
       COUNT(*) AS active_users,
       CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS retained_next_day
FROM daily a
LEFT JOIN daily b
  ON a.user_id = b.user_id AND b.d = a.d + INTERVAL 1 DAY
GROUP BY a.d
""",
    doc="Next-day retention: distinct (day, user) activity self-joined "
        "one day forward — the cohort-retention shape every product "
        "analytics stack runs over the snapshot model. The self-join "
        "keys on (user, day), so it shuffles the deduplicated activity "
        "table (|users x active days|), never raw events.",
    tags=("join", "retention", "pipeline", "aggregate"),
)
def events_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    daily = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    nxt = daily.select(
        F.col("d").alias("nd"), F.col("user_id").alias("n_user")
    )
    return (
        daily.join(
            nxt,
            (F.col("user_id") == F.col("n_user"))
            & (F.col("nd") == F.date_add(F.col("d"), 1)),
            "left",
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(F.when(F.col("n_user").isNotNull(), 1).otherwise(0)).alias(
                "retained_next_day"
            ),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "active_users",
            "retained_next_day",
        )
    )


@register(
    "events_daily_from_hourly_rollup",
    oracle="""
SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="Continuous-aggregate (hypertable rollup) pattern: the DAILY "
        "rollup is computed FROM the hourly pre-aggregate (re-aggregate "
        "counts and exact decimal sums), while the oracle aggregates "
        "raw events directly — the hash match proves two-level rollup "
        "reuse is lossless. At 100 TB this is the materialized-rollup "
        "cascade (raw -> hourly -> daily) where each level reads the "
        "previous, |hours| rows instead of |events|.",
    tags=("aggregate", "time", "rollup-reuse", "pipeline"),
)
def events_daily_from_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("dec_value"),
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", F.col("hour")), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("dec_value").cast("double").alias("total_value"),
        )
    )


@register(
    "data_quality_report",
    oracle="""
SELECT 'not_null:o_custkey' AS target,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM orders
UNION ALL
SELECT 'accepted_values:o_orderstatus',
       CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('F', 'O', 'P')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique:o_orderkey', CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'relationships:o_custkey->c_custkey', CAST(COUNT(*) AS BIGINT)
FROM orders o
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
""",
    doc="The data-quality suite (ytspark.checks — the dbt-tests layer "
        "the reference declares but leaves empty) as an oracle-checked "
        "report: not_null, accepted_values, unique, and referential "
        "integrity over the orders table, each check one aggregate "
        "(violation counts, never violation rows).",
    tags=("quality", "checks", "pipeline"),
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark import checks

    t = load_tables(spark, sf_dir, "orders", "customer")
    results = checks.run_checks(
        t["orders"],
        {
            "not_null": ["o_custkey"],
            "unique": [["o_orderkey"]],
            "accepted_values": {"o_orderstatus": ["F", "O", "P"]},
        },
    )
    rel = checks.relationships(t["orders"], "o_custkey", t["customer"], "c_custkey")
    rows = [
        (f"{r.check}:{r.column}", r.n_violations) for r in results
    ] + [(f"relationships:{rel.column}", rel.n_violations)]
    return spark.createDataFrame(rows, "target string, n_violations bigint")


@register(
    "model_dag_mart",
    oracle="""
SELECT * FROM (
  SELECT CAST(c_custkey AS BIGINT) AS entity_key,
         CAST(c_acctbal AS DOUBLE) AS acctbal,
         'BUILDING' AS channel
  FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT CAST(c_custkey AS BIGINT), CAST(c_acctbal AS DOUBLE), 'MACHINERY'
  FROM customer WHERE c_mktsegment = 'MACHINERY'
)
""",
    doc="O4 through the driver gate: the SQL model-DAG runner "
        "(ytspark.models — dbt's ref()-ordered execution) builds two "
        "staging views over the customer table and a union mart model; "
        "the returned mart hash-matches the flat SQL. View "
        "materializations only, so the gate run leaves no catalog "
        "residue; Catalyst inlines the view chain into one scan plan.",
    tags=("pipeline", "models", "union", "cast"),
)
def model_dag_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.models import Model, run_models

    load_tables(spark, sf_dir, "customer")["customer"].createOrReplaceTempView(
        "__mdl_customer"
    )
    cast_cols = (
        "CAST(c_custkey AS BIGINT) AS entity_key, "
        "CAST(c_acctbal AS DOUBLE) AS acctbal"
    )
    models = [
        Model(
            "mdl_stg_building",
            "SELECT * FROM {{ source('td', '__mdl_customer') }} "
            "WHERE c_mktsegment = 'BUILDING'",
        ),
        Model(
            "mdl_stg_machinery",
            "SELECT * FROM {{ source('td', '__mdl_customer') }} "
            "WHERE c_mktsegment = 'MACHINERY'",
        ),
        Model(
            "mdl_mart",
            f"SELECT {cast_cols}, 'BUILDING' AS channel "
            "FROM {{ ref('mdl_stg_building') }} "
            f"UNION ALL SELECT {cast_cols}, 'MACHINERY' "
            "FROM {{ ref('mdl_stg_machinery') }}",
        ),
    ]
    return run_models(spark, models)["mdl_mart"]


@register(
    "events_props_map_explode",
    oracle="""
SELECT k AS prop_key, COUNT(*) AS n_events,
       CAST(SUM(CAST(props->>k AS BIGINT)) AS BIGINT) AS total_value,
       CAST(MIN(CAST(props->>k AS BIGINT)) AS BIGINT) AS min_value
FROM (SELECT props, UNNEST(JSON_KEYS(props)) AS k FROM events)
GROUP BY k
""",
    doc="MapType surface: the JSON props column parsed to "
        "map<string,bigint> (from_json), exploded to (key, value) rows "
        "(the generic schema-free path for payloads whose key set "
        "drifts — contrast events_json_props, which extracts one known "
        "path), then per-key accounting.",
    tags=("json", "map", "semi-structured", "aggregate"),
)
def events_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, MapType, StringType

    ev = load_tables(spark, sf_dir, "events")["events"]
    kv = ev.select(
        F.explode(
            F.from_json(F.col("props"), MapType(StringType(), LongType()))
        ).alias("prop_key", "v")
    )
    return kv.groupBy("prop_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("total_value"),
        F.min("v").alias("min_value"),
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events
  GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS stage_view,
       CAST(SUM(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
       CAST(SUM(CASE WHEN first_view IS NOT NULL AND first_click > first_view
                 AND first_purchase > first_click
                THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
FROM per_user
""",
    doc="Ordered funnel (view -> click -> purchase): each stage counts "
        "users whose FIRST occurrence of the stage event strictly "
        "follows the previous stage's first occurrence — conditional "
        "min-timestamps per user (one aggregate pass over events, "
        "map-side partials) then one tiny global rollup. No joins, no "
        "window, no per-event state: the standard one-pass funnel that "
        "scales linearly with the event log.",
    tags=("funnel", "sequence", "aggregate", "pipeline"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("first_view"),
        first_ts("click").alias("first_click"),
        first_ts("purchase").alias("first_purchase"),
    )
    reached_view = F.col("first_view").isNotNull()
    reached_click = reached_view & (F.col("first_click") > F.col("first_view"))
    reached_purchase = reached_click & (
        F.col("first_purchase") > F.col("first_click")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(reached_view, 1).otherwise(0)).alias("stage_view"),
        F.sum(F.when(reached_click, 1).otherwise(0)).alias("stage_click"),
        F.sum(F.when(reached_purchase, 1).otherwise(0)).alias("stage_purchase"),
    )


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    doc="First-order behavior transition matrix: consecutive event-type "
        "pairs per user (lag over the per-user ordered window, unique "
        "event_id tiebreak) counted into the Markov transition table — "
        "one window shuffle on user_id + one small aggregate.",
    tags=("sequence", "window", "aggregate", "pipeline"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@register(
    "peak_hour_per_event_type",
    oracle="""
WITH hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       ARG_MAX(hour, n * 10000000000 + EPOCH(hour)) AS peak_hour,
       MAX(n) AS peak_events
FROM hourly
GROUP BY event_type
""",
    doc="Greatest-n-per-group via selector aggregates: the busiest hour "
        "per event type from the hourly rollup, ties broken by the "
        "later hour. The selector key is (count, hour) packed into one "
        "bigint — DuckDB's arg_max takes no composite ordering key, so "
        "both engines order by count*1e10 + epoch(hour); no window, no "
        "self-join, one extra tiny aggregate over the rollup.",
    tags=("aggregate", "selector", "argmax", "pipeline"),
)
def peak_hour_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    packed = F.col("n") * F.lit(10_000_000_000) + F.unix_timestamp("hour")
    return hourly.groupBy("event_type").agg(
        F.max_by("hour", packed).alias("peak_hour"),
        F.max("n").alias("peak_events"),
    )


@register(
    "cohort_retention_matrix",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk FROM events
),
cohorts AS (
  SELECT user_id, MIN(wk) AS cohort_wk FROM activity GROUP BY user_id
),
sizes AS (
  SELECT cohort_wk, COUNT(*) AS cohort_users FROM cohorts GROUP BY cohort_wk
)
SELECT STRFTIME(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
       CAST(DATEDIFF('week', c.cohort_wk, a.wk) AS BIGINT) AS age_weeks,
       COUNT(*) AS active_users,
       ANY_VALUE(s.cohort_users) AS cohort_users,
       ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(s.cohort_users), 6)
         AS retention
FROM activity a
JOIN cohorts c USING (user_id)
JOIN sizes s ON s.cohort_wk = c.cohort_wk
GROUP BY c.cohort_wk, DATEDIFF('week', c.cohort_wk, a.wk)
""",
    doc="The full cohort-retention TRIANGLE (not just next-day): users "
        "cohorted by first-active week, every later active week "
        "bucketed by age; cell = active / cohort size. Activity is "
        "deduplicated to (user, week) FIRST, so every downstream "
        "join/aggregate works on |users x active weeks| rows, never "
        "raw events; cohort assignment is a per-user MIN (map-side "
        "combinable) and cohort sizes broadcast. The week arithmetic "
        "(date_trunc + week datediff) is integer-exact on both "
        "engines.",
    tags=("retention", "cohort", "join", "aggregate", "pipeline"),
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = cohorts.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    age = (
        F.datediff(F.to_date("wk"), F.to_date("cohort_wk")) / 7
    ).cast("bigint")
    return (
        activity.join(cohorts, "user_id")
        .join(F.broadcast(sizes), "cohort_wk")
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            age.alias("age_weeks"),
        )
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.any_value("cohort_users").alias("cohort_users"),
            F.round(
                F.count(F.lit(1)).cast("double")
                / F.any_value("cohort_users"),
                6,
            ).alias("retention"),
        )
    )


@register(
    "ab_test_ztest",
    oracle="""
WITH assigned AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
           AS arm,
         value
  FROM events
  WHERE event_type IN ('view', 'click') AND value IS NOT NULL
),
stats AS (
  SELECT arm, COUNT(*) AS n,
         SUM(value) AS s1, SUM(value * value) AS s2
  FROM assigned GROUP BY arm
),
wide AS (
  SELECT
    MAX(CASE WHEN arm = 'control' THEN n END) AS nc,
    MAX(CASE WHEN arm = 'control' THEN s1 END) AS sc,
    MAX(CASE WHEN arm = 'control' THEN s2 END) AS qc,
    MAX(CASE WHEN arm = 'treatment' THEN n END) AS nt,
    MAX(CASE WHEN arm = 'treatment' THEN s1 END) AS st,
    MAX(CASE WHEN arm = 'treatment' THEN s2 END) AS qt
  FROM stats
)
SELECT CAST(nc AS BIGINT) AS n_control, CAST(nt AS BIGINT) AS n_treatment,
       ROUND(sc / nc, 6) AS mean_control,
       ROUND(st / nt, 6) AS mean_treatment,
       ROUND((st / nt - sc / nc)
             / SQRT((qc / nc - (sc / nc) * (sc / nc)) / nc
                    + (qt / nt - (st / nt) * (st / nt)) / nt), 6) AS z_score
FROM wide
""",
    doc="Two-sample z-test for an A/B experiment: users hash-assigned "
        "to arms (deterministic, replay-safe — the same assignment "
        "discipline as train_val_test_split), per-arm mean/variance "
        "from exact power sums (one map-side-combinable aggregate over "
        "the events scan), z = diff / sqrt(var_c/n_c + var_t/n_t). "
        "The whole test is ONE aggregate plus a one-row projection — "
        "experiment readout at 100 TB costs a single scan. Arithmetic "
        "is ordered identically cross-engine and rounded to 6 dp.",
    tags=("aggregate", "experiment", "statistics", "pipeline"),
)
def ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    assigned = ev.where(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    ).select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "value",
    )
    stats = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    wide = stats.agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c}_{a}")
            for arm, a in (("control", "c"), ("treatment", "t"))
            for c in ("n", "s1", "s2")
        ]
    )
    mc = F.col("s1_c") / F.col("n_c")
    mt = F.col("s1_t") / F.col("n_t")
    var_c = F.col("s2_c") / F.col("n_c") - mc * mc
    var_t = F.col("s2_t") / F.col("n_t") - mt * mt
    return wide.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(mc, 6).alias("mean_control"),
        F.round(mt, 6).alias("mean_treatment"),
        F.round(
            (mt - mc)
            / F.sqrt(var_c / F.col("n_c") + var_t / F.col("n_t")),
            6,
        ).alias("z_score"),
    )


@register(
    "json_roundtrip_battery",
    oracle="""
SELECT o_orderkey,
       o_orderstatus AS status_extracted,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_extracted,
       3 AS arr_len,
       CAST(o_orderkey * 3 + 3 AS BIGINT) AS arr_sum,
       o_orderpriority AS nested_priority
FROM orders WHERE o_orderkey <= 2000
""",
    doc="JSON codec round trip, certified the same way as the "
        "image/audio decoders (encode -> decode -> reduce): each "
        "order serializes to a NESTED JSON document in-engine "
        "(to_json of a struct with a sub-struct and an array), then "
        "the string is parsed back two ways — schema-typed from_json "
        "for the struct/array fields and path-style get_json_object "
        "for the nested leaf — and the extracted values must equal "
        "the originals, which the oracle reads straight from the "
        "columns. Exercises decimal number round-tripping, array "
        "aggregation post-parse, and path extraction; all JVM-side, "
        "map-only.",
    tags=("json", "semi-structured", "functions", "pipeline"),
)
def json_roundtrip_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    o = load_tables(spark, sf_dir, "orders")["orders"].where(
        F.col("o_orderkey") <= 2000
    )
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            F.array(
                F.col("o_orderkey") * 1,
                F.col("o_orderkey") * 2,
                F.lit(3).cast("long") + F.col("o_orderkey") * 0,
            ).alias("arr"),
            F.struct(F.col("o_orderpriority").alias("priority")).alias("meta"),
        )
    )
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("status", StringType()),
            StructField("price", DoubleType()),
            StructField("arr", ArrayType(LongType())),
            StructField(
                "meta", StructType([StructField("priority", StringType())])
            ),
        ]
    )
    parsed = o.select(
        "o_orderkey", doc.alias("doc")
    ).select(
        "o_orderkey",
        F.from_json("doc", schema).alias("j"),
        F.get_json_object("doc", "$.meta.priority").alias("nested_priority"),
    )
    return parsed.select(
        "o_orderkey",
        F.col("j.status").alias("status_extracted"),
        F.col("j.price").alias("price_extracted"),
        F.array_size("j.arr").alias("arr_len"),
        F.aggregate(
            "j.arr", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("arr_sum"),
        "nested_priority",
    )


@register(
    "schema_evolution_read",
    oracle="""
WITH merged AS (
  SELECT doc_id, source, NULL::BIGINT AS n_chars
  FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id, NULL, n_chars
  FROM documents WHERE doc_id >= 100 AND doc_id < 200
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_source,
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_nchars,
       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars
FROM merged
""",
    doc="SCHEMA EVOLUTION read — the capability the reference's "
        "per-channel CSVs implicitly rely on (channel schemas drift "
        "as the API adds fields): two parquet batches are written "
        "with DIFFERENT schemas (batch 1: doc_id+source; batch 2: "
        "doc_id+n_chars), then read back in ONE scan with "
        "mergeSchema=true — Spark unions the footers into the "
        "superset schema and fills absent columns with NULL. The "
        "query certifies exactly that contract (row count, per-batch "
        "NULL counts, and the sum over the late-added column) "
        "against a relational replay. At 100 TB this is the "
        "bronze-layer reality: years of appends under an evolving "
        "schema read as one table, no rewrite — the same property "
        "Delta/Iceberg formalize, demonstrated on raw parquet.",
    tags=("pipeline", "schema-evolution", "scan", "aggregate"),
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.plans.scratch import scratch_dir

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    base = scratch_dir(f"schema_evolution_{sf_dir}")
    docs.where(F.col("doc_id") < 100).select("doc_id", "source").write.mode(
        "overwrite"
    ).parquet(base + "/b1")
    docs.where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 200)
    ).select("doc_id", "n_chars").write.mode("overwrite").parquet(base + "/b2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/b1", base + "/b2"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_source"),
        F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_nchars"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
        .cast("long")
        .alias("total_chars"),
    )


@register(
    "bucketed_join_revenue",
    oracle="""
SELECT o.o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
    doc="BUCKETED co-located join — the write-once/join-many 100 TB "
        "technique promoted from a tool benchmark to a certified "
        "query: lineitem and orders are persisted bucketed+sorted by "
        "the order key (32 buckets; at scale, thousands), and the "
        "fact-fact join then plans SortMergeJoin with NO Exchange on "
        "either side — every subsequent query joining on the bucket "
        "key skips the dominant shuffle entirely "
        "(tests/test_scale_plans pins the exchange-free plan; "
        "tools/bucketing_bench.py measures the payoff). Values are "
        "certified against the plain-join oracle, proving the "
        "bucketed layout changes the PLAN, never the answer. The "
        "bucketed tables are per-process-named and overwritten on "
        "re-run (idempotent; the one-time write cost is the trade).",
    tags=("pipeline", "join", "bucketing", "scale", "aggregate"),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ytspark.plans.scale import bucketed_join, write_bucketed

    t = load_tables(spark, sf_dir, "lineitem", "orders")
    suffix = f"{os.getpid()}_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    lt, ot = f"li_bkt_{suffix}", f"od_bkt_{suffix}"
    write_bucketed(
        t["lineitem"].select(
            F.col("l_orderkey").alias("okey"), "l_extendedprice"
        ),
        lt,
        "okey",
        n_buckets=32,
    )
    write_bucketed(
        t["orders"].select(
            F.col("o_orderkey").alias("okey"), "o_orderpriority"
        ),
        ot,
        "okey",
        n_buckets=32,
    )
    return (
        bucketed_join(spark, lt, ot, "okey")
        .groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U: the nonparametric two-sample test beside the z-test
# ---------------------------------------------------------------------------

MWU_A, MWU_B = "click", "purchase"  # the two compared event types
MWU_ROUND = 6


@register(
    "mann_whitney_value_shift",
    oracle=f"""
WITH s AS (
  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type IN ('{MWU_A}', '{MWU_B}') AND value IS NOT NULL
),
per_v AS (
  SELECT v,
         SUM(CASE WHEN g = '{MWU_A}' THEN 1 ELSE 0 END) AS na,
         COUNT(*) AS t
  FROM s GROUP BY v
),
ranked AS (
  SELECT v, na, t,
         COALESCE(SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (t + 1) / 2.0 AS midrank
  FROM per_v
),
agg AS (
  SELECT SUM(na) AS n1, SUM(t) - SUM(na) AS n2, SUM(t) AS n,
         SUM(na * midrank) AS r1,
         SUM(CAST(t AS DOUBLE) * t * t - t) AS tie3
  FROM ranked
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
       ROUND(n1 * n2 / 2.0, 1) AS mu,
       ROUND(SQRT(n1 * n2 / 12.0
             * ((n + 1) - tie3 / (CAST(n AS DOUBLE) * (n - 1)))), {MWU_ROUND})
         AS sigma,
       ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
             / SQRT(n1 * n2 / 12.0
               * ((n + 1) - tie3 / (CAST(n AS DOUBLE) * (n - 1)))),
             {MWU_ROUND}) AS z_score
FROM agg
""",
    doc="MANN-WHITNEY U (Wilcoxon rank-sum) — the nonparametric "
        f"complement to ab_test_ztest: does '{MWU_B}' shift the value "
        f"distribution vs '{MWU_A}' without assuming normality? "
        "Values land on the exact cent grid (x100 integers), so "
        "ranking happens over the VALUE-BOUNDED distinct grid, not "
        "the data: one count aggregate per value level, midranks via "
        "a running sum over that bounded table (allowlisted — the "
        "customer_balance_quartiles precedent; ~2k levels here, "
        "~50k at any scale because the grid is bounded by the value "
        "range, not row count). U from the rank sum, normal "
        "approximation with the EXACT tie correction "
        "sigma = sqrt(n1*n2/12 * ((N+1) - sum(t^3-t)/(N(N-1)))). "
        "Integer counts keep every term exact until the final "
        "divisions, rounded identically cross-engine.",
    tags=("statistics", "experiment", "aggregate", "window", "pipeline"),
)
def mann_whitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    s = ev.where(
        F.col("event_type").isin(MWU_A, MWU_B) & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    per_v = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == MWU_A, 1).otherwise(0)).alias("na"),
        F.count(F.lit(1)).alias("t"),
    )
    # running sum over the value grid: bounded by the cent-grid range
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "v",
        "na",
        "t",
        (
            F.coalesce(F.sum("t").over(w), F.lit(0))
            + (F.col("t") + 1) / 2.0
        ).alias("midrank"),
    )
    agg = ranked.agg(
        F.sum("na").alias("n1"),
        (F.sum("t") - F.sum("na")).alias("n2"),
        F.sum("t").alias("n"),
        F.sum(F.col("na") * F.col("midrank")).alias("r1"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie3"),
    )
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    u1 = F.col("r1") - n1 * (n1 + 1) / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0
        * ((n + 1) - F.col("tie3") / (n.cast("double") * (n - 1)))
    )
    return agg.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(u1, 1).alias("u1"),
        F.round(n1 * n2 / 2.0, 1).alias("mu"),
        F.round(sigma, MWU_ROUND).alias("sigma"),
        F.round((u1 - n1 * n2 / 2.0) / sigma, MWU_ROUND).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the per-nation balance z-tests
# ---------------------------------------------------------------------------

BH_ALPHA = 0.05
# Abramowitz & Stegun 7.1.26 constants for the normal CDF tail
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
BH_ROUND = 8


def _norm_sf2_sql(z: str) -> str:
    """Two-sided p-value 2*(1-Phi(|z|)) via the A&S 7.1.26 polynomial —
    plain arithmetic + EXP, so DuckDB and Spark evaluate it
    bit-identically (no native erf in either SQL dialect)."""
    a1, a2, a3, a4, a5 = _AS_A
    t = f"(1.0 / (1.0 + {_AS_P} * ABS({z})))"
    poly = (
        f"({a1} * {t} + {a2} * POWER({t}, 2) + {a3} * POWER({t}, 3)"
        f" + {a4} * POWER({t}, 4) + {a5} * POWER({t}, 5))"
    )
    phi = f"(EXP(-ABS({z}) * ABS({z}) / 2.0) / SQRT(2.0 * PI()))"
    return f"(2.0 * {phi} * {poly})"


@register(
    "benjamini_hochberg_nations",
    oracle=f"""
WITH g AS (
  SELECT AVG(c_acctbal) AS mu,
         SUM(c_acctbal * c_acctbal) / COUNT(*)
           - AVG(c_acctbal) * AVG(c_acctbal) AS var_g
  FROM customer
),
per AS (
  SELECT c_nationkey AS nation, COUNT(*) AS n, AVG(c_acctbal) AS mean_bal
  FROM customer GROUP BY c_nationkey
),
z AS (
  SELECT nation, n, mean_bal,
         (mean_bal - g.mu) / SQRT(g.var_g / n) AS zval
  FROM per CROSS JOIN g
),
p AS (
  SELECT nation, n, mean_bal, zval,
         ROUND({_norm_sf2_sql('zval')}, {BH_ROUND}) AS p_value
  FROM z
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_value, nation) AS rk,
         COUNT(*) OVER () AS m
  FROM p
),
dec AS (
  SELECT *, ROUND(rk * {BH_ALPHA} / m, {BH_ROUND}) AS bh_threshold,
         MAX(CASE WHEN p_value <= rk * {BH_ALPHA} / m THEN 1 ELSE 0 END)
           OVER (ORDER BY rk DESC) AS rejected_i
  FROM ranked
)
SELECT CAST(nation AS BIGINT) AS nation, CAST(n AS BIGINT) AS n,
       ROUND(mean_bal, 4) AS mean_bal,
       ROUND(zval, 6) AS z_score, p_value,
       CAST(rk AS BIGINT) AS p_rank, bh_threshold,
       rejected_i = 1 AS rejected
FROM dec
""",
    doc="MULTIPLE-TESTING CONTROL — the Benjamini-Hochberg step-up "
        "at FDR "
        f"alpha={BH_ALPHA} over the 25 per-nation mean-balance "
        "z-tests (vs the global mean, pooled variance): sort "
        "p-values, compare p_(i) to i*alpha/m, reject everything at "
        "or below the LARGEST passing rank (the step-up scan is a "
        "reverse cummax over the m=25 test rows — bounded, "
        "allowlisted). Without this, 25 tests at alpha=0.05 "
        "expect a false positive by chance; with it the expected "
        "false-discovery RATE is controlled. p-values come from the "
        "Abramowitz-Stegun 7.1.26 polynomial (EXP + arithmetic — "
        "neither engine has native erf), evaluated IDENTICALLY in "
        "both engines so the certified values match to "
        f"{BH_ROUND} dp. The data-sized work is one power-sum "
        "aggregate per nation; everything after is O(m).",
    tags=("statistics", "experiment", "aggregate", "window", "pipeline"),
)
def benjamini_hochberg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = load_tables(spark, sf_dir, "customer")["customer"]
    g = cust.agg(
        F.avg("c_acctbal").alias("mu"),
        (
            F.sum(F.col("c_acctbal") * F.col("c_acctbal")) / F.count(F.lit(1))
            - F.avg("c_acctbal") * F.avg("c_acctbal")
        ).alias("var_g"),
    )
    per = cust.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).alias("n"), F.avg("c_acctbal").alias("mean_bal")
    )
    z = per.crossJoin(F.broadcast(g)).select(
        "nation",
        "n",
        "mean_bal",
        (
            (F.col("mean_bal") - F.col("mu"))
            / F.sqrt(F.col("var_g") / F.col("n"))
        ).alias("zval"),
    )
    az = F.abs(F.col("zval"))
    t = 1.0 / (1.0 + _AS_P * az)
    a1, a2, a3, a4, a5 = _AS_A
    poly = (
        a1 * t + a2 * F.pow(t, 2) + a3 * F.pow(t, 3)
        + a4 * F.pow(t, 4) + a5 * F.pow(t, 5)
    )
    phi = F.exp(-az * az / 2.0) / F.sqrt(F.lit(2.0) * F.lit(3.141592653589793))
    # NB: SQL PI() and this literal are the same IEEE double
    p = z.withColumn("p_value", F.round(2.0 * phi * poly, BH_ROUND))
    w_rank = Window.orderBy("p_value", "nation")
    ranked = p.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    w_step = Window.orderBy(F.col("rk").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = ranked.withColumn(
        "bh_threshold",
        F.round(F.col("rk") * BH_ALPHA / F.col("m"), BH_ROUND),
    ).withColumn(
        "rejected_i",
        F.max(
            F.when(
                F.col("p_value") <= F.col("rk") * BH_ALPHA / F.col("m"), 1
            ).otherwise(0)
        ).over(w_step),
    )
    return dec.select(
        F.col("nation").cast("long").alias("nation"),
        F.col("n").cast("long").alias("n"),
        F.round("mean_bal", 4).alias("mean_bal"),
        F.round("zval", 6).alias("z_score"),
        "p_value",
        F.col("rk").cast("long").alias("p_rank"),
        "bh_threshold",
        (F.col("rejected_i") == 1).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves: cumulative per-user value by cohort age
# ---------------------------------------------------------------------------


@register(
    "cohort_ltv_curves",
    oracle="""
WITH firstwk AS (
  SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_wk
  FROM events GROUP BY user_id
),
weekly AS (
  SELECT e.user_id, DATE_TRUNC('week', e.ts) AS wk,
         SUM(CAST(COALESCE(e.value, 0) AS DECIMAL(18,2))) AS v
  FROM events e WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM firstwk GROUP BY cohort_wk
),
cells AS (
  SELECT f.cohort_wk,
         CAST(DATEDIFF('week', f.cohort_wk, w.wk) AS BIGINT) AS age_weeks,
         SUM(w.v) AS wk_value
  FROM weekly w JOIN firstwk f USING (user_id)
  GROUP BY 1, 2
)
SELECT STRFTIME(cohort_wk, '%Y-%m-%d') AS cohort_week,
       age_weeks,
       CAST(SUM(wk_value) OVER (
         PARTITION BY cohort_wk ORDER BY age_weeks) AS DOUBLE)
         AS cum_value,
       ROUND(CAST(SUM(wk_value) OVER (
               PARTITION BY cohort_wk ORDER BY age_weeks) AS DOUBLE)
             / s.cohort_users, 6) AS ltv_per_user,
       s.cohort_users
FROM cells JOIN sizes s USING (cohort_wk)
""",
    doc="COHORT LTV CURVES: users cohorted by first-active week, "
        "purchase value accumulated per (cohort, age-week) and "
        "normalized per cohort member — the cumulative lifetime-value "
        "triangle finance reads next to the retention triangle "
        "(cohort_retention_matrix shares the cohorting spine). "
        "Purchase value sums in DECIMAL end to end (the engine's "
        "money policy); the running total per cohort is a window over "
        "the |cohorts x ages| PRE-AGGREGATE, never raw events; cohort "
        "sizes broadcast. Curves that flatten early are the churn "
        "signal LTV models price in.",
    tags=("retention", "cohort", "window", "aggregate", "pipeline"),
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    firstwk = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_wk")
    )
    weekly = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("week", "ts").alias("wk"))
        .agg(
            F.sum(
                F.coalesce(F.col("value"), F.lit(0)).cast("decimal(18,2)")
            ).alias("v")
        )
    )
    sizes = firstwk.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    age = (
        F.datediff(F.to_date("wk"), F.to_date("cohort_wk")) / 7
    ).cast("bigint")
    cells = (
        weekly.join(firstwk, "user_id")
        .groupBy("cohort_wk", age.alias("age_weeks"))
        .agg(F.sum("v").alias("wk_value"))
    )
    wcum = Window.partitionBy("cohort_wk").orderBy("age_weeks")
    return (
        cells.join(F.broadcast(sizes), "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "age_weeks",
            F.sum("wk_value").over(wcum).cast("double").alias("cum_value"),
            F.round(
                F.sum("wk_value").over(wcum).cast("double")
                / F.col("cohort_users"),
                6,
            ).alias("ltv_per_user"),
            "cohort_users",
        )
    )


# ---------------------------------------------------------------------------
# Deequ-style constraint suite over five tables
# ---------------------------------------------------------------------------


@register(
    "constraint_suite_report",
    oracle="""
SELECT 'null_rate:value<=0.05' AS rule, 'events' AS tbl,
       ROUND(CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS metric,
       0.05 AS threshold,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) <= 0.05 AS passed
FROM events
UNION ALL
SELECT 'range:o_totalprice[0,600000]', 'orders',
       ROUND(CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 600000
                      THEN 1 ELSE 0 END) AS DOUBLE), 6),
       0.0,
       SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 600000
            THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'pattern_rate:lang~^[a-z]{2}$>=0.99', 'documents',
       ROUND(CAST(SUM(CASE WHEN REGEXP_MATCHES(lang, '^[a-z][a-z]$')
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6),
       0.99,
       CAST(SUM(CASE WHEN REGEXP_MATCHES(lang, '^[a-z][a-z]$')
            THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.99
FROM documents
UNION ALL
SELECT 'freshness:max(ts)age<=30d', 'events',
       ROUND(CAST(DATEDIFF('day', MAX(CAST(ts AS DATE)),
                           DATE '2024-02-15') AS DOUBLE), 6),
       30.0,
       DATEDIFF('day', MAX(CAST(ts AS DATE)), DATE '2024-02-15') <= 30
FROM events
UNION ALL
SELECT 'unique_ratio:o_orderkey=1', 'orders',
       ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), 6),
       1.0,
       CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*) = 1.0
FROM orders
UNION ALL
SELECT 'cross_column:l_tax+l_discount<1', 'lineitem',
       ROUND(CAST(SUM(CASE WHEN l_tax + l_discount >= 1
                      THEN 1 ELSE 0 END) AS DOUBLE), 6),
       0.0,
       SUM(CASE WHEN l_tax + l_discount >= 1 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'cardinality:c_mktsegment[3,10]', 'customer',
       ROUND(CAST(COUNT(DISTINCT c_mktsegment) AS DOUBLE), 6),
       10.0,
       COUNT(DISTINCT c_mktsegment) BETWEEN 3 AND 10
FROM customer
""",
    doc="DECLARATIVE CONSTRAINT SUITE (the Deequ analyzer shape) "
        "extending the dbt four with the rule classes production "
        "tables actually break: rate thresholds (null-rate, regex "
        "pattern-match rate), numeric range violations, cross-column "
        "consistency, freshness against a pinned reference instant, "
        "unique-ratio, and categorical cardinality bands — seven "
        "rules over five tables, each compiled to ONE metric "
        "aggregate (never violation rows), unioned into the "
        "(rule, table, metric, threshold, passed) report a DQ "
        "scheduler alerts on. At 100 TB the suite is one scan per "
        "distinct table with map-side partials; adding a rule adds "
        "an aggregate expression, not a pass.",
    tags=("quality", "checks", "constraints", "aggregate", "pipeline"),
)
def constraint_suite_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.checks import constraint_suite

    tables = load_tables(
        spark, sf_dir, "events", "orders", "documents", "lineitem", "customer"
    )
    return constraint_suite(tables)


# ---------------------------------------------------------------------------
# Difference-in-differences estimator (causal readout from the warehouse)
# ---------------------------------------------------------------------------

DID_TREAT_SEGMENT = "BUILDING"
DID_POST_DATE = "1998-01-01"

_DID_CELLS = (
    ("n", "COUNT(*)"),
    ("s1", "SUM(y)"),
    ("s2", "SUM(y * y)"),
)


def _did_oracle() -> str:
    cells = []
    for g in (0, 1):
        for p in (0, 1):
            for suffix, expr in _DID_CELLS:
                agg = expr.replace(
                    "(y", "(CASE WHEN treat = {g} AND post = {p} THEN y END"
                ).replace("(*)", "(CASE WHEN treat = {g} AND post = {p} THEN 1 END)")
                cells.append(
                    agg.format(g=g, p=p) + f" AS {suffix}_{g}{p}"
                )
    cell_sql = ", ".join(cells)
    # exact DECIMAL power sums cast to double ONCE, then divided:
    # SUM(double) accumulates in engine-specific order (the r8
    # env-sensitivity audit class SIGDIG); decimal-exact sums make
    # every mean/variance a deterministic scalar expression tree
    means = {
        f"m{g}{p}": f"(CAST(s1_{g}{p} AS DOUBLE) / n_{g}{p})"
        for g in (0, 1)
        for p in (0, 1)
    }
    variances = {
        f"v{g}{p}": f"(CAST(s2_{g}{p} AS DOUBLE) / n_{g}{p} - {m} * {m})"
        for (g, p), m in (
            ((g, p), means[f"m{g}{p}"]) for g in (0, 1) for p in (0, 1)
        )
    }
    did = f"({means['m11']} - {means['m10']}) - ({means['m01']} - {means['m00']})"
    se = (
        "SQRT("
        + " + ".join(f"{variances[f'v{g}{p}']} / n_{g}{p}" for g in (0, 1) for p in (0, 1))
        + ")"
    )
    mean_cols = ", ".join(
        f"ROUND({means[f'm{g}{p}']}, 6) AS mean_{'treat' if g else 'ctrl'}_{'post' if p else 'pre'}"
        for g in (0, 1)
        for p in (0, 1)
    )
    n_cols = ", ".join(
        f"CAST(n_{g}{p} AS BIGINT) AS n_{'treat' if g else 'ctrl'}_{'post' if p else 'pre'}"
        for g in (0, 1)
        for p in (0, 1)
    )
    return f"""
WITH raw AS (
  SELECT CASE WHEN c.c_mktsegment = '{DID_TREAT_SEGMENT}' THEN 1 ELSE 0 END
           AS treat,
         CASE WHEN o.o_orderdate >= DATE '{DID_POST_DATE}' THEN 1 ELSE 0 END
           AS post,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
cells AS (SELECT {cell_sql} FROM raw)
SELECT {n_cols}, {mean_cols},
       ROUND(({did}), 6) AS did_estimate,
       ROUND(({did}) / {se}, 6) AS t_stat
FROM cells
"""


@register(
    "did_estimator_orders",
    oracle=_did_oracle(),
    doc="DIFFERENCE-IN-DIFFERENCES causal readout — the standard "
        "quasi-experimental estimator a warehouse answers when a "
        "treatment rolled out to one group at a known date: with "
        f"'{DID_TREAT_SEGMENT}'-segment customers as the treated "
        f"group and {DID_POST_DATE} as the rollout date, DiD = "
        "(treat_post - treat_pre) - (ctrl_post - ctrl_pre) of mean "
        "order value nets out both the group level difference and "
        "the common time trend. The whole estimator is ONE aggregate "
        "over the orders-customer join (all four cells as "
        "conditional power sums — n, sum, sum-of-squares — in a "
        "single map-side-combinable pass; the customer dim join is "
        "broadcast), then a one-row projection computes the "
        "estimate and its large-sample t statistic from the cell "
        "variances. Experiment readout at 100 TB = one scan. Power "
        "sums are DECIMAL-exact and cast to double once, so every "
        "reported float is a deterministic scalar expression tree "
        "(env_sensitivity_audit class SIGDIG repair), rounded 6 dp.",
    tags=("experiment", "statistics", "aggregate", "pipeline"),
)
def did_estimator_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    raw = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            (F.col("c_mktsegment") == DID_TREAT_SEGMENT)
            .cast("int")
            .alias("treat"),
            (F.col("o_orderdate") >= F.lit(DID_POST_DATE).cast("date"))
            .cast("int")
            .alias("post"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        )
    )
    aggs = []
    for g in (0, 1):
        for p in (0, 1):
            cell = (F.col("treat") == g) & (F.col("post") == p)
            aggs += [
                F.count(F.when(cell, 1)).alias(f"n_{g}{p}"),
                F.sum(F.when(cell, F.col("y"))).alias(f"s1_{g}{p}"),
                F.sum(F.when(cell, F.col("y") * F.col("y"))).alias(
                    f"s2_{g}{p}"
                ),
            ]
    cells = raw.agg(*aggs)
    m = {
        (g, p): F.col(f"s1_{g}{p}").cast("double") / F.col(f"n_{g}{p}")
        for g in (0, 1)
        for p in (0, 1)
    }
    v = {
        (g, p): F.col(f"s2_{g}{p}").cast("double") / F.col(f"n_{g}{p}")
        - m[(g, p)] * m[(g, p)]
        for g in (0, 1)
        for p in (0, 1)
    }
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    se = F.sqrt(
        sum(v[(g, p)] / F.col(f"n_{g}{p}") for g in (0, 1) for p in (0, 1))
    )
    label = {0: "ctrl", 1: "treat"}
    period = {0: "pre", 1: "post"}
    return cells.select(
        *[
            F.col(f"n_{g}{p}").cast("long").alias(
                f"n_{label[g]}_{period[p]}"
            )
            for g in (0, 1)
            for p in (0, 1)
        ],
        *[
            F.round(m[(g, p)], 6).alias(f"mean_{label[g]}_{period[p]}")
            for g in (0, 1)
            for p in (0, 1)
        ],
        F.round(did, 6).alias("did_estimate"),
        F.round(did / se, 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction for the A/B readout
# ---------------------------------------------------------------------------


@register(
    "ab_test_cuped",
    oracle="""
WITH mid AS (
  SELECT MIN(epoch_us(ts))
         + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS mid
  FROM events
),
per_user AS (
  SELECT e.user_id,
         CASE WHEN e.user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
           AS arm,
         SUM(CASE WHEN epoch_us(e.ts) < m.mid THEN e.value END)
           / COUNT(CASE WHEN epoch_us(e.ts) < m.mid THEN 1 END) AS x,
         SUM(CASE WHEN epoch_us(e.ts) >= m.mid THEN e.value END)
           / COUNT(CASE WHEN epoch_us(e.ts) >= m.mid THEN 1 END) AS y
  FROM events e CROSS JOIN mid m
  WHERE e.value IS NOT NULL
  GROUP BY e.user_id
  HAVING COUNT(CASE WHEN epoch_us(e.ts) < m.mid THEN 1 END) > 0
     AND COUNT(CASE WHEN epoch_us(e.ts) >= m.mid THEN 1 END) > 0
),
sums AS (
  SELECT
    COUNT(*) FILTER (WHERE arm = 'control') AS nc,
    SUM(x) FILTER (WHERE arm = 'control') AS xc,
    SUM(y) FILTER (WHERE arm = 'control') AS yc,
    SUM(x * y) FILTER (WHERE arm = 'control') AS xyc,
    SUM(x * x) FILTER (WHERE arm = 'control') AS xxc,
    SUM(y * y) FILTER (WHERE arm = 'control') AS yyc,
    COUNT(*) FILTER (WHERE arm = 'treatment') AS nt,
    SUM(x) FILTER (WHERE arm = 'treatment') AS xt,
    SUM(y) FILTER (WHERE arm = 'treatment') AS yt,
    SUM(x * y) FILTER (WHERE arm = 'treatment') AS xyt,
    SUM(x * x) FILTER (WHERE arm = 'treatment') AS xxt,
    SUM(y * y) FILTER (WHERE arm = 'treatment') AS yyt
  FROM per_user
),
derived AS (
  SELECT *,
    (xyc + xyt) / (nc + nt)
      - ((xc + xt) / (nc + nt)) * ((yc + yt) / (nc + nt)) AS cov_xy,
    (xxc + xxt) / (nc + nt)
      - ((xc + xt) / (nc + nt)) * ((xc + xt) / (nc + nt)) AS var_x
  FROM sums
),
theta AS (SELECT *, cov_xy / var_x AS th FROM derived)
SELECT
  CAST(nc AS BIGINT) AS n_control, CAST(nt AS BIGINT) AS n_treatment,
  ROUND(th, 6) AS theta,
  ROUND(yt / nt - yc / nc, 6) AS diff_raw,
  ROUND((yt / nt - yc / nc)
        / SQRT((yyc / nc - (yc / nc) * (yc / nc)) / nc
               + (yyt / nt - (yt / nt) * (yt / nt)) / nt), 6) AS z_raw,
  ROUND((yt / nt - th * (xt / nt)) - (yc / nc - th * (xc / nc)), 6)
    AS diff_cuped,
  ROUND(((yt / nt - th * (xt / nt)) - (yc / nc - th * (xc / nc)))
        / SQRT(((yyc / nc - (yc / nc) * (yc / nc))
                - 2 * th * (xyc / nc - (xc / nc) * (yc / nc))
                + th * th * (xxc / nc - (xc / nc) * (xc / nc))) / nc
               + ((yyt / nt - (yt / nt) * (yt / nt))
                  - 2 * th * (xyt / nt - (xt / nt) * (yt / nt))
                  + th * th * (xxt / nt - (xt / nt) * (xt / nt))) / nt),
        6) AS z_cuped,
  ROUND(1.0
        - (((yyc / nc - (yc / nc) * (yc / nc))
            - 2 * th * (xyc / nc - (xc / nc) * (yc / nc))
            + th * th * (xxc / nc - (xc / nc) * (xc / nc)))
           + ((yyt / nt - (yt / nt) * (yt / nt))
              - 2 * th * (xyt / nt - (xt / nt) * (yt / nt))
              + th * th * (xxt / nt - (xt / nt) * (xt / nt))))
          / ((yyc / nc - (yc / nc) * (yc / nc))
             + (yyt / nt - (yt / nt) * (yt / nt))), 6) + 0
    AS var_reduction
FROM theta
""",
    doc="CUPED (Controlled-experiment Using Pre-Experiment Data) — "
        "the industry-standard variance-reduction companion to "
        "ab_test_ztest: each user's pre-period mean value is the "
        "covariate X, the experiment-period mean is the metric Y "
        "(split at the stream's midpoint timestamp, the ks_psi "
        "convention), theta = cov(X,Y)/var(X) is fit POOLED, and the "
        "adjusted metric Y - theta*(X - mean X) keeps the same "
        "expectation with variance shrunk by the pre-period's "
        "explanatory power — the report shows the raw and CUPED "
        "z-scores side by side plus the realized variance reduction. "
        "Scale shape: ONE per-user aggregate (conditional pre/post "
        "power sums over the scan), then ONE per-arm aggregate of "
        "(X, Y, XY, X^2, Y^2) power sums from which theta, both "
        "adjusted variances, and both z-scores all derive in a "
        "one-row projection — no second pass over the data, no "
        "per-user theta join. The midpoint is a broadcast one-row "
        "scalar. Arithmetic ordered identically cross-engine, "
        "rounded 6 dp.",
    tags=("experiment", "statistics", "aggregate", "pipeline"),
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    mid = ev.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.expr("(MAX(unix_micros(ts)) - MIN(unix_micros(ts))) div 2")
        ).alias("mid")
    )
    pre = F.unix_micros("ts") < F.col("mid")
    per_user = (
        ev.where(F.col("value").isNotNull())
        .crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            (F.sum(F.when(pre, F.col("value"))) / F.count(F.when(pre, 1)))
            .alias("x"),
            (
                F.sum(F.when(~pre, F.col("value")))
                / F.count(F.when(~pre, 1))
            ).alias("y"),
            F.count(F.when(pre, 1)).alias("n_pre"),
            F.count(F.when(~pre, 1)).alias("n_post"),
        )
        .where((F.col("n_pre") > 0) & (F.col("n_post") > 0))
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("control"))
            .otherwise(F.lit("treatment"))
            .alias("arm"),
            "x",
            "y",
        )
    )
    aggs = []
    for arm, a in (("control", "c"), ("treatment", "t")):
        w = F.col("arm") == arm
        aggs += [
            F.count(F.when(w, 1)).alias(f"n{a}"),
            F.sum(F.when(w, F.col("x"))).alias(f"x{a}"),
            F.sum(F.when(w, F.col("y"))).alias(f"y{a}"),
            F.sum(F.when(w, F.col("x") * F.col("y"))).alias(f"xy{a}"),
            F.sum(F.when(w, F.col("x") * F.col("x"))).alias(f"xx{a}"),
            F.sum(F.when(w, F.col("y") * F.col("y"))).alias(f"yy{a}"),
        ]
    s = per_user.agg(*aggs)
    n_all = F.col("nc") + F.col("nt")
    mx_all = (F.col("xc") + F.col("xt")) / n_all
    my_all = (F.col("yc") + F.col("yt")) / n_all
    cov_xy = (F.col("xyc") + F.col("xyt")) / n_all - mx_all * my_all
    var_x = (F.col("xxc") + F.col("xxt")) / n_all - mx_all * mx_all
    th = cov_xy / var_x

    def arm_stats(a: str):
        n = F.col(f"n{a}")
        mx, my = F.col(f"x{a}") / n, F.col(f"y{a}") / n
        vy = F.col(f"yy{a}") / n - my * my
        cxy = F.col(f"xy{a}") / n - mx * my
        vx = F.col(f"xx{a}") / n - mx * mx
        v_adj = vy - 2 * th * cxy + th * th * vx
        return n, mx, my, vy, v_adj

    nc, mxc, myc, vyc, vac = arm_stats("c")
    nt, mxt, myt, vyt, vat = arm_stats("t")
    diff_raw = myt - myc
    diff_cuped = (myt - th * mxt) - (myc - th * mxc)
    return s.select(
        nc.cast("long").alias("n_control"),
        nt.cast("long").alias("n_treatment"),
        F.round(th, 6).alias("theta"),
        F.round(diff_raw, 6).alias("diff_raw"),
        F.round(diff_raw / F.sqrt(vyc / nc + vyt / nt), 6).alias("z_raw"),
        F.round(diff_cuped, 6).alias("diff_cuped"),
        F.round(diff_cuped / F.sqrt(vac / nc + vat / nt), 6).alias(
            "z_cuped"
        ),
        # + 0: signed-zero normalization (audit rule 7) — under heavy
        # value skew (tools/gen_longdoc_data.py) the pre/post means
        # decorrelate, theta is ~1e-4 and the realized variance
        # reduction is mathematically ~theta-scale tiny, computed as
        # +-1e-7 depending on accumulation order, so ROUND lands on
        # -0.0 or +0.0 per engine; IEEE -0.0 + 0 = +0.0 in both.
        (F.round(1.0 - (vac + vat) / (vyc + vyt), 6) + F.lit(0)).alias(
            "var_reduction"
        ),
    )


# ---------------------------------------------------------------------------
# A/B power analysis: required sample size from observed variance
# ---------------------------------------------------------------------------

POWER_Z_ALPHA = "1.959964"  # two-sided alpha = 0.05
POWER_Z_BETA = "0.841621"  # power = 0.80
POWER_MDES = ("0.01", "0.02", "0.05", "0.1", "0.2")  # relative MDEs

_POWER_MDE_SQL = ", ".join(f"({m})" for m in POWER_MDES)


@register(
    "ab_power_analysis",
    oracle=f"""
WITH stats AS (
  SELECT COUNT(*) AS n, AVG(value) AS mu,
         SUM(value * value) / COUNT(*) - AVG(value) * AVG(value) AS var
  FROM events
  WHERE event_type IN ('view', 'click') AND value IS NOT NULL
),
mde(m) AS (VALUES {_POWER_MDE_SQL})
SELECT m AS mde_rel,
       CAST(n AS BIGINT) AS n_observed,
       ROUND(mu, 6) AS mean_value,
       ROUND(m * mu, 6) AS mde_abs,
       CAST(CEIL(2.0 * var
                 * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                 * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                 / ((m * mu) * (m * mu))) AS BIGINT) AS n_per_arm,
       CEIL(2.0 * var
            * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
            * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
            / ((m * mu) * (m * mu))) <= n / 2.0 AS runnable_today
FROM stats CROSS JOIN mde
""",
    doc="A/B POWER ANALYSIS — the pre-experiment sample-size readout "
        "that closes the experimentation family (design -> "
        "ab_power_analysis, readout -> ab_test_ztest, variance "
        "reduction -> ab_test_cuped, rollout causal check -> "
        "did_estimator_orders): from the metric's OBSERVED variance "
        "(one power-sum aggregate over the scan), the required "
        "per-arm n for a two-sided alpha=0.05 / power=0.80 test at "
        "each relative minimum-detectable-effect in "
        f"{POWER_MDES} — n = 2*sigma^2*(z_a/2+z_b)^2/delta^2 — plus "
        "whether today's traffic could already run that test "
        "(n_per_arm <= n/2). The z constants are literals so both "
        "engines evaluate the identical closed form; the MDE grid is "
        "a broadcast 5-row spine. ONE scan at any data size.",
    tags=("experiment", "statistics", "aggregate", "pipeline"),
)
def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    za, zb = float(POWER_Z_ALPHA), float(POWER_Z_BETA)
    stats = ev.where(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        (
            F.sum(F.col("value") * F.col("value")) / F.count(F.lit(1))
            - F.avg("value") * F.avg("value")
        ).alias("var"),
    )
    mde = F.broadcast(
        spark.createDataFrame([(float(m),) for m in POWER_MDES], "m double")
    )
    need = F.ceil(
        2.0
        * F.col("var")
        * (za + zb)
        * (za + zb)
        / ((F.col("m") * F.col("mu")) * (F.col("m") * F.col("mu")))
    )
    return stats.crossJoin(mde).select(
        F.col("m").alias("mde_rel"),
        F.col("n").cast("long").alias("n_observed"),
        F.round("mu", 6).alias("mean_value"),
        F.round(F.col("m") * F.col("mu"), 6).alias("mde_abs"),
        need.cast("long").alias("n_per_arm"),
        (need <= F.col("n") / 2.0).alias("runnable_today"),
    )


# ---------------------------------------------------------------------------
# SPRT replay: anytime-valid sequential monitoring of a conversion lift
# ---------------------------------------------------------------------------

SPRT_LIFT = "1.15"  # H1: conversion rate = pooled rate * this
SPRT_UPPER = "2.772589"  # ln((1-beta)/alpha), alpha=0.05, beta=0.2
SPRT_LOWER = "-1.558145"  # ln(beta/(1-alpha))


@register(
    "sprt_sequential_monitor",
    oracle=f"""
WITH base AS (
  SELECT CAST(ts AS DATE) AS day,
         CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
           AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
),
p0 AS (
  SELECT GREATEST(SUM(x) * 1.0 / COUNT(*), 1e-6) AS p0,
         LEAST(GREATEST(SUM(x) * 1.0 / COUNT(*), 1e-6) * {SPRT_LIFT},
               0.999999) AS p1
  FROM base WHERE arm = 'control'
),
daily AS (
  SELECT day, COUNT(*) AS n, SUM(x) AS c
  FROM base WHERE arm = 'treatment' GROUP BY day
),
cum AS (
  SELECT day, n, c,
         SUM(c * LN(p.p1 / p.p0)
             + (n - c) * LN((1 - p.p1) / (1 - p.p0)))
           OVER (ORDER BY day) AS llr
  FROM daily CROSS JOIN p0 p
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n_trials,
       CAST(c AS BIGINT) AS conversions,
       ROUND(llr, 6) AS llr,
       CASE WHEN llr >= {SPRT_UPPER} THEN 'reject_h0'
            WHEN llr <= {SPRT_LOWER} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
""",
    doc="SPRT SEQUENTIAL MONITOR — the anytime-valid decision replay "
        "that completes the experimentation family (design -> power, "
        "readout -> z-test/CUPED, rollout -> DiD, MONITORING -> "
        "this): Wald's sequential probability ratio test of the "
        "treatment arm's purchase conversion against H0 = the "
        "control arm's pooled rate vs H1 = a "
        f"{SPRT_LIFT}x lift, accumulating the log-likelihood ratio "
        "day by day — c*ln(p1/p0) + (n-c)*ln((1-p1)/(1-p0)) from "
        "each day's (trials, conversions) — against the alpha=0.05 / "
        "power=0.80 boundaries, so the report shows exactly WHEN the "
        "experiment could have stopped, with no peeking penalty "
        "(that is the point of SPRT vs repeated z-tests). Scale: one "
        "conditional aggregate reduces the stream to O(days) rows; "
        "the cumulative window runs over that bounded day spine "
        "(EXPECTED_GLOBAL_WINDOW); the H0/H1 rates are a broadcast "
        "one-row scalar. LLR rounds at 6 dp; counts are exact "
        "integers; decisions derive from the unrounded LLR "
        "identically in both engines.",
    tags=("experiment", "statistics", "window", "pipeline"),
)
def sprt_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    base = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("x"),
    )
    p = F.broadcast(
        base.where(F.col("arm") == "control").agg(
            # clamp symmetrically from BOTH sides (ADVICE r6): a
            # zero-conversion control arm gives p0=p1=0 and
            # LN(0/0)=NaN LLR rows on both engines
            F.greatest(
                F.sum("x") * 1.0 / F.count(F.lit(1)), F.lit(1e-6)
            ).alias("p0"),
            F.least(
                F.greatest(F.sum("x") * 1.0 / F.count(F.lit(1)), F.lit(1e-6))
                * float(SPRT_LIFT),
                F.lit(0.999999),
            ).alias("p1"),
        )
    )
    daily = (
        base.where(F.col("arm") == "treatment")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("c"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr_term = F.col("c") * F.log(F.col("p1") / F.col("p0")) + (
        F.col("n") - F.col("c")
    ) * F.log((1 - F.col("p1")) / (1 - F.col("p0")))
    cum = daily.crossJoin(p).select(
        "day", "n", "c", F.sum(llr_term).over(w).alias("llr")
    )
    up, lo = float(SPRT_UPPER), float(SPRT_LOWER)
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_trials"),
        F.col("c").cast("long").alias("conversions"),
        F.round("llr", 6).alias("llr"),
        F.when(F.col("llr") >= up, F.lit("reject_h0"))
        .when(F.col("llr") <= lo, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy (train/test by user parity)
# ---------------------------------------------------------------------------


@register(
    "markov_next_event_eval",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
train AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL AND user_id % 2 = 0
  GROUP BY 1, 2
),
pred AS (
  SELECT prev_type, next_type AS predicted FROM (
    SELECT prev_type, next_type,
           ROW_NUMBER() OVER (PARTITION BY prev_type
                              ORDER BY n DESC, next_type) AS rk
    FROM train
  ) WHERE rk = 1
),
test AS (
  SELECT prev_type, event_type AS next_type
  FROM seq WHERE prev_type IS NOT NULL AND user_id % 2 = 1
)
SELECT t.prev_type, p.predicted,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN t.next_type = p.predicted THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN t.next_type = p.predicted THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS accuracy
FROM test t JOIN pred p USING (prev_type)
GROUP BY 1, 2
""",
    doc="MARKOV NEXT-EVENT PREDICTION EVAL — closes the loop on "
        "event_transition_matrix the way classifier_eval_metrics "
        "closes it on the NB model: train the first-order argmax "
        "predictor (most frequent next event per previous event, "
        "count-desc/type-asc tiebreak) on EVEN user_ids, score it on "
        "ODD user_ids, report per-state test support, hits, and "
        "accuracy. The user-parity split is the same deterministic "
        "holdout contract as the A/B arms (SPRT/z-test); transitions "
        "come from one user-partitioned lag window shared with the "
        "matrix query; train/pred/test are three small aggregates "
        "over the bounded state grid — at 100 TB the only data-sized "
        "cost is the one window shuffle on user_id.",
    tags=("sequence", "evaluation", "learn", "window", "pipeline"),
)
def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    train = (
        seq.where(F.col("user_id") % 2 == 0)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("prev_type").orderBy(
        F.desc("n"), F.asc("next_type")
    )
    pred = F.broadcast(
        train.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    test = seq.where(F.col("user_id") % 2 == 1)
    hit = (F.col("next_type") == F.col("predicted")).cast("int")
    return (
        test.join(pred, "prev_type")
        .groupBy("prev_type", "predicted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(hit).cast("long").alias("n_correct"),
            F.round(F.sum(hit) * 1.0 / F.count(F.lit(1)), 6).alias(
                "accuracy"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Group-sequential monitoring with O'Brien-Fleming boundaries
# ---------------------------------------------------------------------------

OBF_C = "2.0403"  # two-sided alpha=0.05, K=5 looks (Pocock/OBF tables)


@register(
    "group_sequential_obf_monitor",
    oracle=f"""
WITH base AS (
  SELECT DATE_TRUNC('week', CAST(ts AS DATE)) AS wk,
         CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
           AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
),
weekly AS (
  SELECT wk,
         SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS nc,
         SUM(CASE WHEN arm = 'control' THEN x ELSE 0 END) AS cc,
         SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS nt,
         SUM(CASE WHEN arm = 'treatment' THEN x ELSE 0 END) AS ct
  FROM base GROUP BY wk
),
cum AS (
  SELECT wk,
         SUM(nc) OVER (ORDER BY wk) AS nc,
         SUM(cc) OVER (ORDER BY wk) AS cc,
         SUM(nt) OVER (ORDER BY wk) AS nt,
         SUM(ct) OVER (ORDER BY wk) AS ct,
         SUM(nc + nt) OVER (ORDER BY wk) * 1.0
           / SUM(nc + nt) OVER () AS info_frac
  FROM weekly
),
z AS (
  SELECT wk, nc, cc, nt, ct, info_frac,
         (ct * 1.0 / nt - cc * 1.0 / nc)
         / SQRT(((cc + ct) * 1.0 / (nc + nt))
                * (1 - (cc + ct) * 1.0 / (nc + nt))
                * (1.0 / nc + 1.0 / nt)) AS zstat,
         {OBF_C} / SQRT(info_frac) AS bound
  FROM cum
)
SELECT STRFTIME(wk, '%Y-%m-%d') AS week,
       CAST(nc AS BIGINT) AS n_control,
       CAST(nt AS BIGINT) AS n_treatment,
       CAST(cc AS BIGINT) AS conv_control,
       CAST(ct AS BIGINT) AS conv_treatment,
       ROUND(info_frac, 6) AS info_frac,
       ROUND(zstat, 6) AS z,
       ROUND(bound, 6) AS obf_bound,
       CASE WHEN ABS(zstat) >= bound THEN 'stop_efficacy'
            ELSE 'continue' END AS decision
FROM z
""",
    doc="GROUP-SEQUENTIAL experiment monitoring with O'Brien-Fleming "
        "boundaries — the interim-look design that complements the "
        "fully-sequential SPRT: at each weekly look the cumulative "
        "two-proportion z-statistic (pooled-variance form, identical "
        "to ab_test_ztest's) is compared against the OBF critical "
        f"value c/sqrt(information fraction) with c={OBF_C} (the "
        "tabulated two-sided alpha=0.05 constant for 5 looks), so "
        "early looks demand overwhelming evidence and the final look "
        "spends almost full alpha — the property that makes OBF the "
        "regulatory default. One conditional aggregate reduces the "
        "stream to O(weeks) rows; the cumulative window runs over "
        "that bounded spine (EXPECTED_GLOBAL_WINDOW); decisions "
        "derive from the unrounded z on both engines.",
    tags=("experiment", "statistics", "window", "pipeline"),
)
def group_sequential_obf_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    base = ev.select(
        F.date_trunc("week", F.col("ts").cast("date")).alias("wk"),
        (F.col("user_id") % 2 == 0).alias("is_control"),
        (F.col("event_type") == "purchase").cast("int").alias("x"),
    )
    weekly = base.groupBy("wk").agg(
        F.sum(F.when(F.col("is_control"), 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("is_control"), F.col("x")).otherwise(0)).alias("cc"),
        F.sum(F.when(~F.col("is_control"), 1).otherwise(0)).alias("nt"),
        F.sum(F.when(~F.col("is_control"), F.col("x")).otherwise(0)).alias("ct"),
    )
    wc = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = weekly.select(
        "wk",
        F.sum("nc").over(wc).alias("nc"),
        F.sum("cc").over(wc).alias("cc"),
        F.sum("nt").over(wc).alias("nt"),
        F.sum("ct").over(wc).alias("ct"),
        (
            F.sum(F.col("nc") + F.col("nt")).over(wc)
            * 1.0
            / F.sum(F.col("nc") + F.col("nt")).over(wt)
        ).alias("info_frac"),
    )
    pooled = (F.col("cc") + F.col("ct")) * 1.0 / (F.col("nc") + F.col("nt"))
    zstat = (
        F.col("ct") * 1.0 / F.col("nt") - F.col("cc") * 1.0 / F.col("nc")
    ) / F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("nc") + 1.0 / F.col("nt"))
    )
    bound = F.lit(float(OBF_C)) / F.sqrt(F.col("info_frac"))
    return cum.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        F.col("nc").cast("long").alias("n_control"),
        F.col("nt").cast("long").alias("n_treatment"),
        F.col("cc").cast("long").alias("conv_control"),
        F.col("ct").cast("long").alias("conv_treatment"),
        F.round("info_frac", 6).alias("info_frac"),
        F.round(zstat, 6).alias("z"),
        F.round(bound, 6).alias("obf_bound"),
        F.when(F.abs(zstat) >= bound, F.lit("stop_efficacy"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Running distinct users (first-occurrence flag + daily cumulative)
# ---------------------------------------------------------------------------


@register(
    "running_distinct_users_daily",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
),
daily AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY 1
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
         AS cumulative_users
FROM daily
""",
    doc="RUNNING DISTINCT USERS — the growth-accounting query every "
        "product dashboard runs, and the classic trap at scale: the "
        "naive form (COUNT(DISTINCT user) OVER cumulative day frame) "
        "holds an unbounded distinct set per frame and recomputes it "
        "per day. The linear identity: cumulative distinct = running "
        "SUM of FIRST OCCURRENCES — one user-keyed MIN(day) "
        "aggregate, one O(days) rollup, one cumulative window over "
        "the bounded day spine (EXPECTED_GLOBAL_WINDOW). Exact "
        "integers; contrast with sliding_distinct_users_7d (windowed "
        "exact) and the HLL/KMV sketches (mergeable approximate).",
    tags=("aggregate", "retention", "window", "pipeline"),
)
def running_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir, "events")["events"]
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(wc).cast("long").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (heavy-tail diagnostics for skew planning)
# ---------------------------------------------------------------------------

HILL_K = 100  # top-k order statistics used by the estimator


@register(
    "hill_tail_index",
    oracle=f"""
WITH ranked AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x,
         ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2))
                            DESC, o_orderkey) AS r
  FROM orders
),
topk AS (SELECT x, r FROM ranked WHERE r <= {HILL_K} + 1),
thresh AS (SELECT x AS xk1 FROM topk WHERE r = {HILL_K} + 1),
hill AS (
  SELECT SUM(LN(t.x / th.xk1)) AS s, COUNT(*) AS k
  FROM topk t CROSS JOIN thresh th
  WHERE t.r <= {HILL_K}
)
SELECT CAST(k AS BIGINT) AS k,
       ROUND((SELECT xk1 FROM thresh), 2) AS threshold_value,
       ROUND(k / s, 6) AS hill_alpha,
       ROUND(s / k, 6) AS mean_log_excess,
       ROUND(k / s, 6) >= 2.0 AS finite_variance
FROM hill
""",
    doc=f"HILL TAIL-INDEX estimator — the heavy-tail diagnostic that "
        f"QUANTIFIES the skew every scale note in this repo plans "
        f"around: alpha = k / sum(ln(x_i / x_(k+1))) over the top-"
        f"{HILL_K} order statistics of order value. alpha < 2 means "
        f"infinite variance (hot-key mitigation is mandatory: "
        f"salting, AQE skew splits, df caps); alpha >= 2 means "
        f"moments exist and mean-based planning is sound — the "
        f"verdict is emitted as a boolean. Scale: the top-(k+1) "
        f"selection is a rank over the value-ordered stream — at "
        f"100 TB this is the classic per-partition top-k "
        f"pre-aggregation (each partition keeps k+1 rows, the merge "
        f"is k-bounded), so the estimator costs one scan; the "
        f"ln-ratio fold is over k+1 rows. DECIMAL-exact values feed "
        f"identical expression text on both engines.",
    tags=("statistics", "profiling", "topk", "aggregate"),
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    ranked = orders.select(
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("x"),
        F.col("o_orderkey").alias("ok"),
    ).select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.desc("x"), F.asc("ok")))
        .alias("r"),
    ).where(F.col("r") <= HILL_K + 1)
    topk = ranked.localCheckpoint(eager=True)
    thresh = F.broadcast(
        topk.where(F.col("r") == HILL_K + 1).select(F.col("x").alias("xk1"))
    )
    hill = (
        topk.where(F.col("r") <= HILL_K)
        .crossJoin(thresh)
        .agg(
            F.sum(F.log(F.col("x") / F.col("xk1"))).alias("s"),
            F.count(F.lit(1)).alias("k"),
            F.max("xk1").alias("xk1"),
        )
    )
    return hill.select(
        F.col("k").cast("long").alias("k"),
        F.round("xk1", 2).alias("threshold_value"),
        F.round(F.col("k") / F.col("s"), 6).alias("hill_alpha"),
        F.round(F.col("s") / F.col("k"), 6).alias("mean_log_excess"),
        (F.round(F.col("k") / F.col("s"), 6) >= 2.0).alias("finite_variance"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H: the k-group extension of the Mann-Whitney test
# ---------------------------------------------------------------------------

KW_CRIT = 9.487729  # chi-squared 5% critical value at df = 5 groups - 1


@register(
    "kruskal_wallis_priority",
    oracle=f"""
WITH s AS (
  SELECT o_orderpriority AS g,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
),
per_v AS (SELECT v, COUNT(*) AS t FROM s GROUP BY v),
ranked AS (
  SELECT v, t,
         COALESCE(SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (t + 1) / 2.0 AS midrank
  FROM per_v
),
gv AS (SELECT g, v, COUNT(*) AS c FROM s GROUP BY g, v),
groups AS (
  SELECT g, SUM(c) AS ng, SUM(c * midrank) AS rg
  FROM gv JOIN ranked USING (v) GROUP BY g
),
agg AS (
  SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(rg * rg / ng) AS rsq,
         (SELECT SUM(CAST(t AS DOUBLE) * t * t - t) FROM per_v
          WHERE t > 1) AS tie3
  FROM groups
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(n AS BIGINT) AS n,
       ROUND(12.0 / (n * (n + 1.0)) * rsq - 3 * (n + 1.0), 6) AS h_stat,
       ROUND(1 - COALESCE(tie3, 0)
             / (CAST(n AS DOUBLE) * n * n - n), 6) AS tie_correction,
       ROUND((12.0 / (n * (n + 1.0)) * rsq - 3 * (n + 1.0))
             / (1 - COALESCE(tie3, 0)
                / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_corrected,
       (12.0 / (n * (n + 1.0)) * rsq - 3 * (n + 1.0))
         / (1 - COALESCE(tie3, 0) / (CAST(n AS DOUBLE) * n * n - n))
         > {KW_CRIT} AS reject_h0
FROM agg
""",
    doc="KRUSKAL-WALLIS H across the 5 order priorities on order "
        "value — the k-group extension of mann_whitney_value_shift "
        "(same midrank machinery, one test instead of 10 pairwise): "
        "H = 12/(N(N+1)) sum R_g^2/n_g - 3(N+1), tie-corrected by "
        "C = 1 - sum(t^3-t)/(N^3-N), rejected against the df=4 "
        "chi-squared 5% critical value. Values land on the exact "
        "cent grid so the rank table is over the VALUE-BOUNDED "
        "distinct grid (the Mann-Whitney/customer_balance_quartiles "
        "precedent — bounded by the price range in cents, not row "
        "count; EXPECTED_GLOBAL_WINDOW), per-group rank sums are one "
        "broadcast-joined aggregate, and every term stays integer-"
        "exact until the final divisions.",
    tags=("statistics", "experiment", "aggregate", "window", "pipeline"),
)
def kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    s = orders.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    ).persist()
    per_v = s.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "v",
        "t",
        (
            F.coalesce(F.sum("t").over(w), F.lit(0))
            + (F.col("t") + 1) / 2.0
        ).alias("midrank"),
    )
    gv = s.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    groups = (
        gv.join(ranked.select("v", "midrank"), "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("ng"),
            F.sum(F.col("c") * F.col("midrank")).alias("rg"),
        )
    )
    tie3 = per_v.where(F.col("t") > 1).agg(
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie3")
    )
    agg = (
        groups.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("ng").alias("n"),
            F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("rsq"),
        )
        .crossJoin(F.broadcast(tie3))
    )
    h = 12.0 / (F.col("n") * (F.col("n") + 1.0)) * F.col("rsq") - 3 * (
        F.col("n") + 1.0
    )
    corr = 1 - F.coalesce(F.col("tie3"), F.lit(0.0)) / (
        F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    )
    out = agg.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n"),
        F.round(h, 6).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(h / corr, 6).alias("h_corrected"),
        (h / corr > KW_CRIT).alias("reject_h0"),
    )
    return finish(out, s)


# ---------------------------------------------------------------------------
# Bayesian A/B: exact Beta-posterior P(B beats A) by grid integration
# ---------------------------------------------------------------------------

BAB_A, BAB_B = "click", "purchase"  # the two compared arms
BAB_THRESH = 50.0  # success = value above this
BAB_GRID = 400  # midpoint-rule integration grid
BAB_SPINE = 250_000  # log-factorial spine (covers arms <= 250k obs)


@register(
    "bayes_ab_beta_posterior",
    oracle=f"""
WITH s AS (
  SELECT event_type AS g, CASE WHEN value > {BAB_THRESH} THEN 1 ELSE 0 END
           AS succ
  FROM events
  WHERE event_type IN ('{BAB_A}', '{BAB_B}') AND value IS NOT NULL
),
stats AS (
  SELECT SUM(CASE WHEN g = '{BAB_A}' THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN g = '{BAB_A}' THEN succ ELSE 0 END) AS sa,
         SUM(CASE WHEN g = '{BAB_B}' THEN 1 ELSE 0 END) AS nb,
         SUM(CASE WHEN g = '{BAB_B}' THEN succ ELSE 0 END) AS sb
  FROM s
),
lgam AS (
  SELECT SUM(CASE WHEN j <= sa THEN LN(j) ELSE 0 END) AS lg_aa,
         SUM(CASE WHEN j <= na - sa THEN LN(j) ELSE 0 END) AS lg_ba,
         SUM(CASE WHEN j <= na + 1 THEN LN(j) ELSE 0 END) AS lg_na,
         SUM(CASE WHEN j <= sb THEN LN(j) ELSE 0 END) AS lg_ab,
         SUM(CASE WHEN j <= nb - sb THEN LN(j) ELSE 0 END) AS lg_bb,
         SUM(CASE WHEN j <= nb + 1 THEN LN(j) ELSE 0 END) AS lg_nb
  FROM (SELECT UNNEST(RANGE(1, {BAB_SPINE} + 1)) AS j) CROSS JOIN stats
),
grid AS (
  SELECT (g - 0.5) / {BAB_GRID} AS x, g
  FROM (SELECT UNNEST(RANGE(1, {BAB_GRID} + 1)) AS g)
),
pdfs AS (
  SELECT g, x,
         EXP(sa * LN(x) + (na - sa) * LN(1 - x)
             - (lg_aa + lg_ba - lg_na)) AS pdf_a,
         EXP(sb * LN(x) + (nb - sb) * LN(1 - x)
             - (lg_ab + lg_bb - lg_nb)) AS pdf_b
  FROM grid CROSS JOIN stats CROSS JOIN lgam
),
cdfs AS (
  SELECT pdf_b,
         SUM(pdf_a / {BAB_GRID}) OVER (ORDER BY g) AS cdf_a
  FROM pdfs
),
integ AS (
  SELECT SUM(pdf_b / {BAB_GRID} * cdf_a) AS p_b_beats_a FROM cdfs
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(sa AS BIGINT) AS s_a,
       CAST(nb AS BIGINT) AS n_b, CAST(sb AS BIGINT) AS s_b,
       ROUND((sa + 1.0) / (na + 2.0), 6) AS posterior_mean_a,
       ROUND((sb + 1.0) / (nb + 2.0), 6) AS posterior_mean_b,
       ROUND((sb + 1.0) / (nb + 2.0) - (sa + 1.0) / (na + 2.0), 6)
         AS expected_lift,
       ROUND((SELECT p_b_beats_a FROM integ), 6) AS prob_b_beats_a
FROM stats
""",
    doc=f"BAYESIAN A/B — the decision-ready posterior beside the "
        f"frequentist ab_test_ztest / SPRT / O'Brien-Fleming battery: "
        f"with uniform Beta(1,1) priors, P(p_B > p_A | data) is "
        f"integrated on a {BAB_GRID}-point midpoint grid, "
        f"P = sum_g pdf_B(x_g) dx * CDF_A(x_g) (grid approximation "
        f"disclosed; both engines compute the IDENTICAL discrete sum). "
        f"Beta normalizers use exact integer-parameter log-Gammas, "
        f"lgamma(k) = sum ln j for j < k, folded as six conditional "
        f"sums over ONE {BAB_SPINE}-row spine scan — no special "
        f"function needed on either engine (Spark has no lgamma "
        f"builtin; the spine IS the cross-engine-portable lgamma). "
        f"Scale: the success counts are one map-side-combinable "
        f"aggregate over the events scan; spine + grid costs are "
        f"O({BAB_SPINE}) constants independent of data volume (arms "
        f"beyond the spine should use the normal-approximation z-test "
        f"— at that n the posteriors are point masses anyway). The "
        f"CDF cumsum runs over the {BAB_GRID}-row grid "
        f"(EXPECTED_GLOBAL_WINDOW: bounded by construction).",
    tags=("experiment", "statistics", "aggregate", "pipeline"),
)
def bayes_ab_beta_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    s = ev.where(
        F.col("event_type").isin(BAB_A, BAB_B) & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.when(F.col("value") > BAB_THRESH, 1).otherwise(0).alias("succ"),
    )
    stats = s.agg(
        F.sum(F.when(F.col("g") == BAB_A, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("g") == BAB_A, F.col("succ")).otherwise(0)).alias(
            "sa"
        ),
        F.sum(F.when(F.col("g") == BAB_B, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("g") == BAB_B, F.col("succ")).otherwise(0)).alias(
            "sb"
        ),
    ).localCheckpoint(eager=True)
    spine = spark.range(1, BAB_SPINE + 1).select(F.col("id").alias("j"))
    lgam = spine.crossJoin(F.broadcast(stats)).agg(
        F.sum(
            F.when(F.col("j") <= F.col("sa"), F.log("j")).otherwise(0.0)
        ).alias("lg_aa"),
        F.sum(
            F.when(F.col("j") <= F.col("na") - F.col("sa"), F.log("j"))
            .otherwise(0.0)
        ).alias("lg_ba"),
        F.sum(
            F.when(F.col("j") <= F.col("na") + 1, F.log("j")).otherwise(0.0)
        ).alias("lg_na"),
        F.sum(
            F.when(F.col("j") <= F.col("sb"), F.log("j")).otherwise(0.0)
        ).alias("lg_ab"),
        F.sum(
            F.when(F.col("j") <= F.col("nb") - F.col("sb"), F.log("j"))
            .otherwise(0.0)
        ).alias("lg_bb"),
        F.sum(
            F.when(F.col("j") <= F.col("nb") + 1, F.log("j")).otherwise(0.0)
        ).alias("lg_nb"),
    )
    grid = spark.range(1, BAB_GRID + 1).select(
        F.col("id").alias("g"), ((F.col("id") - 0.5) / BAB_GRID).alias("x")
    )
    pdfs = grid.crossJoin(F.broadcast(stats)).crossJoin(
        F.broadcast(lgam)
    ).select(
        "g",
        F.exp(
            F.col("sa") * F.log("x")
            + (F.col("na") - F.col("sa")) * F.log(1 - F.col("x"))
            - (F.col("lg_aa") + F.col("lg_ba") - F.col("lg_na"))
        ).alias("pdf_a"),
        F.exp(
            F.col("sb") * F.log("x")
            + (F.col("nb") - F.col("sb")) * F.log(1 - F.col("x"))
            - (F.col("lg_ab") + F.col("lg_bb") - F.col("lg_nb"))
        ).alias("pdf_b"),
    )
    wcdf = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    integ = pdfs.select(
        (
            F.col("pdf_b")
            / BAB_GRID
            * F.sum(F.col("pdf_a") / BAB_GRID).over(wcdf)
        ).alias("term")
    ).agg(F.sum("term").alias("p_b_beats_a"))
    return stats.crossJoin(F.broadcast(integ)).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("sa").cast("long").alias("s_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("sb").cast("long").alias("s_b"),
        F.round((F.col("sa") + 1.0) / (F.col("na") + 2.0), 6).alias(
            "posterior_mean_a"
        ),
        F.round((F.col("sb") + 1.0) / (F.col("nb") + 2.0), 6).alias(
            "posterior_mean_b"
        ),
        F.round(
            (F.col("sb") + 1.0) / (F.col("nb") + 2.0)
            - (F.col("sa") + 1.0) / (F.col("na") + 2.0),
            6,
        ).alias("expected_lift"),
        F.round("p_b_beats_a", 6).alias("prob_b_beats_a"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check — experimentation hygiene
# ---------------------------------------------------------------------------

SRM_CRIT = 3.841459  # chi-squared 5% critical value, df=1


@register(
    "ab_srm_check",
    oracle=f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
arms AS (
  SELECT {knuth_hash_sql('user_id')} % 2 AS arm FROM users
),
counts AS (
  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb
  FROM arms
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(CAST(na AS DOUBLE) / (na + nb), 6) AS ratio_a,
       ROUND(POW(na - (na + nb) / 2.0, 2) / ((na + nb) / 2.0)
             + POW(nb - (na + nb) / 2.0, 2) / ((na + nb) / 2.0), 6)
         AS chi2,
       POW(na - (na + nb) / 2.0, 2) / ((na + nb) / 2.0)
         + POW(nb - (na + nb) / 2.0, 2) / ((na + nb) / 2.0) > {SRM_CRIT}
         AS srm_detected
FROM counts
""",
    doc="SAMPLE-RATIO-MISMATCH check — the first gate every "
        "experimentation platform runs BEFORE reading treatment "
        "effects (a biased split invalidates every downstream test "
        "in the A/B battery): users are deterministically hashed "
        "into two arms (the shared overflow-safe Knuth hash — the "
        "same assignment function train_val_test_split uses), and "
        "the observed split is tested against the designed 50/50 "
        "with a df=1 chi-squared at the 5% level. Scale: one "
        "distinct on the randomization unit (map-side combinable) + "
        "one two-cell aggregate; the hash assignment replays "
        "identically in SQL so the verdict is hash-certified.",
    tags=("experiment", "quality", "aggregate", "pipeline"),
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.operators.text import knuth_hash_col

    ev = load_tables(spark, sf_dir, "events")["events"]
    arms = (
        ev.select("user_id")
        .distinct()
        .select(F.pmod(knuth_hash_col(F.col("user_id")), F.lit(2)).alias("arm"))
    )
    counts = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb"),
    )
    e = (F.col("na") + F.col("nb")) / 2.0
    chi2 = F.pow(F.col("na") - e, 2) / e + F.pow(F.col("nb") - e, 2) / e
    return counts.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("na").cast("double") / (F.col("na") + F.col("nb")), 6)
        .alias("ratio_a"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > SRM_CRIT).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# Effect-size battery (Cohen's d / Hedges' g / Cliff's delta)
# ---------------------------------------------------------------------------


@register(
    "effect_size_battery",
    oracle=f"""
WITH s AS (
  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type IN ('{MWU_A}', '{MWU_B}') AND value IS NOT NULL
),
mo AS (
  SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(v) AS DOUBLE) AS sv,
         CAST(SUM(v * v) AS DOUBLE) AS svv
  FROM s GROUP BY g
),
p AS (
  SELECT MAX(CASE WHEN g = '{MWU_A}' THEN n END) AS n1,
         MAX(CASE WHEN g = '{MWU_A}' THEN sv END) AS sv1,
         MAX(CASE WHEN g = '{MWU_A}' THEN svv END) AS svv1,
         MAX(CASE WHEN g = '{MWU_B}' THEN n END) AS n2,
         MAX(CASE WHEN g = '{MWU_B}' THEN sv END) AS sv2,
         MAX(CASE WHEN g = '{MWU_B}' THEN svv END) AS svv2
  FROM mo
),
pergrid AS (
  SELECT v, SUM(CASE WHEN g = '{MWU_A}' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN g = '{MWU_B}' THEN 1 ELSE 0 END) AS cb
  FROM s GROUP BY v
),
cliff AS (
  SELECT SUM(CASE WHEN a.v > b.v THEN a.ca * b.cb ELSE 0 END) AS gt,
         SUM(CASE WHEN a.v < b.v THEN a.ca * b.cb ELSE 0 END) AS lt
  FROM pergrid a CROSS JOIN pergrid b
),
fit AS (
  SELECT n1, n2,
         (sv1 / n1 - sv2 / n2) / 100.0 AS mean_diff,
         (sv1 / n1 - sv2 / n2)
           / SQRT((((svv1 - sv1 * sv1 / n1) + (svv2 - sv2 * sv2 / n2))
                   / (n1 + n2 - 2))) AS d,
         (gt - lt) / (n1 * n2) AS delta
  FROM p CROSS JOIN cliff
)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
       ROUND(mean_diff, 6) AS mean_diff,
       ROUND(d, 6) AS cohens_d,
       ROUND(d * (1 - 3 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
       ROUND(delta, 6) AS cliffs_delta,
       CASE WHEN ABS(d) < 0.2 THEN 'negligible'
            WHEN ABS(d) < 0.5 THEN 'small'
            WHEN ABS(d) < 0.8 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM fit
""",
    doc=f"EFFECT-SIZE battery for '{MWU_A}' vs '{MWU_B}' value — the "
        "practical-significance report the test batteries (z / "
        "Mann-Whitney / Welch / Bayes) need beside their p-values: "
        "Cohen's d on the pooled SD (exact integer cent sums -> "
        "identical doubles), the small-sample Hedges' g correction, "
        "and the distribution-free Cliff's delta computed EXACTLY "
        "from the per-value count grid — gt/lt pair mass as one "
        "grid-squared aggregate over the VALUE-BOUNDED distinct "
        "table (the Mann-Whitney midrank precedent squared: ~2k "
        "levels -> 4M integer products, invariant to row count), "
        "never a row-level pair join. Magnitude binned on the "
        "standard Cohen thresholds.",
    tags=("statistics", "experiment", "aggregate", "pipeline"),
)
def effect_size_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    s = ev.where(
        F.col("event_type").isin(MWU_A, MWU_B) & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    ).persist()
    mo = s.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").cast("double").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("svv"),
    )
    p = mo.agg(
        *[
            F.max(F.when(F.col("g") == grp, F.col(c))).alias(f"{c}{i}")
            for i, grp in ((1, MWU_A), (2, MWU_B))
            for c in ("n", "sv", "svv")
        ]
    )
    pergrid = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == MWU_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == MWU_B, 1).otherwise(0)).alias("cb"),
    ).localCheckpoint(eager=True)
    # Cliff's delta is the same grid-squared shape as the MMD kernel —
    # same enforced pre-flight (r9 VERDICT item 3 sweep)
    from ytspark.operators.temporal import enforce_grid_budget

    enforce_grid_budget(pergrid, "effect_size_battery", GRID_PAIR_BUDGET)
    # r12 (guide §2.5/§2.6): same single-task fix as the MMD kernel sum
    # below — the checkpointed grid is one partition, so the
    # grid-squared Cliff's-delta sum ran serial; spread the stream side
    # (the other side broadcasts; gt/lt are exact integer sums, so
    # partial-sum order is immaterial). Measured 3.3 s -> sub-second.
    a = pergrid.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = pergrid.alias("b")
    cliff = a.crossJoin(b).agg(
        F.sum(
            F.when(
                F.col("a.v") > F.col("b.v"), F.col("a.ca") * F.col("b.cb")
            ).otherwise(0)
        ).alias("gt"),
        F.sum(
            F.when(
                F.col("a.v") < F.col("b.v"), F.col("a.ca") * F.col("b.cb")
            ).otherwise(0)
        ).alias("lt"),
    )
    d = (F.col("sv1") / F.col("n1") - F.col("sv2") / F.col("n2")) / F.sqrt(
        (
            (F.col("svv1") - F.col("sv1") * F.col("sv1") / F.col("n1"))
            + (F.col("svv2") - F.col("sv2") * F.col("sv2") / F.col("n2"))
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    out = p.crossJoin(F.broadcast(cliff)).select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.round(
            (F.col("sv1") / F.col("n1") - F.col("sv2") / F.col("n2")) / 100.0,
            6,
        ).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1 - 3 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6).alias(
            "hedges_g"
        ),
        F.round(
            (F.col("gt") - F.col("lt")) / (F.col("n1") * F.col("n2")), 6
        ).alias("cliffs_delta"),
        F.when(F.abs(d) < 0.2, "negligible")
        .when(F.abs(d) < 0.5, "small")
        .when(F.abs(d) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )
    return finish(out, s)


# ---------------------------------------------------------------------------
# Holm-Bonferroni step-down (FWER control beside the BH step-up)
# ---------------------------------------------------------------------------


@register(
    "holm_bonferroni_nations",
    oracle=f"""
WITH g AS (
  SELECT AVG(c_acctbal) AS mu,
         SUM(c_acctbal * c_acctbal) / COUNT(*)
           - AVG(c_acctbal) * AVG(c_acctbal) AS var_g
  FROM customer
),
per AS (
  SELECT c_nationkey AS nation, COUNT(*) AS n, AVG(c_acctbal) AS mean_bal
  FROM customer GROUP BY c_nationkey
),
z AS (
  SELECT nation, n, mean_bal,
         (mean_bal - g.mu) / SQRT(g.var_g / n) AS zval
  FROM per CROSS JOIN g
),
p AS (
  SELECT nation, n, zval,
         ROUND({_norm_sf2_sql('zval')}, {BH_ROUND}) AS p_value
  FROM z
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_value, nation) AS rk,
         COUNT(*) OVER () AS m
  FROM p
),
dec AS (
  SELECT *, ROUND({BH_ALPHA} / (m - rk + 1), {BH_ROUND}) AS holm_threshold,
         MIN(CASE WHEN p_value <= {BH_ALPHA} / (m - rk + 1)
                  THEN 1 ELSE 0 END)
           OVER (ORDER BY rk) AS pass_all
  FROM ranked
)
SELECT CAST(nation AS BIGINT) AS nation, CAST(n AS BIGINT) AS n,
       ROUND(zval, 6) AS z_score, p_value,
       CAST(rk AS BIGINT) AS p_rank, holm_threshold,
       pass_all = 1 AS rejected
FROM dec
""",
    doc="HOLM-BONFERRONI step-down at FWER "
        "alpha over the same 25 per-nation z-tests the BH query "
        "runs — the FAMILY-WISE error control (prob of ANY false "
        "positive) vs BH's false-discovery RATE: sort p-values, "
        "compare p_(i) to alpha/(m-i+1), and reject only the PREFIX "
        "where every test so far passes (a forward running MIN over "
        "the m=25 rows — the mirror image of BH's reverse cummax). "
        "Registering both step-up and step-down makes the registry a "
        "complete multiple-testing toolkit: Holm for "
        "any-false-positive-is-fatal decisions, BH for discovery "
        "screens. Same Abramowitz-Stegun p-values, same O(m) "
        "post-aggregate cost.",
    tags=("statistics", "experiment", "aggregate", "window", "pipeline"),
)
def holm_bonferroni_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cust = load_tables(spark, sf_dir, "customer")["customer"]
    g = cust.agg(
        F.avg("c_acctbal").alias("mu"),
        (
            F.sum(F.col("c_acctbal") * F.col("c_acctbal")) / F.count(F.lit(1))
            - F.avg("c_acctbal") * F.avg("c_acctbal")
        ).alias("var_g"),
    )
    per = cust.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).alias("n"), F.avg("c_acctbal").alias("mean_bal")
    )
    z = per.crossJoin(F.broadcast(g)).select(
        "nation",
        "n",
        (
            (F.col("mean_bal") - F.col("mu"))
            / F.sqrt(F.col("var_g") / F.col("n"))
        ).alias("zval"),
    )
    az = F.abs(F.col("zval"))
    t = 1.0 / (1.0 + _AS_P * az)
    a1, a2, a3, a4, a5 = _AS_A
    poly = (
        a1 * t + a2 * F.pow(t, 2) + a3 * F.pow(t, 3)
        + a4 * F.pow(t, 4) + a5 * F.pow(t, 5)
    )
    phi = F.exp(-az * az / 2.0) / F.sqrt(F.lit(2.0) * F.lit(3.141592653589793))
    p = z.withColumn("p_value", F.round(2.0 * phi * poly, BH_ROUND))
    w_rank = Window.orderBy("p_value", "nation")
    ranked = p.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    w_step = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    dec = ranked.withColumn(
        "holm_threshold",
        F.round(BH_ALPHA / (F.col("m") - F.col("rk") + 1), BH_ROUND),
    ).withColumn(
        "pass_all",
        F.min(
            F.when(
                F.col("p_value")
                <= BH_ALPHA / (F.col("m") - F.col("rk") + 1),
                1,
            ).otherwise(0)
        ).over(w_step),
    )
    return dec.select(
        F.col("nation").cast("long").alias("nation"),
        F.col("n").cast("long").alias("n"),
        F.round("zval", 6).alias("z_score"),
        "p_value",
        F.col("rk").cast("long").alias("p_rank"),
        "holm_threshold",
        (F.col("pass_all") == 1).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Thompson allocation: P(arm is best) across all five arms
# ---------------------------------------------------------------------------

TH_ARMS = ("click", "error", "purchase", "signup", "view")


def _thompson_oracle() -> str:
    arms = TH_ARMS
    stats = ",\n         ".join(
        f"SUM(CASE WHEN g = '{a}' THEN 1 ELSE 0 END) AS n{i},\n"
        f"         SUM(CASE WHEN g = '{a}' THEN succ ELSE 0 END) AS s{i}"
        for i, a in enumerate(arms)
    )
    lgam = ",\n         ".join(
        f"SUM(CASE WHEN j <= s{i} THEN LN(j) ELSE 0 END) AS lga{i},\n"
        f"         SUM(CASE WHEN j <= n{i} - s{i} THEN LN(j) ELSE 0 END)"
        f" AS lgb{i},\n"
        f"         SUM(CASE WHEN j <= n{i} + 1 THEN LN(j) ELSE 0 END)"
        f" AS lgn{i}"
        for i in range(len(arms))
    )
    pdfs = ",\n         ".join(
        f"EXP(s{i} * LN(x) + (n{i} - s{i}) * LN(1 - x)"
        f" - (lga{i} + lgb{i} - lgn{i})) AS pdf{i}"
        for i in range(len(arms))
    )
    cdfs = ",\n         ".join(
        f"SUM(pdf{i} / {BAB_GRID}) OVER (ORDER BY g) AS cdf{i}"
        for i in range(len(arms))
    )
    terms = ",\n         ".join(
        "SUM(pdf{i} / {g} * {prod}) AS pb{i}".format(
            i=i,
            g=BAB_GRID,
            prod=" * ".join(f"cdf{j}" for j in range(len(arms)) if j != i),
        )
        for i in range(len(arms))
    )
    rows = "\n  UNION ALL\n".join(
        f"  SELECT '{a}' AS arm, CAST(n{i} AS BIGINT) AS n,"
        f" CAST(s{i} AS BIGINT) AS successes,"
        f" ROUND((s{i} + 1.0) / (n{i} + 2.0), 6) AS posterior_mean,"
        f" ROUND(pb{i}, 6) AS p_best"
        f" FROM integ CROSS JOIN stats"
        for i, a in enumerate(arms)
    )
    return f"""
WITH s AS (
  SELECT event_type AS g,
         CASE WHEN value > {BAB_THRESH} THEN 1 ELSE 0 END AS succ
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT {stats}
  FROM s
),
lgam AS (
  SELECT {lgam}
  FROM (SELECT UNNEST(RANGE(1, {BAB_SPINE} + 1)) AS j) CROSS JOIN stats
),
grid AS (
  SELECT (g - 0.5) / {BAB_GRID} AS x, g
  FROM (SELECT UNNEST(RANGE(1, {BAB_GRID} + 1)) AS g)
),
pdfs AS (
  SELECT g,
         {pdfs}
  FROM grid CROSS JOIN stats CROSS JOIN lgam
),
cdfs AS (
  SELECT *,
         {cdfs}
  FROM pdfs
),
integ AS (
  SELECT {terms}
  FROM cdfs
)
{rows}
"""


@register(
    "thompson_allocation_grid",
    oracle=_thompson_oracle(),
    doc=f"THOMPSON ALLOCATION across all {len(TH_ARMS)} arms — the "
        f"k-arm generalization of bayes_ab_beta_posterior and the "
        f"table a bandit allocates traffic from: P(arm i is best) = "
        f"integral pdf_i(x) prod_(j!=i) CDF_j(x) dx on the shared "
        f"{BAB_GRID}-point grid, Beta(1,1) posteriors, exclusion "
        f"products written EXPLICITLY (no division — a zero CDF "
        f"early in the grid can never NaN a term), log-Gammas from "
        f"the same {BAB_SPINE}-row integer spine (Spark has no "
        f"lgamma builtin). The five p_best values sum to ~1 (grid "
        f"discretization disclosed) and ARE the Thompson sampling "
        f"probabilities — a deterministic allocator samples "
        f"proportionally to them. Scale: one events scan for the "
        f"success counts; spine + grid are O(1) constants.",
    tags=("experiment", "statistics", "aggregate", "window", "pipeline"),
)
def thompson_allocation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    arms = TH_ARMS
    k = len(arms)
    ev = load_tables(spark, sf_dir, "events")["events"]
    s = ev.where(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        F.when(F.col("value") > BAB_THRESH, 1).otherwise(0).alias("succ"),
    )
    stats = s.agg(
        *[
            agg
            for i, a in enumerate(arms)
            for agg in (
                F.sum(F.when(F.col("g") == a, 1).otherwise(0)).alias(
                    f"n{i}"
                ),
                F.sum(
                    F.when(F.col("g") == a, F.col("succ")).otherwise(0)
                ).alias(f"s{i}"),
            )
        ]
    ).localCheckpoint(eager=True)
    spine = spark.range(1, BAB_SPINE + 1).select(F.col("id").alias("j"))
    lgam = spine.crossJoin(F.broadcast(stats)).agg(
        *[
            agg
            for i in range(k)
            for agg in (
                F.sum(
                    F.when(F.col("j") <= F.col(f"s{i}"), F.log("j"))
                    .otherwise(0.0)
                ).alias(f"lga{i}"),
                F.sum(
                    F.when(
                        F.col("j") <= F.col(f"n{i}") - F.col(f"s{i}"),
                        F.log("j"),
                    ).otherwise(0.0)
                ).alias(f"lgb{i}"),
                F.sum(
                    F.when(F.col("j") <= F.col(f"n{i}") + 1, F.log("j"))
                    .otherwise(0.0)
                ).alias(f"lgn{i}"),
            )
        ]
    )
    grid = spark.range(1, BAB_GRID + 1).select(
        F.col("id").alias("g"), ((F.col("id") - 0.5) / BAB_GRID).alias("x")
    )
    pdfs = grid.crossJoin(F.broadcast(stats)).crossJoin(
        F.broadcast(lgam)
    ).select(
        "g",
        *[
            F.exp(
                F.col(f"s{i}") * F.log("x")
                + (F.col(f"n{i}") - F.col(f"s{i}")) * F.log(1 - F.col("x"))
                - (F.col(f"lga{i}") + F.col(f"lgb{i}") - F.col(f"lgn{i}"))
            ).alias(f"pdf{i}")
            for i in range(k)
        ],
    )
    wc = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    cdfs = pdfs.select(
        "*",
        *[
            F.sum(F.col(f"pdf{i}") / BAB_GRID).over(wc).alias(f"cdf{i}")
            for i in range(k)
        ],
    )
    prod = {
        i: [F.col(f"cdf{j}") for j in range(k) if j != i] for i in range(k)
    }
    integ = cdfs.agg(
        *[
            F.sum(
                F.col(f"pdf{i}")
                / BAB_GRID
                * prod[i][0]
                * prod[i][1]
                * prod[i][2]
                * prod[i][3]
            ).alias(f"pb{i}")
            for i in range(k)
        ]
    )
    one = stats.crossJoin(F.broadcast(integ))
    rows = [
        one.select(
            F.lit(a).alias("arm"),
            F.col(f"n{i}").cast("long").alias("n"),
            F.col(f"s{i}").cast("long").alias("successes"),
            F.round(
                (F.col(f"s{i}") + 1.0) / (F.col(f"n{i}") + 2.0), 6
            ).alias("posterior_mean"),
            F.round(F.col(f"pb{i}"), 6).alias("p_best"),
        )
        for i, a in enumerate(arms)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# MMD two-sample test (RBF kernel on the exact cent grid)
# ---------------------------------------------------------------------------

MMD_SIGMA_CENTS = 5000.0  # RBF bandwidth: 50 value units
# routing budget for the grid-squared kernel aggregates (MMD, Cliff's
# delta): |distinct quantized values|^2 integer-weighted products
# (r9 VERDICT item 3). Sized ABOVE the certified workload — the cent
# grid is 13,241 distinct values at sf0.1 (1.75e8 products, seconds of
# work; the r10 multi-SF sweep measured it) and the value domain is a
# bounded enum, so the grid grows sublinearly with rows. 1e10 (a 100k
# grid) stays tractable on a cluster; the guard exists for the
# OPEN-ENDED domain (an unquantized or high-cardinality value column:
# millions of distinct values -> 1e12+ products), where the right move
# is coarsening the quantization grain, not a bigger cluster.
GRID_PAIR_BUDGET = 10_000_000_000


@register(
    "mmd_rbf_two_sample",
    oracle=f"""
WITH s AS (
  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type IN ('{MWU_A}', '{MWU_B}') AND value IS NOT NULL
),
pergrid AS (
  SELECT v, SUM(CASE WHEN g = '{MWU_A}' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN g = '{MWU_B}' THEN 1 ELSE 0 END) AS cb
  FROM s GROUP BY v
),
tot AS (SELECT SUM(ca) AS n1, SUM(cb) AS n2 FROM pergrid),
pairs AS (
  SELECT SUM(a.ca * b.ca * EXP(-(CAST(a.v - b.v AS DOUBLE))
             * (a.v - b.v) / (2 * {MMD_SIGMA_CENTS} * {MMD_SIGMA_CENTS})))
           AS sxx,
         SUM(a.cb * b.cb * EXP(-(CAST(a.v - b.v AS DOUBLE))
             * (a.v - b.v) / (2 * {MMD_SIGMA_CENTS} * {MMD_SIGMA_CENTS})))
           AS syy,
         SUM(a.ca * b.cb * EXP(-(CAST(a.v - b.v AS DOUBLE))
             * (a.v - b.v) / (2 * {MMD_SIGMA_CENTS} * {MMD_SIGMA_CENTS})))
           AS sxy
  FROM pergrid a CROSS JOIN pergrid b
)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
       ROUND({MMD_SIGMA_CENTS} / 100, 2) AS rbf_sigma,
       ROUND(sxx / (CAST(n1 AS DOUBLE) * n1)
             + syy / (CAST(n2 AS DOUBLE) * n2)
             - 2 * sxy / (CAST(n1 AS DOUBLE) * n2), 8) AS mmd2_biased
FROM pairs CROSS JOIN tot
""",
    doc=f"MMD TWO-SAMPLE TEST (Gretton et al. 2012 — maximum mean "
        f"discrepancy with an RBF kernel) between '{MWU_A}' and "
        f"'{MWU_B}' values — the modern kernel two-sample statistic "
        f"beside the classical battery (KS tail-sensitive, "
        f"Mann-Whitney location, Welch means): MMD^2 = E k(x,x') + "
        f"E k(y,y') - 2 E k(x,y), sensitive to ANY distribution "
        f"difference the kernel can see. The three pair-expectation "
        f"terms collapse to ONE value-grid-squared aggregate via "
        f"per-value counts (the Cliff's-delta trick with an RBF "
        f"weight instead of a sign): ~grid^2 integer-weighted kernel "
        f"products, invariant to row count, never a row-level pair "
        f"join. Biased V-statistic (self-pairs included) disclosed; "
        f"bandwidth sigma = {MMD_SIGMA_CENTS / 100} value units on "
        f"the exact cent grid.",
    tags=("statistics", "drift", "experiment", "aggregate", "pipeline"),
)
def mmd_rbf_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    s = ev.where(
        F.col("event_type").isin(MWU_A, MWU_B) & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    pergrid = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == MWU_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("g") == MWU_B, 1).otherwise(0)).alias("cb"),
    ).localCheckpoint(eager=True)
    # the grid crossJoin below is |distinct v|^2 — enforce the routing
    # budget before planning it (the checkpoint makes the count free)
    from ytspark.operators.temporal import enforce_grid_budget

    enforce_grid_budget(pergrid, "mmd_rbf_two_sample", GRID_PAIR_BUDGET)
    tot = pergrid.agg(F.sum("ca").alias("n1"), F.sum("cb").alias("n2"))
    # r12 (guide §2.5/§2.6): the checkpointed grid is one small
    # partition, so the grid-squared nested-loop kernel sum ran as a
    # SINGLE task (~1.75e8 exp() products serial at sf0.1, measured
    # 8.1 s). Spread the STREAM side across the executor pool — the
    # other side is broadcast, so partitioning is unconstrained and
    # each task sums an even slice of the grid rows; partial sums
    # merge in the final agg exactly as any parallel SUM does.
    par = spark.sparkContext.defaultParallelism
    a, b = pergrid.repartition(par).alias("a"), pergrid.alias("b")
    two_s2 = 2 * MMD_SIGMA_CENTS * MMD_SIGMA_CENTS
    kern = F.exp(
        -(F.col("a.v") - F.col("b.v")).cast("double")
        * (F.col("a.v") - F.col("b.v"))
        / two_s2
    )
    pairs = a.crossJoin(b).agg(
        F.sum(F.col("a.ca") * F.col("b.ca") * kern).alias("sxx"),
        F.sum(F.col("a.cb") * F.col("b.cb") * kern).alias("syy"),
        F.sum(F.col("a.ca") * F.col("b.cb") * kern).alias("sxy"),
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.round(F.lit(MMD_SIGMA_CENTS / 100), 2).alias("rbf_sigma"),
        F.round(
            F.col("sxx") / (F.col("n1").cast("double") * F.col("n1"))
            + F.col("syy") / (F.col("n2").cast("double") * F.col("n2"))
            - 2 * F.col("sxy") / (F.col("n1").cast("double") * F.col("n2")),
            8,
        ).alias("mmd2_biased"),
    )


# ---------------------------------------------------------------------------
# Two-source merge: Google-Analytics-shaped sessions x YouTube channel stats
# ---------------------------------------------------------------------------


def _ga_yt_oracle() -> str:
    """DuckDB twin of the two-source merge: both fixtures regenerate
    from the literal (title, customUrl, seed) channel table plus
    RANGE(days) with the exact integer formulas of
    sources/ganalytics.py and sources/youtube.py — the whole merge is
    integer arithmetic, so the join demo is hash-certifiable."""
    from ytspark.sources.ganalytics import GA_DAYS, channel_seeds

    chans = ",\n         ".join(
        f"('{title}', '{url}', {seed})"
        for title, url, seed in channel_seeds()
    )
    return f"""
WITH chan(title, url, seed) AS (
  VALUES {chans}
),
days AS (SELECT UNNEST(RANGE(0, {GA_DAYS})) AS d),
ga AS (
  SELECT c.title, c.url, d.d,
         500 + c.seed % 700 + (c.seed * 131 + d.d * 37) % 400 AS sessions,
         (500 + c.seed % 700 + (c.seed * 131 + d.d * 37) % 400) * 3
           + (c.seed * 17 + d.d * 11) % 97 AS pageviews
  FROM chan c CROSS JOIN days d
),
yt AS (
  SELECT c.url, d.d,
         (CAST(c.seed AS BIGINT) * 1000003 + d.d * 9871) * 1000 AS views,
         CAST(c.seed * 10007 + d.d * 97 AS BIGINT) AS subs
  FROM chan c CROSS JOIN days d
),
merged AS (
  SELECT g.title, g.url, g.d, g.sessions, g.pageviews, y.views, y.subs
  FROM ga g JOIN yt y ON y.url = g.url AND y.d = g.d
)
SELECT title AS channel,
       url AS custom_url,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(sessions) AS BIGINT) AS total_sessions,
       CAST(SUM(pageviews) AS BIGINT) AS total_pageviews,
       CAST(MAX(views) - MIN(views) AS BIGINT) AS yt_view_gain,
       CAST(MAX(subs) - MIN(subs) AS BIGINT) AS yt_sub_gain,
       CAST((MAX(views) - MIN(views)) * 1000 // SUM(sessions) AS BIGINT)
         AS views_per_session_x1000
FROM merged
GROUP BY title, url
"""


@register(
    "ga_youtube_join_mart",
    oracle=_ga_yt_oracle(),
    doc="THE REFERENCE'S NORTH-STAR SENTENCE, demonstrated: 'merging "
        "Google Analytics with YouTube API data'. The GA side is the "
        "GA4-shaped sessions-by-day fixture (sources/ganalytics.py — "
        "runReport rows with string-typed metricValues, parsed and "
        "ANSI-cast), the YouTube side is the channels().list fixture "
        "(sources/youtube.py — the S1 source), and the merge joins "
        "per-channel daily site traffic to the channel's daily "
        "subscriber/view snapshots on the customUrl bridge a "
        "warehouse would use between a GA property and a channel. "
        "Reports per channel: traffic totals, YouTube view/subscriber "
        "gain over the window, and views-per-session (x1000 integer). "
        "Every metric is exact integer arithmetic, so the two-source "
        "merge is hash-certified against the DuckDB twin that "
        "regenerates both fixtures. Scale: both sides arrive "
        "pre-aggregated per (channel, day) — the join key spine is "
        "O(channels x days) and the channel dim side broadcasts; at "
        "real scale the GA side is a partitioned daily export and "
        "this exact plan holds with the export path as the scan.",
    tags=("pipeline", "join", "source", "aggregate"),
)
def ga_youtube_join_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.sources.ganalytics import GA_DAYS, sessions_frame
    from ytspark.sources.youtube import (
        REFERENCE_CHANNEL_TITLES,
        channel_payload,
    )

    ga = sessions_frame(spark, days=GA_DAYS).select(
        "customUrl",
        F.datediff(
            "date", F.lit("2026-01-01").cast("date")
        ).alias("d"),
        "sessions",
        "pageviews",
    )
    # YouTube side: one statistics snapshot per channel per day from
    # the S1 fixture source (string-typed counters, ANSI-cast — the
    # same payloads the ingest path flattens)
    yt_rows = []
    for title in REFERENCE_CHANNEL_TITLES:
        for d in range(GA_DAYS):
            item = channel_payload(title, tick=d)["items"][0]
            yt_rows.append(
                (
                    title,
                    item["snippet"]["customUrl"],
                    d,
                    item["statistics"]["viewCount"],
                    item["statistics"]["subscriberCount"],
                )
            )
    yt = spark.createDataFrame(
        yt_rows,
        "title string, customUrl string, d int, "
        "viewCount string, subscriberCount string",
    ).select(
        "title",
        "customUrl",
        "d",
        F.col("viewCount").cast("long").alias("views"),
        F.col("subscriberCount").cast("long").alias("subs"),
    )
    merged = ga.join(F.broadcast(yt), ["customUrl", "d"])
    return (
        merged.groupBy(
            F.col("title").alias("channel"),
            F.col("customUrl").alias("custom_url"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("sessions").alias("total_sessions"),
            F.sum("pageviews").alias("total_pageviews"),
            (F.max("views") - F.min("views")).alias("yt_view_gain"),
            (F.max("subs") - F.min("subs")).alias("yt_sub_gain"),
            F.expr(
                "(max(views) - min(views)) * 1000 div sum(sessions)"
            ).alias("views_per_session_x1000"),
        )
        .select(
            "channel",
            "custom_url",
            F.col("n_days").cast("long"),
            F.col("total_sessions").cast("long"),
            F.col("total_pageviews").cast("long"),
            F.col("yt_view_gain").cast("long"),
            F.col("yt_sub_gain").cast("long"),
            F.col("views_per_session_x1000").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified sampling with Neyman allocation (training-mixture sampling)
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000  # total sample size across strata


@register(
    "stratified_neyman_sample",
    oracle=f"""
WITH pop AS (
  SELECT c_mktsegment AS stratum,
         c_custkey AS k,
         CAST(c_acctbal AS DECIMAL(18,2)) AS y,
         {knuth_hash_sql('c_custkey')} AS h
  FROM customer
),
mom AS (
  SELECT stratum, COUNT(*) AS nh,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pop GROUP BY stratum
),
sd AS (
  SELECT stratum, nh, sy,
         SQRT((syy - sy * sy / nh) / (nh - 1)) AS s
  FROM mom
),
wt AS (
  SELECT stratum, nh, s, nh * s AS w,
         SUM(nh * s) OVER () AS wtot
  FROM sd
),
alloc AS (
  SELECT stratum, nh, s,
         CAST(FLOOR({NEYMAN_BUDGET} * w / wtot) AS BIGINT) AS base,
         {NEYMAN_BUDGET} * w / wtot
           - FLOOR({NEYMAN_BUDGET} * w / wtot) AS frac,
         CAST(SUM(FLOOR({NEYMAN_BUDGET} * w / wtot)) OVER () AS BIGINT)
           AS base_tot
  FROM wt
),
final AS (
  SELECT stratum, nh, s, base, base_tot,
         base + CASE WHEN ROW_NUMBER() OVER (
                         ORDER BY frac DESC, stratum)
                       <= {NEYMAN_BUDGET} - base_tot
                     THEN 1 ELSE 0 END AS n_alloc
  FROM alloc
),
ranked AS (
  SELECT p.stratum, p.y,
         ROW_NUMBER() OVER (PARTITION BY p.stratum
                            ORDER BY p.h, p.k) AS rk
  FROM pop p
),
sample AS (
  SELECT r.stratum,
         CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM(r.y) * 100 AS BIGINT) AS sample_sum_cents
  FROM ranked r JOIN final f ON f.stratum = r.stratum
  WHERE r.rk <= f.n_alloc
  GROUP BY r.stratum
)
SELECT f.stratum,
       CAST(f.nh AS BIGINT) AS n_pop,
       ROUND(f.s, 4) AS pop_stddev,
       CAST(f.n_alloc AS BIGINT) AS n_alloc,
       s.n_sampled,
       s.sample_sum_cents
FROM final f JOIN sample s ON s.stratum = f.stratum
""",
    doc=f"STRATIFIED SAMPLING with NEYMAN ALLOCATION — the "
        f"variance-optimal way to spend a {NEYMAN_BUDGET}-row "
        f"labeling/eval budget across strata (n_h proportional to "
        f"N_h x S_h, so volatile strata get more of the budget than "
        f"proportional allocation would give): per-stratum stddev "
        f"from DECIMAL-exact power sums (correctly-rounded SQRT, so "
        f"the weights are deterministic scalar trees), integer "
        f"allocation by largest-remainder rounding (floor + "
        f"distribute the shortfall by fractional part with a stratum "
        f"tie-break — allocations always sum exactly to the budget), "
        f"then the sample itself drawn deterministically per stratum "
        f"by Knuth-hash order so both engines certify the SAME rows "
        f"(sample sum reported in exact integer cents). This is the "
        f"training-mixture/eval-set sampling primitive; at 100 TB "
        f"the hash rank is a per-stratum top-n_alloc "
        f"(TakeOrderedAndProject), never a full sort.",
    tags=("pipeline", "sampling", "statistics", "aggregate"),
)
def stratified_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.operators.text import knuth_hash_col

    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pop = cust.select(
        F.col("c_mktsegment").alias("stratum"),
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("y"),
        knuth_hash_col(F.col("c_custkey")).alias("h"),
    )
    mom = pop.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    sd = mom.select(
        "stratum",
        "nh",
        F.sqrt(
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("nh"))
            / (F.col("nh") - 1)
        ).alias("s"),
    )
    wt = sd.select(
        "stratum",
        "nh",
        "s",
        (F.col("nh") * F.col("s")).alias("w"),
        F.sum(F.col("nh") * F.col("s"))
        .over(Window.partitionBy())
        .alias("wtot"),
    )
    share = F.lit(NEYMAN_BUDGET) * F.col("w") / F.col("wtot")
    alloc = wt.select(
        "stratum",
        "nh",
        "s",
        F.floor(share).cast("long").alias("base"),
        (share - F.floor(share)).alias("frac"),
        F.sum(F.floor(share).cast("long"))
        .over(Window.partitionBy())
        .alias("base_tot"),
    )
    wrem = Window.orderBy(F.col("frac").desc(), "stratum")
    final = alloc.select(
        "stratum",
        "nh",
        "s",
        (
            F.col("base")
            + F.when(
                F.row_number().over(wrem)
                <= F.lit(NEYMAN_BUDGET) - F.col("base_tot"),
                1,
            ).otherwise(0)
        ).alias("n_alloc"),
    )
    wrk = Window.partitionBy("stratum").orderBy("h", "k")
    ranked = pop.select(
        "stratum", "y", F.row_number().over(wrk).alias("rk")
    )
    sample = (
        ranked.join(F.broadcast(final.select("stratum", "n_alloc")), "stratum")
        .where(F.col("rk") <= F.col("n_alloc"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            (F.sum("y") * 100).cast("long").alias("sample_sum_cents"),
        )
    )
    return final.join(sample, "stratum").select(
        "stratum",
        F.col("nh").cast("long").alias("n_pop"),
        F.round("s", 4).alias("pop_stddev"),
        F.col("n_alloc").cast("long").alias("n_alloc"),
        "n_sampled",
        "sample_sum_cents",
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence + Cramer's V (categorical association)
# ---------------------------------------------------------------------------

CHI2_CRIT_DF16 = 26.296228  # 5% critical value, df = (5-1)x(5-1)


@register(
    "chi2_independence_cramers_v",
    oracle=f"""
WITH obs AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
mar AS (
  SELECT seg, pri, o,
         SUM(o) OVER (PARTITION BY seg) AS r,
         SUM(o) OVER (PARTITION BY pri) AS c,
         SUM(o) OVER () AS n
  FROM obs
),
terms AS (
  -- cross-multiplied form (o*n - r*c)^2 / (n*r*c): every term is an
  -- exact-integer rational evaluated by one deterministic division
  SELECT n,
         CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
           / (CAST(n AS DOUBLE) * r * c) AS t
  FROM mar
),
chi AS (
  SELECT MAX(n) AS n, COUNT(*) AS n_cells, SUM(t) AS chi2 FROM terms
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(16 AS BIGINT) AS dof,
       ROUND(chi2, 4) AS chi2,
       ROUND(SQRT(chi2 / (n * 4)), 6) AS cramers_v,
       chi2 > {CHI2_CRIT_DF16} AS significant_5pct
FROM chi
""",
    doc="CHI-SQUARE TEST OF INDEPENDENCE + CRAMER'S V for the "
        "(market segment x order priority) contingency table — the "
        "categorical-association readout every feature audit runs "
        "before one-hot-encoding two columns that might be redundant "
        "(V ~ 0 here certifies TPC-H's independence by construction; "
        "a real warehouse uses the same query to FIND the dependent "
        "pairs). Each chi-square term uses the cross-multiplied form "
        "(o*n - r*c)^2 / (n*r*c), exact-integer rationals with one "
        "deterministic division, so the 25-term sum carries only "
        "ulp-level order sensitivity, absorbed by 4 dp at O(10) "
        "magnitude. One join + one aggregate + window marginals over "
        "the 25-cell table; df = (5-1)(5-1) = 16 with the 5% "
        "critical value inlined.",
    tags=("statistics", "quality", "aggregate", "window"),
)
def chi2_independence_cramers_v(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    obs = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    mar = obs.select(
        "o",
        F.sum("o").over(Window.partitionBy("seg")).alias("r"),
        F.sum("o").over(Window.partitionBy("pri")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    num = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    term = num * num / (
        F.col("n").cast("double") * F.col("r") * F.col("c")
    )
    chi = mar.select(term.alias("t"), "n").agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("t").alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.lit(16).cast("long").alias("dof"),
        F.round("chi2", 4).alias("chi2"),
        F.round(F.sqrt(F.col("chi2") / (F.col("n") * 4)), 6).alias(
            "cramers_v"
        ),
        (F.col("chi2") > CHI2_CRIT_DF16).alias("significant_5pct"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (A-ExpJ / A-ES exponential keys)
# ---------------------------------------------------------------------------

AEXP_K = 100  # sample size


@register(
    "weighted_sample_aexpj",
    oracle=f"""
WITH pop AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w,
         ({knuth_hash_sql('o_orderkey')} + 1.0) / 4294967296.0 AS u
  FROM orders
),
keyed AS (
  -- Efraimidis-Spirakis: top-k by u^(1/w), equivalently ln(u)/w desc
  SELECT k, pri, w, LN(u) / w AS rk FROM pop
),
topk AS (
  SELECT k, pri, w FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rk DESC, k) AS rn FROM keyed
  ) WHERE rn <= {AEXP_K}
)
SELECT pri,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(w) AS BIGINT) AS sample_weight_cents,
       CAST(MIN(k) AS BIGINT) AS min_key,
       CAST(MAX(k) AS BIGINT) AS max_key
FROM topk
GROUP BY pri
""",
    doc=f"WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis-Spirakis "
        f"A-ES, the distributed-systems standard): each order draws "
        f"a deterministic hash-uniform u and the top-{AEXP_K} by "
        f"u^(1/w) (evaluated as ln(u)/w — same order, no overflow) "
        f"form a sample where inclusion probability tracks order "
        f"value — the size-biased sampling every data-mixture and "
        f"eval-set builder needs, made replayable by deriving u from "
        f"the Knuth hash instead of an RNG so BOTH engines certify "
        f"the identical sample. Report: sample census per priority "
        f"with exact integer cent weights and key-range fingerprints."
        f" Scale: the selection is a top-k (TakeOrderedAndProject), "
        f"never a full sort — mergeable across partitions by "
        f"construction, the property that makes A-ES the streaming/"
        f"distributed choice. Ranking on ln(u)/w doubles is "
        f"deterministic-tree per row; adjacent-rank near-ties are "
        f"measure-zero for continuous u (audit class RANK_DOUBLE, "
        f"adjudicated LOW by key-gap measurement).",
    tags=("pipeline", "sampling", "topk", "aggregate"),
)
def weighted_sample_aexpj(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytspark.operators.text import knuth_hash_col

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    pop = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("w"),
        (
            (knuth_hash_col(F.col("o_orderkey")) + 1.0)
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    keyed = pop.select(
        "k", "pri", "w", (F.log("u") / F.col("w")).alias("rk")
    )
    # top-k via sort+limit so Catalyst plans TakeOrderedAndProject
    # (per-partition heaps + merge), never a single-partition window
    topk = keyed.orderBy(F.desc("rk"), "k").limit(AEXP_K)
    return topk.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("w").cast("long").alias("sample_weight_cents"),
        F.min("k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Leave-one-group-out influence on the revenue trend (data valuation)
# ---------------------------------------------------------------------------


@register(
    "loo_group_influence",
    oracle="""
WITH pts AS (
  SELECT o_orderpriority AS g,
         DATEDIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
           AS x,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM orders
),
gs AS (
  SELECT g, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM pts GROUP BY g
),
tot AS (
  SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
         SUM(sxx) AS sxx, SUM(sxy) AS sxy
  FROM gs
),
fit AS (
  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
  FROM tot
),
loo AS (
  SELECT g.g, g.n,
         (CAST(t.n - g.n AS DOUBLE) * CAST(t.sxy - g.sxy AS DOUBLE)
          - CAST(t.sx - g.sx AS DOUBLE) * CAST(t.sy - g.sy AS DOUBLE))
         / (CAST(t.n - g.n AS DOUBLE) * CAST(t.sxx - g.sxx AS DOUBLE)
            - CAST(t.sx - g.sx AS DOUBLE) * CAST(t.sx - g.sx AS DOUBLE))
           AS slope_without
  FROM gs g CROSS JOIN tot t
)
SELECT l.g AS grp,
       CAST(l.n AS BIGINT) AS n_orders,
       ROUND(f.slope, 6) AS slope_cents_per_day,
       ROUND(l.slope_without, 6) AS slope_without_group,
       ROUND(l.slope_without - f.slope, 6) AS influence
FROM loo l CROSS JOIN fit f
""",
    doc="LEAVE-ONE-GROUP-OUT INFLUENCE — closed-form data valuation: "
        "how much does each order-priority cohort move the global "
        "revenue-per-day OLS slope? Because OLS is a function of "
        "power sums, the without-group fit is (total sums - group "
        "sums) — ONE grouped aggregate, then every LOO refit is a "
        "scalar expression, the trick that makes group-level "
        "influence O(groups), not O(groups x data), at any scale "
        "(the same identity behind cross-validation of linear "
        "models). HUGEINT/DECIMAL-exact sums feed deterministic "
        "double trees (the normal-equations precedent), so the "
        "influence values are pinned. A cohort whose removal flips "
        "or widens the slope is where the trend actually lives — "
        "the data-valuation question asked before buying, pruning, "
        "or reweighting a source.",
    tags=("learn", "statistics", "pipeline", "aggregate"),
)
def loo_group_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    pts = orders.select(
        F.col("o_orderpriority").alias("g"),
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("x"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    gs = pts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    tot = gs.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def slope(n, sx, sy, sxx, sxy):
        return (n * sxy - sx * sy) / (n * sxx - sx * sx)

    fit = tot.select(
        slope(d("tn"), d("tsx"), d("tsy"), d("tsxx"), d("tsxy")).alias(
            "slope"
        ),
        "tn",
        "tsx",
        "tsy",
        "tsxx",
        "tsxy",
    )
    loo = gs.crossJoin(F.broadcast(fit)).select(
        "g",
        "n",
        "slope",
        slope(
            (F.col("tn") - F.col("n")).cast("double"),
            (F.col("tsx") - F.col("sx")).cast("double"),
            (F.col("tsy") - F.col("sy")).cast("double"),
            (F.col("tsxx") - F.col("sxx")).cast("double"),
            (F.col("tsxy") - F.col("sxy")).cast("double"),
        ).alias("slope_without"),
    )
    return loo.select(
        F.col("g").alias("grp"),
        F.col("n").cast("long").alias("n_orders"),
        F.round("slope", 6).alias("slope_cents_per_day"),
        F.round("slope_without", 6).alias("slope_without_group"),
        F.round(F.col("slope_without") - F.col("slope"), 6).alias(
            "influence"
        ),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry strength scores from pairwise daily wins (preference eval)
# ---------------------------------------------------------------------------

BT_ITERS = 5  # unrolled minorize-maximize iterations


def _bt_oracle() -> str:
    steps = []
    prev = "p0"
    for r in range(1, BT_ITERS + 1):
        steps.append(f"""
p{r} AS (
  SELECT i.pri,
         i.wins / SUM(g.n / (i.p + j.p)) AS p
  FROM {prev} i
  JOIN games g ON g.a = i.pri OR g.b = i.pri
  JOIN {prev} j ON j.pri = CASE WHEN g.a = i.pri THEN g.b ELSE g.a END
  GROUP BY i.pri, i.wins
),
p{r}w AS (
  SELECT p{r}.pri, p{r}.p, w.wins FROM p{r} JOIN wins w USING (pri)
)""")
        prev = f"p{r}w"
    return f"""
WITH daily AS (
  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
         COUNT(*) AS c
  FROM orders GROUP BY 1, 2
),
pairs AS (
  SELECT a.pri AS a, b.pri AS b,
         SUM(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS wa,
         SUM(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) AS wb
  FROM daily a JOIN daily b ON a.d = b.d AND a.pri < b.pri
  GROUP BY 1, 2
),
games AS (
  SELECT a, b, CAST(wa + wb AS DOUBLE) AS n FROM pairs WHERE wa + wb > 0
),
wins AS (
  SELECT pri, CAST(SUM(w) AS DOUBLE) AS wins FROM (
    SELECT a AS pri, wa AS w FROM pairs
    UNION ALL SELECT b, wb FROM pairs
  ) GROUP BY pri
),
p0 AS (SELECT pri, wins, 1.0 AS p FROM wins),{",".join(steps)},
tot AS (SELECT SUM(p) AS tp FROM {prev})
SELECT f.pri,
       CAST(f.wins AS BIGINT) AS total_wins,
       ROUND(f.p / t.tp, 6) AS bt_score,
       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(f.p / t.tp, 6) DESC,
                               f.pri) AS BIGINT) AS rank
FROM {prev} f CROSS JOIN tot t
"""


@register(
    "bradley_terry_priorities",
    oracle=_bt_oracle(),
    doc=f"BRADLEY-TERRY strength estimation from pairwise outcomes — "
        f"the model behind every preference-based eval leaderboard "
        f"(chatbot-arena-style pairwise votes -> skill scores): "
        f"'matches' are days, the priority with more orders that day "
        f"beats the other (10 pairings x O(days) comparisons from "
        f"ONE daily rollup self-join), and {BT_ITERS} unrolled "
        f"minorize-maximize iterations p_i <- W_i / sum_j n_ij / "
        f"(p_i + p_j) converge the scores, normalized to sum 1 and "
        f"ranked with a deterministic tie-break. Near-uniform scores "
        f"certify TPC-H's priority balance; on real preference data "
        f"the same query ranks model variants. Scale: everything "
        f"after the daily rollup is O(items^2) on the bounded item "
        f"dimension; the iteration joins never touch data again. "
        f"Scores are O(1) at 6 dp (4-term engine-ordered sums are "
        f"~1e-15 relative).",
    tags=("learn", "evaluation", "statistics", "aggregate"),
)
def bradley_terry_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.pri") < F.col("b.pri")),
        )
        .groupBy(F.col("a.pri").alias("pa"), F.col("b.pri").alias("pb"))
        .agg(
            F.sum(
                F.when(F.col("a.c") > F.col("b.c"), 1).otherwise(0)
            ).alias("wa"),
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1).otherwise(0)
            ).alias("wb"),
        )
    )
    # checkpoint the 10-row pair table: wins, games and every MM
    # iteration read it, and unbroken lineage would re-run the daily
    # self-join 2^ITERS times (measured 17.7 s -> 1.1 s at sf0.1)
    pairs = pairs.localCheckpoint(eager=True)
    games = pairs.where(F.col("wa") + F.col("wb") > 0).select(
        F.col("pa").alias("ga"),
        F.col("pb").alias("gb"),
        (F.col("wa") + F.col("wb")).cast("double").alias("n"),
    ).persist()
    wins = (
        pairs.select(F.col("pa").alias("pri"), F.col("wa").alias("w"))
        .unionAll(pairs.select("pb", "wb"))
        .groupBy("pri")
        .agg(F.sum("w").cast("double").alias("wins"))
    )
    cur = wins.select("pri", "wins", F.lit(1.0).alias("p"))
    for _ in range(BT_ITERS):
        # each iteration reads cur TWICE (self + opponent side):
        # checkpoint the 5-row state so lineage stays linear
        cur = cur.localCheckpoint(eager=True)
        opp = cur.select(
            F.col("pri").alias("opp_pri"), F.col("p").alias("opp_p")
        )
        contrib = (
            cur.join(
                games,
                (F.col("ga") == F.col("pri")) | (F.col("gb") == F.col("pri")),
            )
            .select(
                "pri",
                "wins",
                "p",
                "n",
                F.when(F.col("ga") == F.col("pri"), F.col("gb"))
                .otherwise(F.col("ga"))
                .alias("opp_pri"),
            )
            .join(F.broadcast(opp), "opp_pri")
        )
        cur = contrib.groupBy("pri", "wins").agg(
            (
                F.first("wins")
                / F.sum(F.col("n") / (F.col("p") + F.col("opp_p")))
            ).alias("p")
        ).select("pri", "wins", "p")
    tot = cur.agg(F.sum("p").alias("tp"))
    out = cur.crossJoin(F.broadcast(tot)).select(
        "pri",
        F.col("wins").cast("long").alias("total_wins"),
        F.round(F.col("p") / F.col("tp"), 6).alias("bt_score"),
    )
    w = Window.orderBy(F.desc(F.col("bt_score")), "pri")
    out = out.withColumn("rank", F.row_number().over(w).cast("long"))
    return finish(out, games)


# ---------------------------------------------------------------------------
# Propensity-score stratification ATE (observational causal readout)
# ---------------------------------------------------------------------------

PSA_TREAT_SEGMENT = "BUILDING"
PSA_BUCKET_W = 1100  # acctbal in [-1000, 10000) -> 10 fixed strata


@register(
    "propensity_stratification_ate",
    oracle=f"""
WITH outcome AS (
  SELECT o_custkey AS k,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS y_cents
  FROM orders GROUP BY 1
),
units AS (
  SELECT c.c_custkey AS k,
         CASE WHEN c.c_mktsegment = '{PSA_TREAT_SEGMENT}'
              THEN 1 ELSE 0 END AS t,
         CAST(FLOOR((c.c_acctbal + 1000) / {PSA_BUCKET_W}) AS BIGINT)
           AS stratum,
         CAST(COALESCE(o.y_cents, 0) AS BIGINT) AS y
  FROM customer c LEFT JOIN outcome o ON o.k = c.c_custkey
),
cells AS (
  SELECT stratum,
         SUM(t) AS n1, SUM(1 - t) AS n0,
         SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS s1,
         SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS s0
  FROM units GROUP BY stratum
),
usable AS (SELECT * FROM cells WHERE n1 > 0 AND n0 > 0),
tot AS (SELECT SUM(n1 + n0) AS n FROM usable)
SELECT CAST((SELECT COUNT(*) FROM usable) AS BIGINT) AS n_strata,
       CAST((SELECT SUM(n1) FROM usable) AS BIGINT) AS n_treated,
       CAST((SELECT SUM(n0) FROM usable) AS BIGINT) AS n_control,
       ROUND(SUM((CAST(n1 + n0 AS DOUBLE) / t.n)
                 * (CAST(s1 AS DOUBLE) / n1
                    - CAST(s0 AS DOUBLE) / n0)) / 100, 4)
         AS ate_dollars,
       ROUND(((SELECT CAST(SUM(s1) AS DOUBLE) / SUM(n1) FROM usable)
              - (SELECT CAST(SUM(s0) AS DOUBLE) / SUM(n0) FROM usable))
             / 100, 4) AS unadjusted_diff_dollars
FROM usable CROSS JOIN tot t
GROUP BY t.n
""",
    doc=f"PROPENSITY-SCORE STRATIFICATION ATE — the observational "
        f"causal estimator used when no rollout date exists for DiD: "
        f"customers stratify on the confounder proxy (account "
        f"balance, fixed-width strata so both engines bucket "
        f"identically), treatment is '{PSA_TREAT_SEGMENT}' "
        f"membership, outcome is lifetime order value in exact "
        f"integer cents, and the ATE is the stratum-size-weighted "
        f"mean of within-stratum treated-minus-control differences "
        f"over strata with BOTH groups present — reported beside the "
        f"unadjusted difference so the confounding correction is "
        f"visible. Completes the causal family (DiD for rollouts, "
        f"CUPED for experiments, this for pure observation). Every "
        f"mean is an exact-integer ratio (deterministic division); "
        f"the 10-term weighted sum is engine-ordered at O(1e2) "
        f"magnitude, absorbed by 4 dp. One join + one grouped "
        f"aggregate; strata are O(1).",
    tags=("experiment", "statistics", "pipeline", "aggregate"),
)
def propensity_stratification_ate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    outcome = t["orders"].groupBy(F.col("o_custkey").alias("k")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100).alias(
            "y_cents"
        )
    )
    units = (
        t["customer"]
        .join(outcome, F.col("c_custkey") == F.col("k"), "left")
        .select(
            (F.col("c_mktsegment") == PSA_TREAT_SEGMENT)
            .cast("int")
            .alias("t"),
            F.floor((F.col("c_acctbal") + 1000) / PSA_BUCKET_W)
            .cast("long")
            .alias("stratum"),
            F.coalesce(F.col("y_cents"), F.lit(0)).cast("long").alias("y"),
        )
    )
    cells = units.groupBy("stratum").agg(
        F.sum("t").alias("n1"),
        F.sum(1 - F.col("t")).alias("n0"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).alias("s0"),
    )
    usable = cells.where((F.col("n1") > 0) & (F.col("n0") > 0)).persist()
    tot = usable.agg(
        F.sum(F.col("n1") + F.col("n0")).alias("n"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("n1").alias("nt"),
        F.sum("n0").alias("nc"),
        F.sum("s1").alias("st"),
        F.sum("s0").alias("sc"),
    )
    weighted = usable.crossJoin(F.broadcast(tot)).select(
        "n_strata",
        "nt",
        "nc",
        "st",
        "sc",
        "n",
        (
            ((F.col("n1") + F.col("n0")).cast("double") / F.col("n"))
            * (
                F.col("s1").cast("double") / F.col("n1")
                - F.col("s0").cast("double") / F.col("n0")
            )
        ).alias("contrib"),
    )
    out = weighted.groupBy("n_strata", "nt", "nc", "st", "sc").agg(
        F.sum("contrib").alias("ate_cents")
    ).select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("nt").cast("long").alias("n_treated"),
        F.col("nc").cast("long").alias("n_control"),
        F.round(F.col("ate_cents") / 100, 4).alias("ate_dollars"),
        F.round(
            (
                F.col("st").cast("double") / F.col("nt")
                - F.col("sc").cast("double") / F.col("nc")
            )
            / 100,
            4,
        ).alias("unadjusted_diff_dollars"),
    )
    return finish(out, usable)


# ---------------------------------------------------------------------------
# Theil inequality index with within/between decomposition
# ---------------------------------------------------------------------------


@register(
    "theil_inequality_decomposition",
    oracle="""
WITH y AS (
  SELECT c.c_mktsegment AS seg,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT seg, COUNT(*) AS n, SUM(v) AS s, SUM(v * LN(v)) AS l
  FROM y GROUP BY seg
),
tot AS (SELECT SUM(n) AS nt, SUM(s) AS st FROM g),
terms AS (
  SELECT g.seg, g.n, g.s, g.l,
         t.nt, t.st,
         g.s / g.n AS mu_g, t.st / t.nt AS mu,
         (g.l - g.s * LN(g.s / g.n)) / g.s AS t_g
  FROM g CROSS JOIN tot t
)
SELECT seg,
       CAST(n AS BIGINT) AS n_orders,
       ROUND(mu_g, 2) AS mean_value,
       ROUND(t_g, 6) AS theil_within_group,
       ROUND((s / st) * LN(mu_g / mu), 6) AS between_contribution,
       ROUND(SUM((s / st) * t_g) OVER (), 6) AS theil_within_total,
       ROUND(SUM((s / st) * LN(mu_g / mu)) OVER (), 6)
         AS theil_between_total
FROM terms
""",
    doc="THEIL INDEX with the WITHIN/BETWEEN decomposition — the "
        "inequality measure whose decomposability is the whole point "
        "(Gini, already shipped per segment, does not decompose): "
        "T = sum_g w_g T_g + sum_g w_g ln(mu_g/mu) with income-share "
        "weights w_g = S_g/S, answering 'is revenue concentration a "
        "segment story or a within-segment story' in one query. "
        "Identity T_g = (sum v ln v - S_g ln mu_g) / S_g needs only "
        "per-group (n, sum, sum v ln v) — one map-side-combinable "
        "aggregate, O(groups) everything after. The v ln v sums are "
        "engine-ordered doubles feeding O(1) outputs at 6 dp "
        "(~1e-15 relative error; inside the 9-sig-digit budget).",
    tags=("statistics", "segmentation", "aggregate", "window"),
)
def theil_inequality_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    y = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("v"),
        )
    )
    g = y.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.log("v")).alias("l"),
    )
    tot = g.agg(F.sum("n").alias("nt"), F.sum("s").alias("st"))
    terms = g.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n",
        "s",
        (F.col("s") / F.col("n")).alias("mu_g"),
        (F.col("st") / F.col("nt")).alias("mu"),
        ((F.col("l") - F.col("s") * F.log(F.col("s") / F.col("n")))
         / F.col("s")).alias("t_g"),
        F.col("st"),
    )
    wall = Window.partitionBy()
    share = F.col("s") / F.col("st")
    return terms.select(
        "seg",
        F.col("n").cast("long").alias("n_orders"),
        F.round("mu_g", 2).alias("mean_value"),
        F.round("t_g", 6).alias("theil_within_group"),
        F.round(share * F.log(F.col("mu_g") / F.col("mu")), 6).alias(
            "between_contribution"
        ),
        F.round(F.sum(share * F.col("t_g")).over(wall), 6).alias(
            "theil_within_total"
        ),
        F.round(
            F.sum(share * F.log(F.col("mu_g") / F.col("mu"))).over(wall), 6
        ).alias("theil_between_total"),
    )


# ---------------------------------------------------------------------------
# Calibration: ECE + Brier reliability/resolution/uncertainty decomposition
# ---------------------------------------------------------------------------

ECE_BINS = 10
# fixed logistic scoring coefficients (no training — the decomposition
# is the operator under test; the score just needs spread)
ECE_B0 = -1.5
ECE_B1 = 0.004  # per value unit


@register(
    "ece_brier_decomposition",
    oracle=f"""
WITH scored AS (
  SELECT 1.0 / (1.0 + EXP(-({ECE_B0} + {ECE_B1}
             * CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) / 100.0)))
           AS p,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
  FROM events
),
binned AS (
  SELECT LEAST(CAST(FLOOR(p * {ECE_BINS}) AS BIGINT), {ECE_BINS} - 1)
           AS b,
         COUNT(*) AS n, SUM(p) AS sp, SUM(y) AS sy
  FROM scored GROUP BY 1
),
tot AS (SELECT SUM(n) AS nt, SUM(sy) AS syt FROM binned),
dec AS (
  SELECT SUM(CAST(b.n AS DOUBLE) / t.nt
             * ABS(b.sy / b.n - b.sp / b.n)) AS ece,
         SUM(CAST(b.n AS DOUBLE) / t.nt
             * (b.sp / b.n - b.sy / b.n) * (b.sp / b.n - b.sy / b.n))
           AS reliability,
         SUM(CAST(b.n AS DOUBLE) / t.nt
             * (b.sy / b.n - t.syt / t.nt) * (b.sy / b.n - t.syt / t.nt))
           AS resolution,
         (t.syt / t.nt) * (1 - t.syt / t.nt) AS uncertainty,
         CAST(t.nt AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM binned b CROSS JOIN tot t
  GROUP BY t.nt, t.syt
)
SELECT n_events, n_bins,
       ROUND(ece, 6) AS ece,
       ROUND(reliability, 6) AS reliability,
       ROUND(resolution, 6) AS resolution,
       ROUND(uncertainty, 6) AS uncertainty,
       ROUND(reliability - resolution + uncertainty, 6)
         AS brier_reconstructed
FROM dec
""",
    doc=f"ECE + MURPHY DECOMPOSITION of the Brier score — the "
        f"calibration HEADLINE numbers next to the per-band "
        f"reliability table (logreg_calibration_report): expected "
        f"calibration error, and Brier = RELIABILITY (calibration "
        f"gap) - RESOLUTION (how much the bins separate outcomes) + "
        f"UNCERTAINTY (base-rate variance), the identity that holds "
        f"EXACTLY when confidences are bin means — so "
        f"brier_reconstructed doubles as a self-certificate. The "
        f"score is a FIXED logistic of the cent-quantized event "
        f"value (deterministic scalar tree; no training dependency), "
        f"y = purchase. One scan into {ECE_BINS} fixed bins, "
        f"O(bins) after; bin-mean divisions are exact-count ratios "
        f"with engine-ordered p-sums feeding O(1) outputs at 6 dp.",
    tags=("learn", "evaluation", "statistics", "aggregate"),
)
def ece_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    cents = F.round(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("long")
    p = 1.0 / (1.0 + F.exp(-(F.lit(ECE_B0) + ECE_B1 * cents / 100.0)))
    scored = ev.select(
        p.alias("p"),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    binned = scored.groupBy(
        F.least(
            F.floor(F.col("p") * ECE_BINS).cast("long"),
            F.lit(ECE_BINS - 1),
        ).alias("b")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").alias("sp"),
        F.sum("y").alias("sy"),
    )
    tot = binned.agg(F.sum("n").alias("nt"), F.sum("sy").alias("syt"))
    j = binned.crossJoin(F.broadcast(tot))
    w = F.col("n").cast("double") / F.col("nt")
    conf = F.col("sp") / F.col("n")
    acc = F.col("sy") / F.col("n")
    ybar = F.col("syt") / F.col("nt")
    dec = j.groupBy("nt", "syt").agg(
        F.sum(w * F.abs(acc - conf)).alias("ece"),
        F.sum(w * (conf - acc) * (conf - acc)).alias("reliability"),
        F.sum(w * (acc - ybar) * (acc - ybar)).alias("resolution"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    return dec.select(
        F.col("nt").cast("long").alias("n_events"),
        F.col("n_bins").cast("long").alias("n_bins"),
        F.round("ece", 6).alias("ece"),
        F.round("reliability", 6).alias("reliability"),
        F.round(
            (F.col("syt") / F.col("nt")) * (1 - F.col("syt") / F.col("nt")),
            6,
        ).alias("uncertainty"),
        F.round("resolution", 6).alias("resolution"),
        F.round(
            F.col("reliability")
            - F.col("resolution")
            + (F.col("syt") / F.col("nt"))
            * (1 - F.col("syt") / F.col("nt")),
            6,
        ).alias("brier_reconstructed"),
    ).select(
        "n_events", "n_bins", "ece", "reliability", "resolution",
        "uncertainty", "brier_reconstructed",
    )
