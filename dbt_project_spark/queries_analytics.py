"""Advanced-analytics family over `events`: window functions
(running/moving/rank/lag), sessionization, ROLLUP grouping sets,
exact distinct, and an as-of (most-recent-prior-event) join.

Determinism notes: every window has a total order ((ts, event_id) is
unique per user), fixed-point integer sums make prefix aggregations
exact, and raw-column comparisons (rank by value) compare identical
parquet-sourced doubles on both engines.

Scale notes: all windows partition by user_id — one hash shuffle, then
per-partition sorted evaluation; sessionization is the standard
gap-flag prefix-sum (two window passes over the SAME partitioning, so
Catalyst plans a single exchange + sort). ROLLUP is computed with
partial aggregation per grouping set (Expand + single shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.queries_web import _events
from dbt_project_spark.sources import load_table

_V100 = "CAST(round(value * 100, 0) AS BIGINT)"
SESSION_GAP_SEC = 1800


@register(
    "win_running_total",
    oracle=f"""
    SELECT event_id, user_id,
           SUM({_V100}) OVER (PARTITION BY user_id
                              ORDER BY epoch(ts), event_id
                              ROWS UNBOUNDED PRECEDING) / 100.0 AS running_total
    FROM events
    """,
)
def win_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total (prefix sum over event time)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        (F.sum("value100").over(w) / F.lit(100.0)).alias("running_total"),
    )


@register(
    "win_moving_avg",
    oracle=f"""
    SELECT event_id, user_id,
           SUM({_V100}) OVER w / (COUNT(*) OVER w * 100.0) AS moving_avg_5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts), event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row moving average per user (exact: integer sum / count)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        (F.sum("value100").over(w) / (F.count(F.lit(1)).over(w) * F.lit(100.0))).alias(
            "moving_avg_5"
        ),
    )


@register(
    "win_top3_per_user",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY value DESC, event_id) AS INT) AS rn
      FROM events)
    SELECT user_id, event_id, value, rn FROM r WHERE rn <= 3
    """,
)
def win_top3_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user (rank-filter pattern)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        _events(spark, sf_dir)
        .select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w).cast("int").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_lag_delta",
    oracle=f"""
    SELECT event_id, user_id,
           ({_V100} - LAG({_V100}) OVER (PARTITION BY user_id
                                         ORDER BY epoch(ts), event_id)) / 100.0
               AS delta_value
    FROM events
    """,
)
def win_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta vs previous event per user (lag)."""
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        (
            (F.col("value100") - F.lag("value100").over(w)) / F.lit(100.0)
        ).alias("delta_value"),
    )


@register(
    "sessionization",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                       > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts), event_id)),
    s AS (
      SELECT user_id, ep,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ep, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g)
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MAX(ep) - MIN(ep) AS duration_sec
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): flag gaps with
    lag, prefix-sum the flags into session ids, aggregate per session.
    Both window passes share one (user_id) partitioning."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("epoch") - F.lag("epoch").over(w) > SESSION_GAP_SEC, 1
        ).otherwise(0),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(ws).cast("bigint")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("epoch") - F.min("epoch")).alias("duration_sec"),
    )


@register(
    "rollup_type_daily",
    oracle=f"""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           SUM({_V100}) / 100.0 AS total_value
    FROM events
    GROUP BY ROLLUP(event_type, day)
    """,
)
def rollup_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: (type, day), (type), () — subtotal rows
    carry NULL group keys, identical semantics both engines."""
    return (
        _events(spark, sf_dir)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("value100") / F.lit(100.0)).alias("total_value"),
        )
    )


@register(
    "distinct_users_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY day
    """,
)
def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily distinct users. (At 100 TB you'd usually take
    approx_count_distinct's HLL and accept ~2% error — kept exact here
    for oracle parity; the HLL variant is a one-token change.)"""
    return (
        _events(spark, sf_dir)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "percentiles_by_type",
    oracle=f"""
    SELECT event_type,
           ROUND(quantile_cont({_V100}, 0.5) / 100.0, 6) AS p50,
           ROUND(quantile_cont({_V100}, 0.9) / 100.0, 6) AS p90,
           ROUND(quantile_cont({_V100}, 0.99) / 100.0, 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type (Spark
    `percentile` ≡ ANSI quantile_cont on the fixed-point ints). At
    100 TB the one-token swap to `approx_percentile` trades exactness
    for a t-digest mergeable sketch."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            # ROUND(.,6) both sides: interpolated-percentile internals can
            # differ in the last ulp between engines (ADVICE r02).
            F.round(F.expr("percentile(value100, 0.5)") / 100.0, 6).alias(
                "p50"
            ),
            F.round(F.expr("percentile(value100, 0.9)") / 100.0, 6).alias(
                "p90"
            ),
            F.round(F.expr("percentile(value100, 0.99)") / 100.0, 6).alias(
                "p99"
            ),
        )
    )


@register(
    "asof_last_signup",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep,
             event_type,
             MAX(CASE WHEN event_type = 'signup'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END)
               OVER (PARTITION BY user_id ORDER BY epoch(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_signup_ep
      FROM events)
    SELECT event_id, user_id, ep - last_signup_ep AS sec_since_signup
    FROM marked
    WHERE event_type = 'purchase' AND last_signup_ep IS NOT NULL
    """,
)
def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a running conditional max: for every
    purchase, seconds since that user's most recent PRIOR signup.
    This is the single-pass (no join!) formulation of an as-of join
    when both sides live in one ordered stream — at scale it's one
    shuffle on user_id instead of a range-join."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.withColumn(
        "last_signup_ep",
        F.max(F.when(F.col("event_type") == "signup", F.col("epoch"))).over(w),
    )
    return (
        marked.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_signup_ep").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            (F.col("epoch") - F.col("last_signup_ep")).alias("sec_since_signup"),
        )
    )


@register(
    "wt_value_histogram",
    oracle=f"""
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
           CAST(floor(value / 25.0) AS BIGINT) * CAST(25 AS DOUBLE) AS bin_lo,
           COUNT(*) AS n,
           SUM({_V100}) / 100.0 AS bin_value_sum
    FROM events GROUP BY bin
    """,
)
def wt_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of `value` (25-unit bins) — floor-bucket
    arithmetic, one shuffle carrying one row per bin."""
    ev = _events(spark, sf_dir)
    bin_col = F.floor(F.col("value") / 25.0).cast("bigint")
    return (
        ev.withColumn("bin", bin_col)
        .groupBy("bin")
        .agg(
            (F.first("bin") * 25.0).alias("bin_lo"),
            F.count(F.lit(1)).alias("n"),
            (F.sum("value100") / F.lit(100.0)).alias("bin_value_sum"),
        )
        .select("bin", "bin_lo", "n", "bin_value_sum")
    )


@register(
    "wt_daily_type_pivot",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY day
    """,
)
def wt_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily × event-type pivot (wide counts). Explicit value list —
    at scale an unbounded pivot needs a distinct-scan first; pinning
    the columns keeps the plan single-pass."""
    ev = _events(spark, sf_dir).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return (
        ev.groupBy("day")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "users_purchase_no_error",
    oracle="""
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'error'
    """,
)
def users_purchase_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: (user, day) pairs with a purchase but no error
    that day (EXCEPT ≡ distinct + anti-join — one shuffle per side)."""
    ev = _events(spark, sf_dir).withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "day")
    x = ev.filter(F.col("event_type") == "error").select("user_id", "day")
    return p.subtract(x)


@register(
    "wt_gap_filled_series",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(floor(min(epoch(ts)) / 3600) AS BIGINT) * 3600 AS lo,
             CAST(floor(max(epoch(ts)) / 3600) AS BIGINT) * 3600 AS hi
      FROM events),
    grid AS (SELECT unnest(range(lo, hi + 3600, 3600)) AS slot FROM bounds),
    agg AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS slot,
             COUNT(*) AS n, SUM({_V100}) AS v100
      FROM events WHERE event_type = 'purchase'
      GROUP BY slot)
    SELECT strftime(make_timestamp(g.slot * 1000000), '%Y-%m-%d %H:%M:%S') AS hour_start,
           COALESCE(a.n, 0) AS n_purchases,
           COALESCE(a.v100, 0) / 100.0 AS purchase_value
    FROM grid g LEFT JOIN agg a ON a.slot = g.slot
    """,
)
def wt_gap_filled_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series with gaps filled by zeros: generate the
    full hour grid from min/max bounds (sequence + explode — no
    driver-side loop), left-join the sparse aggregate. The standard
    shape for dashboards/forecasting inputs where missing buckets must
    be explicit zeros, not absent rows."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        (F.floor(F.min("epoch") / 3600) * 3600).cast("bigint").alias("lo"),
        (F.floor(F.max("epoch") / 3600) * 3600).cast("bigint").alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("slot")
    )
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("slot", (F.floor(F.col("epoch") / 3600) * 3600).cast("bigint"))
        .groupBy("slot")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value100").alias("v100"))
    )
    return grid.join(agg, on="slot", how="left").select(
        F.date_format(F.timestamp_seconds("slot"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_purchases"),
        (F.coalesce(F.col("v100"), F.lit(0)) / F.lit(100.0)).alias("purchase_value"),
    )


@register(
    "approx_distinct_users_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS n_users_exact,
           TRUE AS hll_within_5pct
    FROM events GROUP BY day
    """,
)
def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-user counts, gated against the exact answer.

    This is the actual 100 TB answer for daily uniques: HLL sketches
    merge map-side (a few KB per group crosses the shuffle) where
    COUNT(DISTINCT) must shuffle every (day, user_id) pair. The query
    emits the exact count plus a boolean asserting the HLL estimate
    (rsd=2%) landed within ±5% — so the sketch's error bound itself
    goes through the value-hash gate (oracle emits literal TRUE; a
    drifting sketch flips the boolean and fails the gate). HLL merge
    is register-wise max — commutative — so the estimate is
    deterministic for fixed data regardless of partitioning."""
    return (
        _events(spark, sf_dir)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("__hll"),
        )
        .select(
            "day",
            "n_users_exact",
            (
                F.abs(F.col("__hll") - F.col("n_users_exact"))
                <= F.col("n_users_exact") * 0.05
            ).alias("hll_within_5pct"),
        )
    )


@register(
    "approx_percentiles_by_type",
    oracle=f"""
    SELECT event_type,
           ROUND(quantile_cont({_V100}, 0.5) / 100.0, 6) AS p50,
           ROUND(quantile_cont({_V100}, 0.9) / 100.0, 6) AS p90,
           TRUE AS sketch_within_rank_tol
    FROM events GROUP BY event_type
    """,
)
def approx_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable Greenwald-Khanna summary) gated by
    a RANK-space tolerance: the p50/p90 estimates must land between
    the exact p45..p55 / p88..p92 values. Rank tolerance is the
    principled check for GK sketches (the accuracy parameter bounds
    rank error at 1/accuracy = 0.01% here, far inside the +-5%/-+2%
    rank window), and it is distribution-free — a value-space
    relative-error check would be meaningless around dense regions.
    Exact percentiles ship as the output columns; the sketch check is
    the boolean (oracle: literal TRUE), so sketch drift fails the
    value-hash gate."""
    pct = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            # ROUND(.,6) both sides: interpolated-percentile internals can
            # differ in the last ulp between engines (ADVICE r02).
            F.round(F.expr("percentile(value100, 0.5)") / 100.0, 6).alias(
                "p50"
            ),
            F.round(F.expr("percentile(value100, 0.9)") / 100.0, 6).alias(
                "p90"
            ),
            F.expr("percentile(value100, 0.45)").alias("__lo50"),
            F.expr("percentile(value100, 0.55)").alias("__hi50"),
            F.expr("percentile(value100, 0.88)").alias("__lo90"),
            F.expr("percentile(value100, 0.92)").alias("__hi90"),
            F.expr("approx_percentile(value100, 0.5, 10000)").alias("__a50"),
            F.expr("approx_percentile(value100, 0.9, 10000)").alias("__a90"),
        )
    )
    ok = (
        (F.col("__a50") >= F.col("__lo50"))
        & (F.col("__a50") <= F.col("__hi50"))
        & (F.col("__a90") >= F.col("__lo90"))
        & (F.col("__a90") <= F.col("__hi90"))
    )
    return pct.select(
        "event_type", "p50", "p90", ok.alias("sketch_within_rank_tol")
    )


@register(
    "cube_type_daily",
    oracle=f"""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           SUM({_V100}) / 100.0 AS total_value
    FROM events
    GROUP BY CUBE(event_type, day)
    """,
)
def cube_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all four of (type, day), (type), (day), ():
    one Expand + single shuffle with partial aggregation, same physical
    shape as ROLLUP but with the (day)-only subtotal rows added."""
    return (
        _events(spark, sf_dir)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("value100") / F.lit(100.0)).alias("total_value"),
        )
    )


@register(
    "win_percent_rank_ntile",
    oracle=f"""
    SELECT event_id, event_type,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY {_V100}, event_id)
    """,
)
def win_percent_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions per event type. The window
    orders by (value, event_id) — a TOTAL order, which makes ntile's
    tie-splitting deterministic and identical across engines (ntile
    over a non-total order is engine-defined on ties)."""
    w = Window.partitionBy("event_type").orderBy("value100", "event_id")
    return _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "skew_salted_join",
    oracle=f"""
    WITH keyed AS (
      SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS skew_key,
             {_V100} AS v100
      FROM events),
    dim AS (SELECT skew_key, COUNT(*) AS key_rows FROM keyed GROUP BY skew_key)
    SELECT k.skew_key, d.key_rows,
           COUNT(*) AS n,
           SUM(k.v100) / 100.0 AS total_value
    FROM keyed k JOIN dim d ON d.skew_key = k.skew_key
    GROUP BY k.skew_key, d.key_rows
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-skew join through the salted-join operator: ~90% of
    events collapse onto skew_key 0, the classic straggler shape. The
    salted path spreads the hot key over n_salts partitions (left side
    salted by full-row hash, right side exploded to all salts); the
    oracle is the PLAIN join + aggregate — result equality IS the
    correctness property of salting. Bench runs this entry to keep the
    skew path timed at sf scale."""
    from dbt_project_spark.operators.joins import salted_join

    keyed = _events(spark, sf_dir).select(
        F.when(F.col("user_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        F.col("value100").alias("v100"),
    )
    dim = keyed.groupBy("skew_key").agg(F.count(F.lit(1)).alias("key_rows"))
    joined = salted_join(keyed, dim, "skew_key", n_salts=8)
    return joined.groupBy("skew_key", "key_rows").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("v100") / F.lit(100.0)).alias("total_value"),
    )


@register(
    "props_json_stats",
    oracle=f"""
    WITH k AS (SELECT event_type,
                      json_extract(props, '$.k')::INT AS k
               FROM events)
    SELECT event_type,
           CAST(k // 10 AS INT) AS k_decile,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS k_sum
    FROM k GROUP BY event_type, k_decile
    """,
)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column path: extract a JSON field from `props`
    (the reference's Kafka payloads are exactly such JSON objects) and
    aggregate per (event_type, value decile). get_json_object is a
    codegen JVM expression — the JSON never round-trips to Python; at
    100 TB prefer from_json with an explicit schema once per pipeline
    so the parse happens a single time."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        _events(spark, sf_dir)
        .select("event_type", k.alias("k"))
        .groupBy("event_type", F.floor(F.col("k") / 10).cast("int").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
    )


@register(
    "range_join_error_impact",
    oracle=f"""
    WITH err AS (SELECT event_id AS err_id,
                        CAST(floor(epoch(ts)) AS BIGINT) AS s
                 FROM events WHERE event_type = 'error'),
    pur AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep, {_V100} AS v
            FROM events WHERE event_type = 'purchase')
    SELECT err_id,
           COUNT(*) AS n_purchases,
           SUM(v) / 100.0 AS purchase_value
    FROM err JOIN pur ON pur.ep >= err.s AND pur.ep <= err.s + 600
    GROUP BY err_id
    """,
)
def range_join_error_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval analysis via the bucketed range join: for
    each error event, purchases in the 10 minutes after it. The time
    axis is bucketed at the interval width, intervals explode into the
    1-2 buckets they span, and the join is an EQUI-join on bucket with
    the exact range predicate applied after — |points| + |intervals|
    join input instead of the |err| × |purchase| theta join the oracle
    runs (fine for DuckDB at sf0.01; a cross product at 100 TB)."""
    from dbt_project_spark.operators.joins import bucketed_range_join

    ev = _events(spark, sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("epoch").alias("w_start"),
        (F.col("epoch") + 600).alias("w_end"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("epoch").alias("ep"), F.col("value100").alias("v")
    )
    joined = bucketed_range_join(pur, err, "ep", "w_start", "w_end", 600)
    return joined.groupBy("err_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (F.sum("v") / F.lit(100.0)).alias("purchase_value"),
    )


KMV_K = 256
_H = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"


@register(
    "kmv_user_overlap",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type, {_H} AS h
      FROM events WHERE event_type IN ('purchase', 'error')),
    ranked AS (SELECT event_type, h,
                      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM hashed),
    sk AS (SELECT event_type, h FROM ranked WHERE rn <= {KMV_K}),
    per_type AS (SELECT event_type, MAX(h) AS theta, COUNT(*) AS n
                 FROM sk GROUP BY event_type),
    est_t AS (SELECT event_type,
                     CASE WHEN n < {KMV_K} THEN n * 1.0
                          ELSE ROUND(({KMV_K} - 1) * 4294967296.0 / theta, 6)
                     END AS est
              FROM per_type),
    uh AS (SELECT DISTINCT h FROM hashed),
    ur AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM uh),
    usk AS (SELECT MAX(h) AS theta, COUNT(*) AS n FROM ur WHERE rn <= {KMV_K}),
    est_u AS (SELECT CASE WHEN n < {KMV_K} THEN n * 1.0
                          ELSE ROUND(({KMV_K} - 1) * 4294967296.0 / theta, 6)
                     END AS est FROM usk),
    exact AS (
      SELECT COUNT(*) AS exact_overlap FROM (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'error'))
    SELECT
      (SELECT est FROM est_t WHERE event_type = 'purchase') AS est_purchase_users,
      (SELECT est FROM est_t WHERE event_type = 'error') AS est_error_users,
      (SELECT est FROM est_u) AS est_union,
      ROUND((SELECT est FROM est_t WHERE event_type = 'purchase')
            + (SELECT est FROM est_t WHERE event_type = 'error')
            - (SELECT est FROM est_u), 6) AS est_overlap,
      (SELECT exact_overlap FROM exact) AS exact_overlap
    """,
)
def kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketch set operations: estimate the
    purchase∩error user overlap from two 256-value sketches plus
    inclusion-exclusion over the union sketch, alongside the exact
    intersection.

    Unlike HLL, KMV composes under set operations, and it is fully
    DETERMINISTIC here: both engines compute identical md5-derived
    hashes, so the estimates are bit-equal and go through the exact
    value-hash gate (no tolerance boolean needed). Construction here
    is a rank window over the distinct user-hash relation (one sort
    per group — matches the oracle exactly); at 100 TB you would
    instead keep per-partition k-mins and merge (mapPartitions top-k,
    k rows per partition crossing the shuffle) and accept that the
    plain SQL oracle no longer mirrors the physical plan, only the
    result."""
    from dbt_project_spark.functions.expressions import md5_int

    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .select("event_type", md5_int(F.col("user_id").cast("string")).alias("h"))
        .distinct()
    )
    k = F.lit(KMV_K)
    w = Window.partitionBy("event_type").orderBy("h")
    sk = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    per_type = sk.groupBy("event_type").agg(
        F.max("h").alias("theta"), F.count(F.lit(1)).alias("n")
    )
    est_expr = F.when(F.col("n") < k, F.col("n") * F.lit(1.0)).otherwise(
        F.round((k - 1) * F.lit(4294967296.0) / F.col("theta"), 6)
    )
    est = per_type.withColumn("est", est_expr)
    est_p = est.filter(F.col("event_type") == "purchase").select(
        F.col("est").alias("est_purchase_users")
    )
    est_e = est.filter(F.col("event_type") == "error").select(
        F.col("est").alias("est_error_users")
    )
    ur = (
        hashed.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= k)
    )
    est_u = (
        ur.agg(F.max("h").alias("theta"), F.count(F.lit(1)).alias("n"))
        .withColumn("est", est_expr)
        .select(F.col("est").alias("est_union"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select("user_id")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    exact = pur.intersect(err).agg(
        F.count(F.lit(1)).alias("exact_overlap")
    )
    # four 1-row relations — declarative assembly, no driver round-trip
    return (
        est_p.crossJoin(est_e)
        .crossJoin(est_u)
        .crossJoin(exact)
        .withColumn(
            "est_overlap",
            F.round(
                F.col("est_purchase_users")
                + F.col("est_error_users")
                - F.col("est_union"),
                6,
            ),
        )
        .select(
            "est_purchase_users",
            "est_error_users",
            "est_union",
            "est_overlap",
            "exact_overlap",
        )
    )


@register(
    "session_window_stats",
    oracle=f"""
    WITH e AS (SELECT user_id, ts::TIMESTAMP AS t, {_V100} AS v FROM events),
    g AS (SELECT user_id, t, v,
                 CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                        > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
          FROM e),
    s AS (SELECT user_id, t, v,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS sid
          FROM g),
    agg AS (SELECT user_id, sid,
                   MIN(t) AS st,
                   MAX(t) + INTERVAL 30 MINUTE AS en,
                   COUNT(*) AS n_events,
                   SUM(v) / 100.0 AS total_value
            FROM s GROUP BY user_id, sid)
    SELECT user_id,
           strftime(st, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(en, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events, total_value
    FROM agg
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-minute gap) — the
    same sessions as `sessionization` but through Spark's dedicated
    session-window aggregation operator (merging-window state, also
    valid in streaming) instead of the lag/prefix-sum window-function
    formulation. Spark's rule (verified): an event exactly gap-apart
    MERGES (new session only when diff > gap); window end = last
    event + gap. The oracle casts DuckDB's nanosecond timestamps to
    microseconds to match Spark's timestamp precision before the gap
    comparison."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value100", F.round(F.col("value") * 100, 0).cast("bigint")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("value100") / F.lit(100.0)).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "grouping_sets_matrix",
    oracle=f"""
    SELECT CAST(grouping_id(event_type, day) AS BIGINT) AS gid,
           event_type, day,
           COUNT(*) AS n_events,
           CAST(SUM({_V100}) AS BIGINT) AS value100
    FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value
          FROM events)
    GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
    """,
)
def grouping_sets_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond ROLLUP/CUBE's lattices) with a
    grouping_id disambiguator — (type, day), (type), (day) and the
    grand total in ONE pass. Catalyst plans this as a single Expand +
    one shuffle with map-side partial aggregation: four aggregations
    for the price of one scan, which is the point at 100 TB (the naive
    alternative is four scans + a union). gid bit semantics
    (left-to-right, 1 = aggregated-away) match DuckDB's exactly."""
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return (
        ev.groupingSets(
            [["event_type", "day"], ["event_type"], ["day"], []],
            "event_type",
            "day",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value100").alias("value100"),
        )
        .select("gid", "event_type", "day", "n_events", "value100")
    )


_TYPES = ("view", "click", "purchase", "signup", "error")


@register(
    "unpivot_daily_metrics",
    oracle="""
    WITH wide AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             {cols}
      FROM events GROUP BY day)
    {unions}
    """.format(
        cols=",\n             ".join(
            f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
            for t in _TYPES
        ),
        unions="\n    UNION ALL ".join(
            f"SELECT day, 'n_{t}' AS metric, n_{t} AS n FROM wide"
            for t in _TYPES
        ),
    ),
)
def unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt: one conditional-count aggregation produces the
    wide daily metrics table, then ``DataFrame.unpivot`` (Expand, no
    shuffle, no UDF) reshapes days×1 rows into days×metrics rows — the
    layout feature stores and plotting layers want. The only shuffle
    is the daily aggregation; the melt is free."""
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    wide = ev.groupBy("day").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{t}")
            for t in _TYPES
        ]
    )
    return wide.unpivot(
        ids=["day"],
        values=[f"n_{t}" for t in _TYPES],
        variableColumnName="metric",
        valueColumnName="n",
    )


@register(
    "hll_sketch_rollup",
    oracle="""
    SELECT CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
           COUNT(DISTINCT user_id) AS exact_month_users,
           TRUE AS union_within_5pct
    FROM events
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable sketch COLUMNS (Apache DataSketches HLL via
    hll_sketch_agg): build one ~KB sketch per day, then answer the
    month-level distinct by UNIONING the stored sketches — no second
    pass over raw events. This is the sketch-table pattern a 100 TB
    warehouse ships: dailies are computed incrementally and any
    rollup window (week/month/quarter) is a sketch union over a
    days-sized table. The union estimate is tolerance-gated through
    the value-hash oracle like the other approx entries (oracle emits
    literal TRUE; sketch drift flips the boolean and fails the gate).
    """
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    rolled = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_month_users"))
    return rolled.crossJoin(F.broadcast(exact)).select(
        F.col("n_days").cast("bigint"),
        "exact_month_users",
        (
            F.abs(F.col("est") - F.col("exact_month_users"))
            <= 0.05 * F.col("exact_month_users")
        ).alias("union_within_5pct"),
    )


@register(
    "theta_set_ops",
    oracle="""
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT (SELECT COUNT(*) FROM p) AS exact_purchase,
           (SELECT COUNT(*) FROM e) AS exact_error,
           (SELECT COUNT(*) FROM p WHERE user_id IN (SELECT user_id FROM e))
             AS exact_inter,
           (SELECT COUNT(*) FROM p WHERE user_id NOT IN (SELECT user_id FROM e))
             AS exact_a_not_b,
           TRUE AS inter_within_5pct,
           TRUE AS a_not_b_within_5pct,
           TRUE AS union_within_5pct
    """,
)
def theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS (Apache DataSketches via Spark 4
    theta_sketch_agg / theta_intersection / theta_difference): the
    operation HLL cannot do — HLL unions only, theta supports
    intersection and a-not-b ON THE SKETCHES. One sketch per event
    type is built in a single events pass; purchase∩error,
    purchase∖error, and purchase∪error are then computed sketch-side
    and tolerance-gated against the exact answers (oracle emits
    literal TRUE; estimate drift flips a boolean and fails the
    value-hash gate). At 100 TB this is the audience-overlap /
    retention-intersection pattern: per-segment sketches are KBs,
    set algebra never rescans events. Complements [[hll_sketch_rollup]]
    (union-rollup) with the full set algebra."""
    ev = _events(spark, sf_dir)
    sk = (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    both = sk.groupBy().pivot("event_type", ["purchase", "error"]).agg(
        F.first("sk")
    )
    est = both.select(
        F.theta_sketch_estimate(
            F.theta_intersection("purchase", "error")
        ).alias("est_inter"),
        F.theta_sketch_estimate(
            F.theta_difference("purchase", "error")
        ).alias("est_a_not_b"),
        F.theta_sketch_estimate(F.theta_union("purchase", "error")).alias(
            "est_union"
        ),
    )
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    x = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    exact = (
        p.withColumn("in_p", F.lit(1))
        .join(x.withColumn("in_e", F.lit(1)), on="user_id", how="full")
        .agg(
            F.sum("in_p").alias("exact_purchase"),
            F.sum("in_e").alias("exact_error"),
            # coalesce: sum over zero matching rows is NULL in Spark but the
            # exact count is 0 (e.g. purchase ⊆ error makes a_not_b empty).
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("in_p").isNotNull() & F.col("in_e").isNotNull(), 1
                    )
                ),
                F.lit(0),
            ).alias("exact_inter"),
            F.coalesce(
                F.sum(
                    F.when(F.col("in_p").isNotNull() & F.col("in_e").isNull(), 1)
                ),
                F.lit(0),
            ).alias("exact_a_not_b"),
        )
    )

    def _gate(est_col: str, exact_col) -> F.Column:
        # 5% relative with a 2-count absolute floor so an exact answer of 0
        # (valid for intersections/differences) doesn't demand estimate == 0.
        return F.abs(F.col(est_col) - exact_col) <= F.greatest(
            0.05 * exact_col, F.lit(2.0)
        )

    return est.crossJoin(F.broadcast(exact)).select(
        F.col("exact_purchase").cast("bigint"),
        F.col("exact_error").cast("bigint"),
        F.col("exact_inter").cast("bigint"),
        F.col("exact_a_not_b").cast("bigint"),
        _gate("est_inter", F.col("exact_inter")).alias("inter_within_5pct"),
        _gate("est_a_not_b", F.col("exact_a_not_b")).alias("a_not_b_within_5pct"),
        _gate(
            "est_union",
            F.col("exact_purchase") + F.col("exact_error") - F.col("exact_inter"),
        ).alias("union_within_5pct"),
    )


ROLLING_WINDOW_DAYS = 7  # trailing-window distinct horizon


@register(
    "rolling_distinct_users_7d",
    oracle=f"""
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                            AS BIGINT) AS ed
                FROM events),
    b AS (SELECT MIN(ed) AS mind, MAX(ed) AS maxd FROM ud),
    offs AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6)) o(k)),
    fan AS (SELECT DISTINCT ud.user_id, ud.ed + offs.k AS rd
            FROM ud JOIN offs ON 1 = 1),
    r AS (SELECT rd, CAST(COUNT(*) AS BIGINT) AS n_users_7d
          FROM fan CROSS JOIN b
          WHERE rd BETWEEN b.mind AND b.maxd
          GROUP BY rd),
    d1 AS (SELECT ed AS rd, CAST(COUNT(*) AS BIGINT) AS n_users_1d
           FROM ud GROUP BY ed)
    SELECT strftime(make_timestamp(r.rd * 86400 * 1000000), '%Y-%m-%d')
               AS day,
           r.n_users_7d, COALESCE(d1.n_users_1d, 0) AS n_users_1d
    FROM r LEFT JOIN d1 ON d1.rd = r.rd
    """,
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (the WAU curve
    reported daily), next to the same day's 1-day distinct. A
    COUNT(DISTINCT) over a sliding RANGE frame doesn't exist in Spark
    windows (distinct is not frame-mergeable) — the scalable
    formulation fans each (user, active-day) pair out to the
    ROLLING_WINDOW_DAYS report days it contributes to, dedups, and
    counts per report day.

    Scale shape: events collapse to DISTINCT (user, day) FIRST (the
    corpus-sized shuffle, map-side combinable); the 7× fan-out runs
    over that much smaller table via a 7-row broadcast dimension, and
    the per-report-day distinct is a second (user, day)-keyed
    aggregate. Early report days (fewer than 7 prior days of data)
    report over the partial window, clipped to the observed range —
    identical clip in both engines.
    """
    ud = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("ed"),
        )
        .distinct()
    )
    from dbt_project_spark.caching import persist_tracked

    ud = persist_tracked(ud)
    b = ud.agg(
        F.min("ed").alias("mind"), F.max("ed").alias("maxd")
    )
    offs = spark.range(ROLLING_WINDOW_DAYS).select(F.col("id").alias("k"))
    fan = (
        ud.crossJoin(F.broadcast(offs))
        .select("user_id", (F.col("ed") + F.col("k")).alias("rd"))
        .distinct()
    )
    r = (
        fan.crossJoin(F.broadcast(b))
        .filter((F.col("rd") >= F.col("mind")) & (F.col("rd") <= F.col("maxd")))
        .groupBy("rd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users_7d"))
    )
    d1 = ud.groupBy(F.col("ed").alias("rd")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_1d")
    )
    return r.join(d1, on="rd", how="left").select(
        F.date_format(F.timestamp_seconds(F.col("rd") * 86400), "yyyy-MM-dd")
        .alias("day"),
        "n_users_7d",
        F.coalesce("n_users_1d", F.lit(0)).alias("n_users_1d"),
    )


@register(
    "concurrent_sessions_timeline",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                       > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts), event_id)),
    s AS (
      SELECT user_id, ep,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                  ORDER BY ep, event_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM g),
    iv AS (SELECT user_id, session_id,
                  MIN(ep) // 3600 AS sh, MAX(ep) // 3600 AS eh
           FROM s GROUP BY user_id, session_id),
    fan AS (SELECT user_id, session_id, sh,
                   unnest(range(sh, eh + 1)) AS h
            FROM iv),
    act AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_active,
                   CAST(SUM(CASE WHEN h = sh THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_started
            FROM fan GROUP BY h),
    b AS (SELECT MIN(sh) AS lo, MAX(eh) AS hi FROM iv),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS h FROM b)
    SELECT strftime(make_timestamp(grid.h * 3600 * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS hour_start,
           COALESCE(act.n_active, 0) AS n_active_sessions,
           COALESCE(act.n_started, 0) AS n_started
    FROM grid LEFT JOIN act ON act.h = grid.h
    """,
)
def concurrent_sessions_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session capacity curve: for every hour, how many
    gap-based sessions were ACTIVE (overlapping the hour) and how many
    started — the load profile behind capacity planning and the
    'peak concurrency' SLA number. Composes three catalog shapes:
    gap sessionization (one user-partitioned window pass), interval
    extraction (per-session min/max), and bounded interval stabbing
    (each session fans out to the hours it spans — the
    rolling-distinct trick with data-dependent but gap-bounded spans;
    a 30-min inactivity gap caps a session's hour fan-out at its
    actual activity span, so the fan-out table is O(session-hours),
    never events × hours).

    Scale shape: the only events-sized work is the sessionization
    window (one user_id exchange); sessions, intervals, fan-out, and
    the hour grid are all orders of magnitude smaller, and the final
    aggregate groups by hour (calendar-bounded).
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("epoch") - F.lag("epoch").over(w) > SESSION_GAP_SEC, 1
        ).otherwise(0),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(ws).cast("bigint")
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        F.expr("min(epoch) div 3600").cast("bigint").alias("sh"),
        F.expr("max(epoch) div 3600").cast("bigint").alias("eh"),
    )
    from dbt_project_spark.caching import persist_tracked

    iv = persist_tracked(iv)
    fan = iv.select(
        "sh", F.explode(F.sequence("sh", "eh")).alias("h")
    )
    act = fan.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("h") == F.col("sh"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_started"),
    )
    b = iv.agg(F.min("sh").alias("lo"), F.max("eh").alias("hi"))
    grid = b.select(F.explode(F.sequence("lo", "hi")).alias("h"))
    return grid.join(act, on="h", how="left").select(
        F.date_format(
            F.timestamp_seconds(F.col("h") * 3600), "yyyy-MM-dd HH:mm:ss"
        ).alias("hour_start"),
        F.coalesce("n_active", F.lit(0)).alias("n_active_sessions"),
        F.coalesce("n_started", F.lit(0)).alias("n_started"),
    )


@register(
    "session_funnel",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                       > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts), event_id)),
    s AS (
      SELECT user_id, event_type, ep,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                  ORDER BY ep, event_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM g),
    t1s AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' THEN ep END)
                    OVER (PARTITION BY user_id, session_id) AS t1
      FROM s),
    t2s AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ep > t1 THEN ep END)
                    OVER (PARTITION BY user_id, session_id) AS t2
      FROM t1s),
    t3s AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ep > t2 THEN ep END)
                    OVER (PARTITION BY user_id, session_id) AS t3
      FROM t2s),
    per_sess AS (
      SELECT user_id, session_id,
             MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
      FROM t3s GROUP BY user_id, session_id),
    staged AS (
      SELECT CASE WHEN t3 IS NOT NULL THEN 3
                  WHEN t2 IS NOT NULL THEN 2
                  WHEN t1 IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM per_sess)
    SELECT CAST(stage AS BIGINT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM staged GROUP BY stage
    """,
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel scoped to a SINGLE session: a session counts for stage N
    only if view → click → purchase happened in order WITHIN it —
    the strictest conversion definition (funnel_conversion allows
    cross-day chains; funnel_windowed allows 24 h; this requires one
    sitting). Emits session counts per deepest stage reached,
    including stage 0 (sessions that never even viewed).

    Scale shape: sessionization plus the three staged minima are ALL
    windows over the same (user_id[, session_id]) partitioning — the
    session_id windows are subpartitions of the user exchange, so
    Catalyst reuses one shuffle for the whole chain (the staged
    minima can't be plain group aggregates because t2 depends on t1
    row-wise; as windows they stay single-pass). The final rollup is
    a 4-row aggregate.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("epoch") - F.lag("epoch").over(w) > SESSION_GAP_SEC, 1
        ).otherwise(0),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(ws).cast("bigint")
    )
    wp = Window.partitionBy("user_id", "session_id")
    t1 = sess.withColumn(
        "t1",
        F.min(
            F.when(F.col("event_type") == "view", F.col("epoch"))
        ).over(wp),
    )
    t2 = t1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("epoch") > F.col("t1")),
                F.col("epoch"),
            )
        ).over(wp),
    )
    t3 = t2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("epoch") > F.col("t2")),
                F.col("epoch"),
            )
        ).over(wp),
    )
    per_sess = t3.groupBy("user_id", "session_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    staged = per_sess.select(
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("stage")
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )


MAU_WINDOW_DAYS = 30  # trailing MAU horizon
DECAY_WEEKS = 5  # dyadic recency-decay horizon (2^0 .. 2^4 weights)


@register(
    "stickiness_dau_mau",
    oracle=f"""
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                            AS BIGINT) AS ed
                FROM events),
    b AS (SELECT MIN(ed) AS mind, MAX(ed) AS maxd FROM ud),
    offs AS (SELECT CAST(range AS BIGINT) AS k FROM range({MAU_WINDOW_DAYS})),
    fan AS (SELECT DISTINCT ud.user_id, ud.ed + offs.k AS rd
            FROM ud JOIN offs ON 1 = 1),
    mau AS (SELECT rd, CAST(COUNT(*) AS BIGINT) AS n_mau
            FROM fan CROSS JOIN b
            WHERE rd BETWEEN b.mind AND b.maxd
            GROUP BY rd),
    dau AS (SELECT ed AS rd, CAST(COUNT(*) AS BIGINT) AS n_dau
            FROM ud GROUP BY ed)
    SELECT strftime(make_timestamp(mau.rd * 86400 * 1000000), '%Y-%m-%d')
               AS day,
           COALESCE(dau.n_dau, 0) AS n_dau, mau.n_mau,
           CAST(COALESCE(dau.n_dau, 0) * 1000000 // mau.n_mau AS BIGINT)
               AS stickiness_micro
    FROM mau LEFT JOIN dau ON dau.rd = mau.rd
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement-frequency ratio
    (how much of the monthly audience shows up on a given day) that
    growth teams track beside the lifecycle curves. MAU is the
    trailing {MAU_WINDOW_DAYS}-day distinct; early days report over
    the partial window (clipped to the observed range, identically in
    both engines); the ratio is exact integer micro-units.

    Scale shape: same fan-out formulation as
    rolling_distinct_users_7d — sliding-window COUNT(DISTINCT) is not
    frame-mergeable, so each (user, active-day) of the COLLAPSED
    user-day table fans to the {MAU_WINDOW_DAYS} report days it
    contributes to via a broadcast offsets dim, dedups, and counts.
    Events are touched once; everything after is user-days sized.
    """
    ud = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("ed"),
        )
        .distinct()
    )
    from dbt_project_spark.caching import persist_tracked

    ud = persist_tracked(ud)
    b = ud.agg(F.min("ed").alias("mind"), F.max("ed").alias("maxd"))
    offs = spark.range(MAU_WINDOW_DAYS).select(F.col("id").alias("k"))
    fan = (
        ud.crossJoin(F.broadcast(offs))
        .select("user_id", (F.col("ed") + F.col("k")).alias("rd"))
        .distinct()
    )
    mau = (
        fan.crossJoin(F.broadcast(b))
        .filter((F.col("rd") >= F.col("mind")) & (F.col("rd") <= F.col("maxd")))
        .groupBy("rd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_mau"))
    )
    dau = ud.groupBy(F.col("ed").alias("rd")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dau")
    )
    return mau.join(dau, "rd", "left").select(
        F.date_format(F.timestamp_seconds(F.col("rd") * 86400), "yyyy-MM-dd")
        .alias("day"),
        F.coalesce("n_dau", F.lit(0)).cast("bigint").alias("n_dau"),
        "n_mau",
        F.expr(
            "CAST(coalesce(n_dau, 0) * 1000000 div n_mau AS BIGINT)"
        ).alias("stickiness_micro"),
    )


@register(
    "user_decay_score",
    oracle=f"""
    WITH e AS (SELECT user_id, {_V100} AS v100,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                           AS BIGINT) AS ed
               FROM events),
    mx AS (SELECT MAX(ed) AS maxd FROM e),
    w AS (SELECT user_id, v100,
                 CASE WHEN (mx.maxd - e.ed) // 7 >= {DECAY_WEEKS} - 1 THEN 0
                      ELSE {DECAY_WEEKS} - 1 - (mx.maxd - e.ed) // 7
                 END AS sh,
                 ed
          FROM e, mx)
    SELECT user_id,
           CAST(SUM(v100 * (CAST(1 AS BIGINT) << sh)) AS BIGINT)
               AS decay_score,
           CAST(MAX(ed) AS BIGINT) AS last_active_ed
    FROM w GROUP BY user_id
    """,
)
def user_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score per user with EXACT dyadic
    decay: an event's value is weighted 2^(W−1−age_weeks) (halving
    per week of age, floor weight 1 past the horizon) — the
    lead-scoring / re-engagement ranking signal. Powers of two keep
    every weighted term an exact BIGINT (the ts_ewma_dyadic
    convention): float exp-decay sums would be addition-order-
    dependent and could never hash-gate.

    Scale shape: one events pass with the 1-row max-day broadcast,
    then a user-keyed sum — map-side combinable, users-sized output.
    """
    e = _events(spark, sf_dir).select(
        "user_id",
        "value100",
        F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("ed"),
    )
    mx = e.agg(F.max("ed").alias("maxd"))
    w = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "value100",
        "ed",
        F.expr(
            f"CASE WHEN (maxd - ed) div 7 >= {DECAY_WEEKS} - 1 THEN 0"
            f" ELSE {DECAY_WEEKS} - 1 - (maxd - ed) div 7 END"
        ).alias("sh"),
    )
    return w.groupBy("user_id").agg(
        F.expr("CAST(SUM(value100 * shiftleft(CAST(1 AS BIGINT), sh)) AS BIGINT)")
        .alias("decay_score"),
        F.max("ed").cast("bigint").alias("last_active_ed"),
    )


# ---------------------------------------------------------------------------
# cumulative_reach_daily — users-seen-to-date curve (r4s4)
# ---------------------------------------------------------------------------


@register(
    "cumulative_reach_daily",
    oracle="""
    WITH f AS (SELECT user_id,
                      MIN(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS d0
               FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    n AS (SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS new_users
          FROM f GROUP BY d0),
    t AS (SELECT CAST(SUM(new_users) AS BIGINT) AS total FROM n)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
           CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                * 1000000 // t.total AS BIGINT) AS reach_micro
    FROM n CROSS JOIN t
    """,
)
def cumulative_reach_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative audience reach: distinct users seen up to and
    including each day — the launch/campaign saturation curve. An
    EXPANDING-window COUNT(DISTINCT) is not frame-computable, but
    'users seen to date' ≡ cumulative sum of FIRST-appearance counts:
    collapse each user to their first day (one aggregate), count new
    users per day, prefix-sum over the days table. Reach share is the
    truncating micro-unit against the final total.

    Scale shape: one events-sized aggregate to users (map-side
    combined min), one users-sized aggregate to days; the windows run
    over the days table only (bounded by the time range). Compare
    rolling_distinct_users_7d, whose bounded window needs the fan-out
    formulation — the expanding case is strictly cheaper because
    first-appearance is a function of the user alone.
    """
    f = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.date_format("ts", "yyyy-MM-dd")).alias("d0"))
    )
    n = f.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    t = n.agg(F.sum("new_users").cast("bigint").alias("total"))
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return n.crossJoin(F.broadcast(t)).select(
        "day",
        "new_users",
        F.sum("new_users").over(wc).cast("bigint").alias("cum_users"),
        F.expr(
            "CAST(SUM(new_users) OVER (ORDER BY day"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " * 1000000 div total AS BIGINT)"
        ).alias("reach_micro"),
    )


# ---------------------------------------------------------------------------
# user_activity_streaks (r5s4)
# ---------------------------------------------------------------------------


@register(
    "user_activity_streaks",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
                          // 86400000000 AS day
               FROM events WHERE user_id IS NOT NULL),
    r AS (SELECT user_id, day,
                 day - ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY day) AS grp
          FROM d),
    s AS (SELECT user_id, grp,
                 CAST(COUNT(*) AS BIGINT) AS len
          FROM r GROUP BY 1, 2)
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak_days
    FROM s GROUP BY user_id
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus streak
    count and total active days) — the engagement metric behind
    'don't break the chain' product features and a standard
    gaps-and-islands exercise: consecutive days share a constant
    (day − row_number) group key, so islands fall out of one grouped
    count with no self-joins.

    All-integer (epoch days), deterministic.

    Scale shape: one distinct (user, day) aggregate (map-side
    combinable), one user-partitioned window, two grouped counts —
    a single shuffle by user carries everything."""
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    s = r.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return s.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("max_streak_days"),
    )


# ---------------------------------------------------------------------------
# capture_recapture_users — Lincoln-Petersen population estimate
# ---------------------------------------------------------------------------


@register(
    "capture_recapture_users",
    oracle="""
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                          AS ep
               FROM events WHERE user_id IS NOT NULL),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    u AS (SELECT user_id,
                 CAST(MAX(CASE WHEN ep < (SELECT m FROM mid)
                          THEN 1 ELSE 0 END) AS BIGINT) AS in_ref,
                 CAST(MAX(CASE WHEN ep >= (SELECT m FROM mid)
                          THEN 1 ELSE 0 END) AS BIGINT) AS in_cur
          FROM e GROUP BY user_id),
    t AS (SELECT CAST(SUM(in_ref) AS BIGINT) AS n1,
                 CAST(SUM(in_cur) AS BIGINT) AS n2,
                 CAST(SUM(in_ref * in_cur) AS BIGINT) AS m12,
                 CAST(COUNT(*) AS BIGINT) AS n_seen
          FROM u)
    SELECT n1, n2, m12, n_seen,
           CASE WHEN m12 = 0 THEN NULL
                ELSE CAST(CAST(n1 AS HUGEINT) * n2 // m12 AS BIGINT)
           END AS n_hat,
           CASE WHEN m12 = 0 THEN NULL
                ELSE CAST((CAST(n1 AS HUGEINT) * n2 // m12 - n_seen)
                          * 1000000 // n_seen AS BIGINT)
           END AS unseen_share_micro
    FROM t
    """,
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture estimate of the TOTAL user
    population from two observation windows (first vs second half of
    the time range): N̂ = n₁·n₂ / m — how many users exist that the
    log never saw, from nothing but the overlap between two sightings.
    The 'how much of the population does my telemetry cover?' number
    a growth or instrumentation review starts from (assumes equal
    catchability across halves — heavy one-window cohorts bias N̂
    up, which stickiness_dau_mau then diagnoses).

    Exactness: the per-user capture flags, the overlap, and N̂'s
    n₁·n₂ // m are exact HUGEINT/DECIMAL(38,0) integer arithmetic;
    the never-seen share a truncating micro ratio; zero overlap
    emits NULL identically.

    Scale shape: one events-sized per-user flag aggregate (map-side
    MAX), a 1-row reduce."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).select("user_id", F.unix_timestamp("ts").alias("ep"))
    mid = e.agg(
        F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m")
    )
    u = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("ep") < F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("in_ref"),
            F.max(F.when(F.col("ep") >= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("in_cur"),
        )
    )
    t = u.agg(
        F.sum("in_ref").cast("bigint").alias("n1"),
        F.sum("in_cur").cast("bigint").alias("n2"),
        F.sum(F.col("in_ref") * F.col("in_cur"))
        .cast("bigint")
        .alias("m12"),
        F.count(F.lit(1)).cast("bigint").alias("n_seen"),
    )
    return t.select(
        "n1",
        "n2",
        "m12",
        "n_seen",
        F.expr(
            "CASE WHEN m12 = 0 THEN NULL"
            " ELSE CAST(CAST(n1 AS DECIMAL(38,0)) * n2 div m12 AS BIGINT)"
            " END"
        ).alias("n_hat"),
        F.expr(
            "CASE WHEN m12 = 0 THEN NULL"
            " ELSE CAST((CAST(n1 AS DECIMAL(38,0)) * n2 div m12 - n_seen)"
            " * 1000000 div n_seen AS BIGINT) END"
        ).alias("unseen_share_micro"),
    )
