"""Web-traffic analytics family — reference parity over `events`.

The reference's raw_traffic_data(page_views, session_duration,
time_on_page, timestamp) maps onto events(event_id, ts, user_id,
event_type, value, props): `value` plays session_duration, the JSON
props key `k` plays page_views, `user_id` plays time_on_page. The
operators themselves are generic (operators/windows.py etc.); this
module is just the binding.

Oracle determinism: window bounds are epoch-floor arithmetic rendered
as strings (no tz ambiguity); ratios of exact integer counts are
bit-identical across engines; double aggregates are rounded identically
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.functions.expressions import engagement_score
from dbt_project_spark.operators.bucketize import categorize
from dbt_project_spark.operators.compare import accuracy_summary
from dbt_project_spark.operators.rates import conditional_rate
from dbt_project_spark.operators.stats import correlation_matrix, hourly_profile
from dbt_project_spark.operators.windows import (
    two_level_rollup,
    windowed_count_distribution,
    windowed_stats,
    with_tumbling_window,
)
from dbt_project_spark.sources import load_table

# Shared oracle fragment: 5-min tumbling window bounds as strings.
_WIN = (
    "strftime(make_timestamp(CAST(floor(epoch(ts)/{w})*{w} AS BIGINT)*1000000),"
    " '%Y-%m-%d %H:%M:%S') AS window_start,"
    " strftime(make_timestamp((CAST(floor(epoch(ts)/{w})*{w} AS BIGINT)+{w})*1000000),"
    " '%Y-%m-%d %H:%M:%S') AS window_end"
)
_K = "CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INT)"
# Fixed-point trick for cross-engine float determinism: `value` carries
# exactly 2 decimals, so value*100 rounded is an exact integer; integer
# sums are order-independent and exact in double/int64, so derived
# averages (one division of exact integers) are bit-identical across
# Spark and any ANSI engine — no ROUND tie-breaking hazards.
_V100 = "CAST(round(value * 100, 0) AS BIGINT)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` plus the derived columns the event-query modules share:
    ``k`` (page_views analogue: integer from the JSON props payload),
    ``value100`` (value in exact hundredths) and ``epoch`` (unix seconds).
    A query that reads none of them pays nothing: unused columns are
    pruned from the plan."""
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .withColumn("value100", F.round(F.col("value") * 100, 0).cast("bigint"))
        .withColumn("epoch", F.unix_timestamp("ts"))
    )


@register(
    "wt_windowed_distribution",
    oracle=f"""
    WITH w AS (SELECT {_WIN.format(w=300)}, event_type FROM events)
    SELECT window_start, window_end, event_type,
           COUNT(*) AS count,
           ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY window_start), 2)
               AS percentage
    FROM w GROUP BY window_start, window_end, event_type
    """,
)
def wt_windowed_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-min window × event_type counts + pct-of-window.

    Parity: batch_stream.sql:6-21, spark_streaming_new.py:142-153.
    """
    return windowed_count_distribution(
        _events(spark, sf_dir), "ts", 300, ["event_type"]
    )


@register(
    "wt_session_categories",
    oracle=f"""
    WITH c AS (
      SELECT {_WIN.format(w=300)},
             CASE WHEN value < 50 THEN 'Short'
                  WHEN value < 150 THEN 'Medium'
                  ELSE 'Long' END AS session_category
      FROM events)
    SELECT window_start, window_end, session_category,
           COUNT(*) AS count,
           ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY window_start), 2)
               AS percentage
    FROM c GROUP BY window_start, window_end, session_category
    """,
)
def wt_session_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE bucketing + windowed distribution.

    Parity: batch_stream.sql:27-50, spark_streaming_new.py:168-183.
    """
    df = _events(spark, sf_dir).withColumn(
        "session_category", categorize("value", [50, 150], ["Short", "Medium", "Long"])
    )
    return windowed_count_distribution(df, "ts", 300, ["session_category"])


@register(
    "wt_engagement_scores",
    oracle=f"""
    WITH s AS (
      SELECT {_WIN.format(w=300)},
             400 * {_K} + 3 * {_V100} + 300 * user_id AS eng1000
      FROM events)
    SELECT window_start, window_end,
           SUM(eng1000) / (COUNT(*) * 1000.0) AS avg_engagement_score,
           MIN(eng1000) / 1000.0 AS min_engagement_score,
           MAX(eng1000) / 1000.0 AS max_engagement_score
    FROM s GROUP BY window_start, window_end
    """,
)
def wt_engagement_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted engagement score (0.4·pv + 0.3·sd + 0.3·tp) avg/min/max
    per 5-min window, in ×1000 fixed point.

    Parity: batch_stream.sql:57-74, spark_streaming_new.py:96,198-212.
    """
    df = _events(spark, sf_dir).withColumn(
        "eng1000",
        engagement_score("k", "value100", "user_id", weights=(400, 3, 300)).cast(
            "bigint"
        ),
    )
    return windowed_stats(
        df,
        "ts",
        300,
        [
            (F.sum("eng1000") / (F.count(F.lit(1)) * F.lit(1000.0))).alias(
                "avg_engagement_score"
            ),
            (F.min("eng1000") / F.lit(1000.0)).alias("min_engagement_score"),
            (F.max("eng1000") / F.lit(1000.0)).alias("max_engagement_score"),
        ],
    )


@register(
    "wt_quarterly_trend",
    oracle=f"""
    WITH w AS (SELECT {_WIN.format(w=900)}, {_V100} AS value100 FROM events)
    SELECT window_start AS quarter_window,
           COUNT(*) AS total_sessions,
           SUM(value100) / 100.0 AS total_value,
           SUM(value100) / (COUNT(*) * 100.0) AS avg_value_per_session
    FROM w GROUP BY window_start
    """,
)
def wt_quarterly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-min trend: totals + per-session average.

    Parity: batch_stream.sql:80-91.
    """
    return (
        windowed_stats(
            _events(spark, sf_dir),
            "ts",
            900,
            [
                F.count(F.lit(1)).alias("total_sessions"),
                (F.sum("value100") / F.lit(100.0)).alias("total_value"),
                (F.sum("value100") / (F.count(F.lit(1)) * F.lit(100.0))).alias(
                    "avg_value_per_session"
                ),
            ],
        )
        .withColumnRenamed("window_start", "quarter_window")
        .drop("window_end")
    )


@register(
    "wt_bounce_rate",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT)
                 / COUNT(*), 2) AS bounce_rate_percentage
    FROM events
    """,
)
def wt_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar conditional rate. Parity: batch_stream.sql:95-101."""
    return conditional_rate(
        _events(spark, sf_dir), F.col("value") < 10, "bounce_rate_percentage"
    )


@register(
    "wt_conversion_rate",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN event_type = 'purchase' AND value > 50
                                       THEN 1 ELSE 0 END) AS BIGINT)
                 / COUNT(*), 2) AS conversion_rate_percentage
    FROM events
    """,
)
def wt_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-predicate scalar rate. Parity: batch_stream.sql:107-113."""
    return conditional_rate(
        _events(spark, sf_dir),
        (F.col("event_type") == "purchase") & (F.col("value") > 50),
        "conversion_rate_percentage",
    )


@register(
    "wt_hourly_patterns",
    oracle=f"""
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           COUNT(*) AS visit_count,
           SUM({_V100}) / (COUNT(*) * 100.0) AS avg_value,
           SUM({_K}) / (COUNT(*) * 1.0) AS avg_k
    FROM events GROUP BY hour_of_day ORDER BY hour_of_day
    """,
)
def wt_hourly_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day traffic profile. Parity: spark_streaming_new.py:227-239."""
    return hourly_profile(
        _events(spark, sf_dir),
        "ts",
        avg_exprs={
            "avg_value": F.sum("value100") / (F.count(F.lit(1)) * F.lit(100.0)),
            "avg_k": F.sum("k") / (F.count(F.lit(1)) * F.lit(1.0)),
        },
    )


@register(
    "wt_correlation",
    oracle=f"""
    SELECT ROUND(corr(value, {_K}), 6) AS corr_value_k,
           ROUND(corr(value, user_id), 6) AS corr_value_user_id,
           ROUND(corr({_K}, user_id), 6) AS corr_k_user_id
    FROM events
    """,
)
def wt_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations. Parity: spark_streaming_new.py:242-252."""
    return correlation_matrix(_events(spark, sf_dir), ["value", "k", "user_id"])


@register(
    "wt_daily_rollup",
    oracle=f"""
    WITH w AS (SELECT {_WIN.format(w=300)}, event_type, {_V100} AS value100 FROM events)
    SELECT window_start, window_end, event_type,
           COUNT(*) AS n_events,
           SUM(value100) / 100.0 AS total_value
    FROM w GROUP BY window_start, window_end, event_type
    """,
)
def wt_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup (1-min partials → 5-min final).

    The streaming/batch-parity pattern: counts and integer fixed-point
    sums reassociate exactly, so the incremental rollup must equal the
    direct aggregation — the oracle IS the direct aggregation.
    """
    return (
        two_level_rollup(_events(spark, sf_dir), "ts", 60, 300, "value100", ["event_type"])
        .withColumn("total_value", F.col("value_sum") / F.lit(100.0))
        .drop("value_sum")
    )


@register(
    "wt_stream_batch_compare",
    oracle=f"""
    WITH w AS (SELECT {_WIN.format(w=300)}, event_type FROM events),
    direct AS (
      SELECT window_start, window_end, event_type, COUNT(*) AS count
      FROM w GROUP BY window_start, window_end, event_type),
    fine AS (
      SELECT {_WIN.format(w=60)}, event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2, event_type),
    rolled AS (
      SELECT strftime(make_timestamp(CAST(floor(epoch(strptime(window_start, '%Y-%m-%d %H:%M:%S'))/300)*300 AS BIGINT)*1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, CAST(SUM(cnt) AS BIGINT) AS count
      FROM fine GROUP BY 1, event_type),
    cmp AS (
      SELECT d.count AS count_stream, r.count AS count_batch
      FROM direct d FULL OUTER JOIN rolled r
        ON d.window_start = r.window_start AND d.event_type = r.event_type)
    SELECT 'windowed_distribution' AS table_name,
           COUNT(*) AS total_records,
           CAST(SUM(CASE WHEN ABS(COALESCE(count_stream, 0) - COALESCE(count_batch, 0)) <= 10
                    THEN 1 ELSE 0 END) AS BIGINT) AS matching_records,
           ROUND(100.0 * SUM(CASE WHEN ABS(COALESCE(count_stream, 0) - COALESCE(count_batch, 0)) <= 10
                             THEN 1 ELSE 0 END) / COUNT(*), 2) AS accuracy_percentage
    FROM cmp
    """,
)
def wt_stream_batch_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent derivations joined + accuracy score.

    Parity: comparision.sql:65-79 (accuracy_comparison). The 'stream'
    side is the direct 5-min aggregation; the 'batch' side re-derives
    it through 1-min partials, mimicking the reference's
    stream-vs-batch reconciliation.
    """
    ev = _events(spark, sf_dir)
    direct = windowed_count_distribution(ev, "ts", 300, ["event_type"]).select(
        "window_start", "event_type", "count"
    )
    rolled = (
        two_level_rollup(ev, "ts", 60, 300, "value", ["event_type"])
        .select("window_start", "event_type", F.col("n_events").alias("count"))
    )
    return accuracy_summary(
        direct,
        rolled,
        ["window_start", "event_type"],
        "count",
        tolerance=10.0,
        label="windowed_distribution",
    )


@register(
    "wt_compare_categories",
    oracle=f"""
    WITH c AS (
      SELECT {_WIN.format(w=300)},
             CASE WHEN value < 50 THEN 'Short'
                  WHEN value < 150 THEN 'Medium'
                  ELSE 'Long' END AS session_category
      FROM events),
    direct AS (
      SELECT window_start, session_category, COUNT(*) AS count
      FROM c GROUP BY window_start, session_category),
    fine AS (
      SELECT {_WIN.format(w=60)},
             CASE WHEN value < 50 THEN 'Short'
                  WHEN value < 150 THEN 'Medium'
                  ELSE 'Long' END AS session_category,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2, session_category),
    rolled AS (
      SELECT strftime(make_timestamp(CAST(floor(epoch(strptime(window_start, '%Y-%m-%d %H:%M:%S'))/300)*300 AS BIGINT)*1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
             session_category, CAST(SUM(cnt) AS BIGINT) AS count
      FROM fine GROUP BY 1, session_category)
    SELECT d.window_start, d.session_category,
           d.count AS count_stream, r.count AS count_batch,
           (d.count = r.count) AS is_match
    FROM direct d JOIN rolled r
      ON d.window_start = r.window_start AND d.session_category = r.session_category
    """,
)
def wt_compare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-categories comparison table (comparision.sql:5-21):
    per-window stream/batch counts side by side with a match flag —
    the 'stream' side is the direct 5-min aggregation, the 'batch'
    side re-derives it from 1-min partials."""
    ev = _events(spark, sf_dir).withColumn(
        "session_category", categorize("value", [50, 150], ["Short", "Medium", "Long"])
    )
    direct = windowed_count_distribution(ev, "ts", 300, ["session_category"]).select(
        "window_start", "session_category", "count"
    )
    rolled = (
        two_level_rollup(ev, "ts", 60, 300, "value100", ["session_category"])
        .select("window_start", "session_category", F.col("n_events").alias("count"))
    )
    d = direct.alias("d")
    r = rolled.alias("r")
    return (
        d.join(r, on=["window_start", "session_category"])
        .select(
            "window_start",
            "session_category",
            F.col("d.count").alias("count_stream"),
            F.col("r.count").alias("count_batch"),
            (F.col("d.count") == F.col("r.count")).alias("is_match"),
        )
    )


@register(
    "wt_compare_engagement",
    oracle=f"""
    WITH s AS (
      SELECT {_WIN.format(w=300)},
             400 * {_K} + 3 * {_V100} + 300 * user_id AS eng1000
      FROM events),
    direct AS (
      SELECT window_start,
             SUM(eng1000) / (COUNT(*) * 1000.0) AS avg_eng
      FROM s GROUP BY window_start),
    partials AS (
      SELECT window_start, CAST(SUM(eng1000) AS BIGINT) AS s1000, COUNT(*) AS n
      FROM s GROUP BY window_start),
    recomputed AS (
      SELECT window_start, s1000 / (n * 1000.0) AS avg_eng FROM partials)
    SELECT d.window_start,
           d.avg_eng AS stream_avg, r.avg_eng AS batch_avg,
           (d.avg_eng = r.avg_eng) AS is_match
    FROM direct d JOIN recomputed r ON d.window_start = r.window_start
    """,
)
def wt_compare_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-scores comparison (comparision.sql:45-63): direct
    per-window average vs average recomputed from mergeable (sum,
    count) partials — the fixed-point representation makes the two
    derivations exactly equal, which is the streaming/batch-parity
    guarantee the reference checks by hand."""
    ev = _events(spark, sf_dir).withColumn(
        "eng1000",
        engagement_score("k", "value100", "user_id", weights=(400, 3, 300)).cast("bigint"),
    )
    base = with_tumbling_window(ev, "ts", 300)
    direct = base.groupBy("window_start").agg(
        (F.sum("eng1000") / (F.count(F.lit(1)) * F.lit(1000.0))).alias("avg_eng")
    )
    partials = base.groupBy("window_start").agg(
        F.sum("eng1000").cast("bigint").alias("s1000"),
        F.count(F.lit(1)).alias("n"),
    )
    recomputed = partials.select(
        "window_start", (F.col("s1000") / (F.col("n") * F.lit(1000.0))).alias("avg_eng")
    )
    d = direct.alias("d")
    r = recomputed.alias("r")
    return d.join(r, on="window_start").select(
        "window_start",
        F.col("d.avg_eng").alias("stream_avg"),
        F.col("r.avg_eng").alias("batch_avg"),
        (F.col("d.avg_eng") == F.col("r.avg_eng")).alias("is_match"),
    )
