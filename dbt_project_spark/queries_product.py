"""Product-analytics family over `events`: ordered conversion funnel,
cohort retention, SCD type-2 attribute history, and an event-transition
matrix. These are the queries a product/growth warehouse runs daily —
the reference's web-traffic suite (batch_stream.sql) stops at windowed
counts; this family adds the user-journey layer on top of the same
events stream.

Determinism: all stage logic is integer (epoch seconds / epoch days /
value100 fixed-point); every percentage is integer basis points with a
single final double division; every window has a total order.

Scale shapes (100 TB events):
- funnel: three monotonically-shrinking per-user aggregates; each stage
  joins on user_id (one hash partitioning reused), and stage outputs
  are users-sized, not events-sized.
- cohort: (user, day) distinct collapses events 60×+ before the
  cohort-offset shuffle; output is cohorts×weeks — tiny.
- scd2: one user_id-partitioned window pass (the sessionization
  pattern: change-flag + prefix-sum islands), then a users×islands agg.
- transitions: one lead() pass per user partition, then a 25-cell agg;
  the pct window runs over the 25-row aggregate, not the events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.catalog import register
from dbt_project_spark.queries_web import _events
from dbt_project_spark.sources import load_table

_EP = "CAST(floor(epoch(ts)) AS BIGINT)"
_V100 = "CAST(round(value * 100, 0) AS BIGINT)"

# SCD2 daily-spend tiers on the value100 scale (sf0.01 user-day
# terciles ~5.8k / ~13.9k — thresholds keep all three tiers populated).
TIER_LOW_MAX = 6_000
TIER_MID_MAX = 14_000


@register(
    "funnel_conversion",
    oracle=f"""
    WITH v AS (SELECT user_id, MIN({_EP}) AS t1
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN({_EP}) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND {_EP} > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN({_EP}) AS t3
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND {_EP} > c.t2
          GROUP BY e.user_id),
    stages AS (
      SELECT '1_view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
      UNION ALL SELECT '2_click', (SELECT COUNT(*) FROM c)
      UNION ALL SELECT '3_purchase', (SELECT COUNT(*) FROM p))
    SELECT stage, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users * 10000 // (SELECT n_users FROM stages
                                    WHERE stage = '1_view') AS BIGINT)
               / 100.0 AS pct_of_top
    FROM stages
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    for stage N only with an event strictly after their stage-N-1
    entry time (min-epoch semantics, ties-at-same-second excluded
    identically in both engines).

    Each stage is a per-user min over a filtered scan joined to the
    previous (smaller) stage — user-keyed shuffles over
    monotonically-shrinking inputs; the final counts are 3 scalars.
    """
    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("epoch") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("epoch") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t3"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit("1_view").alias("stage"), "n_users")
        .unionByName(c.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit("2_click").alias("stage"), "n_users"))
        .unionByName(p.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit("3_purchase").alias("stage"), "n_users"))
    )
    top = stages.filter(F.col("stage") == "1_view").select(
        F.col("n_users").alias("top_users")
    )
    return stages.crossJoin(F.broadcast(top)).select(
        "stage",
        F.col("n_users").cast("bigint").alias("n_users"),
        (F.expr("n_users * 10000 div top_users").cast("bigint") / F.lit(100.0)).alias(
            "pct_of_top"
        ),
    )


@register(
    "cohort_retention",
    oracle=f"""
    WITH a AS (SELECT DISTINCT user_id, {_EP} // 86400 AS ed FROM events),
    f AS (SELECT user_id, MIN(ed) AS cohort_ed FROM a GROUP BY user_id)
    SELECT strftime(to_timestamp(f.cohort_ed * 86400), '%Y-%m-%d') AS cohort_day,
           CAST((a.ed - f.cohort_ed) // 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM a JOIN f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted as
    retained in each 7-day offset bucket they appear in.

    The (user, day) distinct collapses the events table by ~events-per-
    user-day before anything else moves; first-day is a per-user min on
    that collapsed set, and the output is cohorts × weeks. The
    expensive exact COUNT(DISTINCT user) runs on day-level rows, not
    raw events.
    """
    ev = _events(spark, sf_dir)
    a = ev.select(
        "user_id", F.expr("epoch div 86400").cast("bigint").alias("ed")
    ).distinct()
    f = a.groupBy("user_id").agg(F.min("ed").alias("cohort_ed"))
    return (
        a.join(f, "user_id")
        .groupBy(
            F.date_format(
                F.timestamp_seconds(F.col("cohort_ed") * 86400), "yyyy-MM-dd"
            ).alias("cohort_day"),
            F.expr("(ed - cohort_ed) div 7").cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "scd2_user_tier",
    oracle=f"""
    WITH d AS (SELECT user_id, {_EP} // 86400 AS ed,
                      SUM({_V100}) AS v100
               FROM events GROUP BY 1, 2),
    t AS (SELECT user_id, ed,
                 CASE WHEN v100 < {TIER_LOW_MAX} THEN 'Low'
                      WHEN v100 < {TIER_MID_MAX} THEN 'Mid'
                      ELSE 'High' END AS tier
          FROM d),
    g AS (SELECT user_id, ed, tier,
                 CASE WHEN tier = LAG(tier) OVER w THEN 0 ELSE 1 END AS chg
          FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ed)),
    i AS (SELECT user_id, ed, tier,
                 SUM(chg) OVER (PARTITION BY user_id ORDER BY ed
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM g)
    SELECT user_id, tier,
           strftime(to_timestamp(MIN(ed) * 86400), '%Y-%m-%d') AS valid_from,
           strftime(to_timestamp(MAX(ed) * 86400), '%Y-%m-%d') AS valid_to,
           COUNT(*) AS n_days,
           CAST(island AS BIGINT) AS version
    FROM i GROUP BY user_id, tier, island
    """,
)
def scd2_user_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: per-user daily spend tier
    (Low/Mid/High on fixed-point daily totals), consecutive same-tier
    runs collapsed into validity intervals [valid_from, valid_to] with
    a version counter — the slowly-changing-dimension merge a
    warehouse would maintain incrementally, derived here in one pass.

    Change-flag + prefix-sum islands reuse a single user_id
    partitioning (one exchange, two window passes over it); the
    groupBy collapses to users × islands.
    """
    ev = _events(spark, sf_dir)
    d = (
        ev.groupBy(
            "user_id", F.expr("epoch div 86400").cast("bigint").alias("ed")
        ).agg(F.sum("value100").alias("v100"))
    )
    t = d.withColumn(
        "tier",
        F.when(F.col("v100") < TIER_LOW_MAX, "Low")
        .when(F.col("v100") < TIER_MID_MAX, "Mid")
        .otherwise("High"),
    )
    w = Window.partitionBy("user_id").orderBy("ed")
    g = t.withColumn(
        "chg",
        F.when(F.col("tier") == F.lag("tier").over(w), 0).otherwise(1),
    )
    wi = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    i = g.withColumn("island", F.sum("chg").over(wi))
    return i.groupBy("user_id", "tier", "island").agg(
        F.date_format(
            F.timestamp_seconds(F.min("ed") * 86400), "yyyy-MM-dd"
        ).alias("valid_from"),
        F.date_format(
            F.timestamp_seconds(F.max("ed") * 86400), "yyyy-MM-dd"
        ).alias("valid_to"),
        F.count(F.lit(1)).alias("n_days"),
    ).select(
        "user_id",
        "tier",
        "valid_from",
        "valid_to",
        "n_days",
        F.col("island").cast("bigint").alias("version"),
    )


@register(
    "event_transitions",
    oracle=f"""
    WITH s AS (SELECT user_id, event_type,
                      LEAD(event_type) OVER (PARTITION BY user_id
                                             ORDER BY {_EP}, event_id)
                          AS next_type
               FROM events),
    c AS (SELECT event_type AS from_type, next_type AS to_type,
                 COUNT(*) AS n
          FROM s WHERE next_type IS NOT NULL
          GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(n * 10000 // SUM(n) OVER (PARTITION BY from_type)
                AS BIGINT) / 100.0 AS pct
    FROM c
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (Markov counts): per-user
    lead() pairs, counted into a types×types grid with a
    row-normalized percentage.

    One user-partitioned window pass over events; the normalizing
    window runs over the 25-row aggregate. At 100 TB the only
    events-sized shuffle is the lead() partitioning.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    s = ev.withColumn("next_type", F.lead("event_type").over(w))
    c = (
        s.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("from_type")
    return (
        c.withColumn("total", F.sum("n").over(wn))
        .select(
            "from_type",
            "to_type",
            "n",
            (F.expr("n * 10000 div total").cast("bigint") / F.lit(100.0)).alias(
                "pct"
            ),
        )
    )


@register(
    "linreg_value_trend",
    oracle=f"""
    WITH e AS (SELECT event_type, {_EP} AS ep, {_V100} AS v100
               FROM events),
    m AS (SELECT event_type, MIN(ep) AS x0, MIN(v100) AS y0
          FROM e GROUP BY event_type),
    s AS (SELECT e.event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(e.ep - m.x0) AS BIGINT) AS sx,
                 CAST(SUM(e.v100 - m.y0) AS BIGINT) AS sy,
                 CAST(SUM((e.ep - m.x0) * (e.v100 - m.y0)) AS BIGINT) AS sxy,
                 CAST(SUM((e.ep - m.x0) * (e.ep - m.x0)) AS BIGINT) AS sxx
          FROM e JOIN m ON m.event_type = e.event_type
          GROUP BY e.event_type)
    SELECT event_type, n,
           CAST((CAST(n AS DECIMAL(38,0)) * sxy
                 - CAST(sx AS DECIMAL(38,0)) * sy) * 86400 AS VARCHAR)
               AS slope_day_num,
           CAST(CAST(n AS DECIMAL(38,0)) * sxx
                - CAST(sx AS DECIMAL(38,0)) * sx AS VARCHAR)
               AS slope_day_den
    FROM s
    """,
)
def linreg_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of value over time (is engagement drifting?):
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), scaled to value-units per
    day. x and y are shifted by their per-group minima FIRST so every
    per-row product and per-group sum stays inside BIGINT at any
    realistic scale; the final combination runs in DECIMAL(38,0)
    (exact at 100 TB row counts) and the slope is emitted as an EXACT
    rational (numerator/denominator decimal strings) — measured: the
    double division differs between engines in the last ulp, and
    Spark's decimal `div` silently wraps at this magnitude, so the
    rational pair is the only bit-stable cross-engine contract.

    Plan: one tiny min-aggregate broadcast back onto the scan, then
    one map-side-combined aggregation — two scans, one events-sized
    shuffle of 5-group partials.
    """
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.col("epoch").alias("ep"),
        F.col("value100").alias("v100"),
    )
    m = ev.groupBy("event_type").agg(
        F.min("ep").alias("x0"), F.min("v100").alias("y0")
    )
    j = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        (F.col("ep") - F.col("x0")).alias("x"),
        (F.col("v100") - F.col("y0")).alias("y"),
    )
    s = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dec = "CAST(n AS DECIMAL(38,0))"
    sxdec = "CAST(sx AS DECIMAL(38,0))"
    return s.select(
        "event_type",
        "n",
        F.expr(f"CAST(({dec} * sxy - {sxdec} * sy) * 86400 AS STRING)").alias(
            "slope_day_num"
        ),
        F.expr(f"CAST({dec} * sxx - {sxdec} * sx AS STRING)").alias(
            "slope_day_den"
        ),
    )


FUNNEL_SPAN_S = 86400  # windowed funnel: chain must complete in 24 h


@register(
    "funnel_windowed",
    oracle=f"""
    WITH v AS (SELECT user_id, MIN({_EP}) AS t1
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN({_EP}) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND {_EP} > v.t1
            AND {_EP} <= v.t1 + {FUNNEL_SPAN_S}
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN({_EP}) AS t3
          FROM events e JOIN c ON c.user_id = e.user_id
                        JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND {_EP} > c.t2
            AND {_EP} <= v.t1 + {FUNNEL_SPAN_S}
          GROUP BY e.user_id),
    stages AS (
      SELECT '1_view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
      UNION ALL SELECT '2_click', (SELECT COUNT(*) FROM c)
      UNION ALL SELECT '3_purchase', (SELECT COUNT(*) FROM p))
    SELECT stage, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users * 10000 // (SELECT n_users FROM stages
                                    WHERE stage = '1_view') AS BIGINT)
               / 100.0 AS pct_of_top
    FROM stages
    """,
)
def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel (the ClickHouse windowFunnel /
    Amplitude 'conversion window' semantics): view → click → purchase
    counts only when the WHOLE chain completes within FUNNEL_SPAN_S
    of the user's first view — funnel_conversion without the window
    credits a purchase three weeks after the view, which overstates
    campaign conversion. Each later stage is bounded by the chain
    anchor t1 + span, not by its own predecessor's time alone.

    Scale shape: same monotonically-shrinking user-keyed stage joins
    as funnel_conversion — the span predicate is applied in the join
    filter, so no extra pass; the purchase stage carries both t1 (for
    the window bound) and t2 (for ordering) via two shrinking joins.
    """
    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("epoch") > F.col("t1"))
            & (F.col("epoch") <= F.col("t1") + FUNNEL_SPAN_S)
        )
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .join(v, "user_id")
        .filter(
            (F.col("epoch") > F.col("t2"))
            & (F.col("epoch") <= F.col("t1") + FUNNEL_SPAN_S)
        )
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t3"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("1_view").alias("stage"), "n_users")
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("2_click").alias("stage"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit("3_purchase").alias("stage"), "n_users"
            )
        )
    )
    top = stages.filter(F.col("stage") == "1_view").select(
        F.col("n_users").alias("top_users")
    )
    return stages.crossJoin(F.broadcast(top)).select(
        "stage",
        F.col("n_users").cast("bigint").alias("n_users"),
        (
            F.expr("n_users * 10000 div top_users").cast("bigint")
            / F.lit(100.0)
        ).alias("pct_of_top"),
    )


AB_CONV_SPEND100 = 330_000  # "high-value user": total spend >= $3,300


@register(
    "ab_test_conversion",
    oracle="""
    WITH u AS (SELECT user_id,
                      CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1, 8))::BIGINT % 2 = 0
                           THEN 'A' ELSE 'B' END AS arm,
                      CAST(CASE WHEN SUM(CAST(round(value * 100, 0) AS BIGINT))
                                     >= 330000
                           THEN 1 ELSE 0 END AS BIGINT) AS conv
               FROM events GROUP BY user_id),
    a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(conv) AS BIGINT) AS n_conv
          FROM u GROUP BY arm),
    w AS (SELECT MAX(CASE WHEN arm = 'A' THEN n_conv END) AS a1,
                 MAX(CASE WHEN arm = 'A' THEN n_users - n_conv END) AS a0,
                 MAX(CASE WHEN arm = 'B' THEN n_conv END) AS b1,
                 MAX(CASE WHEN arm = 'B' THEN n_users - n_conv END) AS b0
          FROM a),
    c AS (SELECT CASE WHEN (a1 + b1) = 0 OR (a0 + b0) = 0 THEN 0.0
                 ELSE ROUND(CAST((a1 + a0 + b1 + b0)
                            * CAST((a1 * b0 - a0 * b1) AS HUGEINT)
                            * (a1 * b0 - a0 * b1) AS DOUBLE)
                       / CAST(CAST((a1 + a0) AS HUGEINT) * (b1 + b0)
                              * (a1 + b1) * (a0 + b0) AS DOUBLE), 6) END
                     AS chi2
          FROM w)
    SELECT a.arm, a.n_users, a.n_conv,
           ROUND(a.n_conv * 1.0 / a.n_users, 6) AS conv_rate,
           c.chi2
    FROM a CROSS JOIN c
    """,
)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-assigned A/B experiment readout: users are deterministically
    split into two arms by md5(user_id) (the reproducible assignment a
    real experiment platform uses — no RNG, so retries and reruns see
    identical arms), each arm reports its high-value conversion rate
    (total spend ≥ AB_CONV_SPEND100 — the raw has-a-purchase flag
    saturates at 100% on this corpus), and the 2×2 chi-square
    statistic (≡ z² for two proportions) rides along — under a null
    A/A split like this one it should be small, which makes the query
    double as an SRM/assignment-bias health check. Degenerate margins
    (all-converted or none) emit chi2 = 0 identically in both
    engines.

    Exactness: the chi-square uses the cleared form
    N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — numerator and denominator are
    exact HUGEINT/DECIMAL(38,0) integers, converted once to double for
    a single rounded division.

    Scale shape: one events-sized per-user aggregate (map-side
    combinable MAX), one arms-sized rollup, constant-size arithmetic
    after; the chi2 is a 1-row broadcast onto 2 rows.
    """
    from dbt_project_spark.functions import md5_int

    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
                >= AB_CONV_SPEND100,
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("conv")
        )
        .withColumn(
            "arm",
            F.when(
                md5_int(F.col("user_id").cast("string")) % 2 == 0, "A"
            ).otherwise("B"),
        )
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    w = a.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("a1"),
        F.max(
            F.when(F.col("arm") == "A", F.col("n_users") - F.col("n_conv"))
        ).alias("a0"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("b1"),
        F.max(
            F.when(F.col("arm") == "B", F.col("n_users") - F.col("n_conv"))
        ).alias("b0"),
    )
    c = w.select(
        F.when((F.col("a1") + F.col("b1") == 0) | (F.col("a0") + F.col("b0") == 0), 0.0)
        .otherwise(
            F.round(
                F.expr(
                    "CAST((a1 + a0 + b1 + b0)"
                    " * CAST((a1 * b0 - a0 * b1) AS DECIMAL(38,0))"
                    " * (a1 * b0 - a0 * b1) AS DOUBLE)"
                )
                / F.expr(
                    "CAST(CAST((a1 + a0) AS DECIMAL(38,0)) * (b1 + b0)"
                    " * (a1 + b1) * (a0 + b0) AS DOUBLE)"
                ),
                6,
            )
        )
        .alias("chi2")
    )
    return a.crossJoin(F.broadcast(c)).select(
        "arm",
        "n_users",
        "n_conv",
        F.round(F.col("n_conv") * 1.0 / F.col("n_users"), 6).alias(
            "conv_rate"
        ),
        "chi2",
    )


@register(
    "cohort_revenue_retention",
    oracle=f"""
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) // 2592000 AS em,
                      {_V100} AS v100
               FROM events),
    c AS (SELECT user_id, MIN(em) AS cohort_m FROM e GROUP BY user_id),
    m AS (SELECT c.cohort_m, e.em - c.cohort_m AS offset_m,
                 CAST(SUM(e.v100) AS BIGINT) AS rev100
          FROM e JOIN c ON c.user_id = e.user_id
          GROUP BY c.cohort_m, e.em - c.cohort_m),
    base AS (SELECT cohort_m, rev100 AS base100 FROM m WHERE offset_m = 0)
    SELECT m.cohort_m, m.offset_m,
           m.rev100 / 100.0 AS revenue,
           ROUND(m.rev100 * 1.0 / b.base100, 6) AS ndr
    FROM m JOIN base b ON b.cohort_m = m.cohort_m
    """,
)
def cohort_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-dollar-retention curve: users grouped by first-active
    30-day cohort window, each cohort's revenue at month offset m as
    a fraction of its month-0 revenue — the revenue twin of
    cohort_retention's user counts (users can churn while survivors
    expand spend; NDR > 1 is the expansion signal user retention
    can't show). Month buckets are fixed 30-day epoch windows so the
    arithmetic stays integer (calendar months would drag in timezone
    and month-length noise).

    Scale shape: per-user cohort assignment is one aggregate joined
    back (AQE broadcasts the users-sized cohort map or shuffles on
    user_id); the cohort×offset matrix is tiny, and base revenue
    joins it on cohort_m. One events-sized shuffle total.
    """
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("epoch div 2592000").cast("bigint").alias("em"),
        "value100",
    )
    c = ev.groupBy("user_id").agg(F.min("em").alias("cohort_m"))
    m = (
        ev.join(c, "user_id")
        .groupBy("cohort_m", (F.col("em") - F.col("cohort_m")).alias("offset_m"))
        .agg(F.sum("value100").cast("bigint").alias("rev100"))
    )
    base = m.filter(F.col("offset_m") == 0).select(
        "cohort_m", F.col("rev100").alias("base100")
    )
    return m.join(F.broadcast(base), "cohort_m").select(
        "cohort_m",
        "offset_m",
        (F.col("rev100") / 100.0).alias("revenue"),
        F.round(F.col("rev100") * 1.0 / F.col("base100"), 6).alias("ndr"),
    )


# --- Markov next-event prediction backtest (r4s3) ---


@register(
    "markov_next_event_backtest",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, event_id, {_EP} AS ep
               FROM events),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    p AS (SELECT event_type AS from_type,
                 lead(event_type) OVER w AS to_type,
                 ep
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
    train AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM p
              WHERE to_type IS NOT NULL AND ep < (SELECT m FROM mid)
              GROUP BY 1, 2),
    pred AS (SELECT from_type, to_type AS predicted_next FROM (
               SELECT from_type, to_type,
                      ROW_NUMBER() OVER (PARTITION BY from_type
                                         ORDER BY n DESC, to_type) AS rk
               FROM train)
             WHERE rk = 1),
    test AS (SELECT from_type, to_type
             FROM p
             WHERE to_type IS NOT NULL AND ep >= (SELECT m FROM mid))
    SELECT t.from_type, pr.predicted_next,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.to_type = pr.predicted_next
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN t.to_type = pr.predicted_next
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
               AS acc_micro
    FROM test t JOIN pred pr ON pr.from_type = t.from_type
    GROUP BY 1, 2
    """,
)
def markov_next_event_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction backtest: train the first-order Markov
    predictor (per current type, the most frequent next type) on the
    FIRST half of the time range, score top-1 accuracy on the second
    half — the time-split evaluation protocol every production
    sequence model uses, run on the simplest possible model. A
    transition pair belongs to a split by its LEADING event's
    timestamp (boundary-crossing pairs train, both engines). Ties in
    the argmax break to the lexicographically smallest type.

    Scale shape: ONE user-partitioned lead() pass produces all pairs
    (the event_transitions exchange); train/test are conditional
    aggregates over the ≤|types|² pair grid; the predictor is a
    types-sized broadcast join. Accuracy is exact integer micro-units
    (count·1e6 div n — truncating division both engines).
    """
    ev = _events(spark, sf_dir)
    mid = ev.agg(
        F.expr("(min(epoch) + max(epoch)) div 2").cast("bigint").alias("m")
    )
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    p = (
        ev.select("user_id", "event_type", "epoch", "event_id")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .crossJoin(F.broadcast(mid))
    )
    train = (
        p.filter(F.col("epoch") < F.col("m"))
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wk = Window.partitionBy("from_type").orderBy(F.desc("n"), F.asc("to_type"))
    pred = (
        train.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("from_type", F.col("to_type").alias("predicted_next"))
    )
    test = p.filter(F.col("epoch") >= F.col("m")).select(
        F.col("event_type").alias("from_type"), "to_type"
    )
    return (
        test.join(F.broadcast(pred), "from_type")
        .groupBy("from_type", "predicted_next")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.col("to_type") == F.col("predicted_next"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .withColumn(
            "acc_micro",
            F.expr("CAST(n_correct * 1000000 div n_test AS BIGINT)"),
        )
    )


# --- growth accounting: daily user lifecycle stages (r4s3) ---


@register(
    "user_lifecycle_daily",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
               FROM events WHERE user_id IS NOT NULL),
    f AS (SELECT user_id, MIN(d) AS fd FROM a GROUP BY user_id),
    mx AS (SELECT MAX(d) AS md FROM a),
    cls AS (SELECT a.d,
                   CASE WHEN a.d = f.fd THEN 'new'
                        WHEN p.user_id IS NOT NULL THEN 'retained'
                        ELSE 'resurrected' END AS stage
            FROM a JOIN f ON f.user_id = a.user_id
            LEFT JOIN a p ON p.user_id = a.user_id AND p.d = a.d - 1),
    act AS (SELECT d, CAST(SUM(CASE WHEN stage = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                   CAST(SUM(CASE WHEN stage = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
                   CAST(SUM(CASE WHEN stage = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
            FROM cls GROUP BY d),
    ch AS (SELECT a.d + 1 AS d, CAST(COUNT(*) AS BIGINT) AS n_churned
           FROM a LEFT JOIN a nx ON nx.user_id = a.user_id AND nx.d = a.d + 1
           WHERE nx.user_id IS NULL AND a.d + 1 <= (SELECT md FROM mx)
           GROUP BY a.d + 1)
    SELECT strftime(COALESCE(act.d, ch.d), '%Y-%m-%d') AS day,
           COALESCE(n_new, 0) AS n_new,
           COALESCE(n_retained, 0) AS n_retained,
           COALESCE(n_resurrected, 0) AS n_resurrected,
           COALESCE(n_churned, 0) AS n_churned
    FROM act FULL OUTER JOIN ch ON ch.d = act.d
    """,
)
def user_lifecycle_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active (user, day) is exactly one of
    new (first-ever day), retained (also active yesterday), or
    resurrected (returning after a gap); churned counts, attributed
    to the first absent day, are users active yesterday but not
    today. The four curves decompose DAU change exactly —
    DAU(d) − DAU(d−1) = new + resurrected − churned — which is the
    growth-team identity a plain DAU chart can't show.

    Scale shape: events collapse to distinct (user, day) FIRST (one
    map-side-combined aggregate), so every later join (first-day,
    yesterday, tomorrow) is an equi-join on (user, day) over
    user-days, not events. The day-level result is days-sized.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    a = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    from dbt_project_spark.caching import persist_tracked

    a = persist_tracked(a)  # feeds 4 consumers (cls, prev, churn, max)
    f = a.groupBy("user_id").agg(F.min("d").alias("fd"))
    mx = a.agg(F.max("d").alias("md"))
    p = a.select("user_id", F.col("d").alias("pd"))
    cls = (
        a.join(f, "user_id")
        .join(
            p,
            (p.user_id == a.user_id) & (F.col("pd") == F.date_sub(a.d, 1)),
            "left",
        )
        .select(
            a.d.alias("d"),
            F.when(a.d == F.col("fd"), "new")
            .when(F.col("pd").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("stage"),
        )
    )
    act = cls.groupBy("d").agg(
        F.sum(F.when(F.col("stage") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("stage") == "retained", 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(F.when(F.col("stage") == "resurrected", 1).otherwise(0))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    nx = a.select("user_id", F.col("d").alias("nd"))
    ch = (
        a.join(
            nx,
            (nx.user_id == a.user_id) & (F.col("nd") == F.date_add(a.d, 1)),
            "left_anti",
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.date_add(a.d, 1) <= F.col("md"))
        .groupBy(F.date_add(a.d, 1).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    merged = act.join(ch, "d", "full_outer")
    return merged.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        F.coalesce("n_retained", F.lit(0)).cast("bigint").alias("n_retained"),
        F.coalesce("n_resurrected", F.lit(0))
        .cast("bigint")
        .alias("n_resurrected"),
        F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
    )


# --- funnel time-to-convert latency (r4s3) ---


@register(
    "funnel_time_to_convert",
    oracle=f"""
    WITH v AS (SELECT user_id, MIN({_EP}) AS t1
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN({_EP}) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND {_EP} > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN({_EP}) AS t3
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND {_EP} > c.t2
          GROUP BY e.user_id),
    lat AS (SELECT p.user_id, p.t3 - v.t1 AS sec
            FROM p JOIN v ON v.user_id = p.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
           ROUND(quantile_cont(sec, 0.5), 6) AS p50_latency_s,
           ROUND(quantile_cont(sec, 0.9), 6) AS p90_latency_s,
           ROUND(SUM(sec) / COUNT(*), 6) AS mean_latency_s
    FROM lat
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user who completes the
    view → click → purchase funnel (same strictly-after min-epoch
    semantics as funnel_conversion), the latency from first view to
    first qualifying purchase — the 'how long does conversion take'
    number funnels alone don't give. Median/p90 are exact
    interpolated percentiles of integer seconds; the mean is one
    double division of exact integer sums.

    Scale shape: identical shrinking user-keyed stage aggregates as
    funnel_conversion (users-sized intermediates); the latency table
    is converters-sized, and its percentile is a single aggregate.
    """
    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("epoch") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("epoch") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t3"))
    )
    lat = p.join(v, "user_id").select((F.col("t3") - F.col("t1")).alias("sec"))
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converters"),
        F.round(F.expr("percentile(sec, 0.5)"), 6).alias("p50_latency_s"),
        F.round(F.expr("percentile(sec, 0.9)"), 6).alias("p90_latency_s"),
        F.round(F.sum("sec") / F.count(F.lit(1)), 6).alias("mean_latency_s"),
    )


# ---------------------------------------------------------------------------
# cuped_variance_reduction — experimentation covariate adjustment (r4s4)
# ---------------------------------------------------------------------------


@register(
    "cuped_variance_reduction",
    oracle=f"""
    WITH e AS (SELECT user_id, {_V100} AS v100,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
               FROM events WHERE user_id IS NOT NULL),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    u AS (SELECT user_id,
                 CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                               THEN v100 ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN ep >= (SELECT m FROM mid)
                               THEN v100 ELSE 0 END) AS BIGINT) AS y
          FROM e GROUP BY user_id),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM u),
    c AS (SELECT n, sx, sy,
                 CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS a,
                 CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS b,
                 CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS cc
          FROM s),
    d AS (SELECT n, a, b,
                 abs(a) // 1000 AS aa, b // 1000 AS b2, cc // 1000 AS c2
          FROM c)
    SELECT n AS n_users,
           CAST(a AS VARCHAR) AS theta_num,
           CAST(b AS VARCHAR) AS theta_den,
           CAST((aa * aa * 1000000) // (b2 * c2) AS BIGINT) AS corr2_micro,
           CAST(1000000 - (aa * aa * 1000000) // (b2 * c2) AS BIGINT)
               AS residual_var_micro
    FROM d
    """,
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED pre-experiment covariate adjustment (Deng et al.): per
    user, X = pre-period spend (first half of the time range) and
    Y = experiment-period spend (second half); θ = cov(X,Y)/var(X)
    is the adjustment coefficient and corr²(X,Y) is EXACTLY the
    variance fraction CUPED removes from the Y metric — the number
    that tells an experimentation platform how much smaller its
    confidence intervals get (and whether running CUPED is worth it)
    BEFORE any experiment ships.

    Exactness: with A = nΣxy−ΣxΣy, B = nΣxx−(Σx)², C = nΣyy−(Σy)²,
    θ = A/B is emitted as the exact rational string pair (the linreg
    contract) and corr² = A²/(B·C) as truncating integer micro-units
    — per-user sums are exact cents, the cleared-form products run in
    HUGEINT/DECIMAL(38,0), and no float enters anywhere.

    Scale shape: one events-sized conditional-sum aggregate to users
    (both periods in the same pass — no self-join of halves, the
    drift_psi convention), then a 1-row moment aggregate. The
    midpoint rides a broadcast.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr(_V100).alias("v100"),
            F.unix_timestamp("ts").alias("ep"),
        )
    )
    mid = e.agg(F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m"))
    u = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("m"), F.col("v100")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("ep") >= F.col("m"), F.col("v100")).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    dec = "CAST(n AS DECIMAL(38,0))"
    c = s.select(
        "n",
        F.expr(f"{dec} * sxy - CAST(sx AS DECIMAL(38,0)) * sy").alias("a"),
        F.expr(f"{dec} * sxx - CAST(sx AS DECIMAL(38,0)) * sx").alias("b"),
        F.expr(f"{dec} * syy - CAST(sy AS DECIMAL(38,0)) * sy").alias("cc"),
    )
    # Pre-shift by 1e3 before squaring: a² · 1e6 at warehouse sums
    # overflows DECIMAL(38)/HUGEINT. |a| makes Spark's toward-zero div
    # and DuckDB's flooring // agree (a can be negative; b, cc cannot);
    # the shift costs ~1e-14 relative precision and both engines
    # truncate identically, so the integer output still hash-gates.
    d = c.select(
        "n",
        "a",
        "b",
        F.expr("abs(a) div 1000").alias("aa"),
        F.expr("b div 1000").alias("b2"),
        F.expr("cc div 1000").alias("c2"),
    )
    return d.select(
        F.col("n").alias("n_users"),
        F.expr("CAST(a AS STRING)").alias("theta_num"),
        F.expr("CAST(b AS STRING)").alias("theta_den"),
        F.expr(
            "CAST((CAST(aa AS DECIMAL(38,0)) * aa * 1000000)"
            " div (CAST(b2 AS DECIMAL(38,0)) * c2) AS BIGINT)"
        ).alias("corr2_micro"),
        F.expr(
            "CAST(1000000 - (CAST(aa AS DECIMAL(38,0)) * aa * 1000000)"
            " div (CAST(b2 AS DECIMAL(38,0)) * c2) AS BIGINT)"
        ).alias("residual_var_micro"),
    )


# ---------------------------------------------------------------------------
# lift_chart_deciles — cumulative gains / lift table (r4s4)
# ---------------------------------------------------------------------------


@register(
    "lift_chart_deciles",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {_V100} AS v100,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
               FROM events WHERE user_id IS NOT NULL),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    u AS (SELECT user_id,
                 CAST(SUM(CASE WHEN ep < (SELECT m FROM mid)
                               THEN v100 ELSE 0 END) AS BIGINT) AS score,
                 CAST(MAX(CASE WHEN ep >= (SELECT m FROM mid)
                                AND event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS buyer
          FROM e GROUP BY user_id),
    r AS (SELECT score, buyer,
                 ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rk,
                 COUNT(*) OVER () AS n
          FROM u),
    d AS (SELECT ((rk - 1) * 10) // n + 1 AS decile, buyer FROM r),
    g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(buyer) AS BIGINT) AS n_buyers
          FROM d GROUP BY decile),
    t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS nt,
                 CAST(SUM(n_buyers) AS BIGINT) AS bt
          FROM g)
    SELECT g.decile, g.n_users, g.n_buyers,
           CAST(SUM(g.n_buyers) OVER (ORDER BY g.decile
                ROWS UNBOUNDED PRECEDING) * 1000000 // t.bt AS BIGINT)
               AS cum_capture_micro,
           CAST(g.n_buyers * t.nt * 1000000 // (g.n_users * t.bt) AS BIGINT)
               AS lift_micro
    FROM g CROSS JOIN t
    """,
)
def lift_chart_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table — the model-evaluation classic
    that WOE/IV feeds: users ranked by a score (here pre-period
    spend, the simplest propensity proxy), cut into 10 exact-rank
    deciles, and scored against the actual outcome (purchased in the
    second period). cum_capture = share of all buyers reached by
    targeting the top k deciles; lift = decile conversion over the
    base rate (decile 1 ≫ 1e6 means the score works). This is how a
    marketing/churn model earns its budget slide.

    Exactness: deciles come from the integer formula
    ((rank−1)·10) div n + 1 over the (score DESC, user) total order —
    no quantile interpolation (the segment_migration lesson); capture
    and lift are truncating integer micro-units.

    Scale shape: one events-sized conditional-sum pass to users (the
    drift_psi split), a users-sized rank window (at extreme user
    counts the rank comes from operators/windows.distributed_ntile),
    then ≤10-row arithmetic.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.expr(_V100).alias("v100"),
            F.unix_timestamp("ts").alias("ep"),
        )
    )
    mid = e.agg(F.expr("(min(ep) + max(ep)) div 2").cast("bigint").alias("m"))
    u = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ep") < F.col("m"), F.col("v100")).otherwise(0))
            .cast("bigint")
            .alias("score"),
            F.max(
                F.when(
                    (F.col("ep") >= F.col("m"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("buyer"),
        )
    )
    wr = Window.orderBy(F.desc("score"), F.asc("user_id"))
    r = u.select(
        "buyer",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    d = r.select(
        F.expr("((rk - 1) * 10) div n + 1").alias("decile"), "buyer"
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("buyer").cast("bigint").alias("n_buyers"),
    )
    t = g.agg(
        F.sum("n_users").cast("bigint").alias("nt"),
        F.sum("n_buyers").cast("bigint").alias("bt"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_users",
        "n_buyers",
        F.expr(
            "CAST(SUM(n_buyers) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " * 1000000 div bt AS BIGINT)"
        ).alias("cum_capture_micro"),
        F.expr(
            "CAST(n_buyers * nt * 1000000 div (n_users * bt) AS BIGINT)"
        ).alias("lift_micro"),
    )


# ---------------------------------------------------------------------------
# ab_srm_check — sample ratio mismatch guardrail (r5s4)
# ---------------------------------------------------------------------------

SRM_CHI2_CRIT_MILLI = 3841  # χ²(1df) at α=0.05, ×1000


@register(
    "ab_srm_check",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1, 8))::BIGINT % 2 = 0
                           THEN 'A' ELSE 'B' END AS arm
               FROM events GROUP BY user_id),
    c AS (SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_a,
                 CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_b
          FROM u)
    SELECT n_a, n_b,
           ROUND((n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b), 6) AS chi2,
           CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000
                     > {SRM_CHI2_CRIT_MILLI} * (n_a + n_b)
                THEN 1 ELSE 0 END AS BIGINT) AS srm_detected
    FROM c
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the FIRST check every A/B
    readout runs: under the 50/50 md5 assignment (the same hash as
    ab_test_conversion), a χ²(1df) goodness-of-fit on the observed
    arm counts; a significant imbalance means the assignment or
    logging pipeline is broken and every downstream metric is
    untrustworthy. The significance flag is decided by the EXACT
    integer inequality 1000·(n_a−n_b)² > 3841·(n_a+n_b) (χ² critical
    value pre-scaled ×1000), so the verdict never rides on a float.

    Scale shape: one distinct-user aggregate and a 1-row reduce —
    the cheapest query in the experimentation family, which is why
    it runs on every dashboard refresh."""
    from dbt_project_spark.functions.expressions import md5_int

    u = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.when(
                md5_int(F.col("user_id").cast("string")) % 2 == 0, "A"
            )
            .otherwise("B")
            .alias("arm")
        )
    )
    c = u.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return c.select(
        "n_a",
        "n_b",
        F.round(
            (F.col("n_a") - F.col("n_b"))
            * (F.col("n_a") - F.col("n_b"))
            * 1.0
            / (F.col("n_a") + F.col("n_b")),
            6,
        ).alias("chi2"),
        F.expr(
            f"CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000"
            f" > {SRM_CHI2_CRIT_MILLI} * (n_a + n_b)"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# did_estimator — difference-in-differences readout (r5s5)
# ---------------------------------------------------------------------------

DID_CUTOFF = "2024-01-16"  # pre: ts < cutoff, post: ts >= cutoff


@register(
    "did_estimator",
    oracle=f"""
    WITH e AS (SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                               1, 8))::BIGINT % 2 = 0
                           THEN 'T' ELSE 'C' END AS arm,
                      CASE WHEN ts < TIMESTAMP '{DID_CUTOFF} 00:00:00'
                           THEN 'pre' ELSE 'post' END AS period,
                      CAST(round(value * 100, 0) AS BIGINT) AS v100
               FROM events WHERE user_id IS NOT NULL),
    g AS (SELECT arm, period,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(v100) AS BIGINT) AS sv
          FROM e GROUP BY arm, period),
    w AS (SELECT
            MAX(CASE WHEN arm='T' AND period='pre' THEN n END) AS n_t_pre,
            MAX(CASE WHEN arm='T' AND period='pre' THEN sv END) AS s_t_pre,
            MAX(CASE WHEN arm='T' AND period='post' THEN n END) AS n_t_post,
            MAX(CASE WHEN arm='T' AND period='post' THEN sv END) AS s_t_post,
            MAX(CASE WHEN arm='C' AND period='pre' THEN n END) AS n_c_pre,
            MAX(CASE WHEN arm='C' AND period='pre' THEN sv END) AS s_c_pre,
            MAX(CASE WHEN arm='C' AND period='post' THEN n END) AS n_c_post,
            MAX(CASE WHEN arm='C' AND period='post' THEN sv END) AS s_c_post
          FROM g),
    m AS (SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
                 s_t_pre * 10000 // n_t_pre AS m_t_pre,
                 s_t_post * 10000 // n_t_post AS m_t_post,
                 s_c_pre * 10000 // n_c_pre AS m_c_pre,
                 s_c_post * 10000 // n_c_post AS m_c_post
          FROM w)
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           CAST(m_t_pre AS BIGINT) AS mean_t_pre_micro,
           CAST(m_t_post AS BIGINT) AS mean_t_post_micro,
           CAST(m_c_pre AS BIGINT) AS mean_c_pre_micro,
           CAST(m_c_post AS BIGINT) AS mean_c_post_micro,
           CAST((m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS BIGINT)
               AS did_micro
    FROM m
    """,
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator on repeated cross-sections:
    users hash-split 50/50 (the ab_test_conversion assignment), the
    observation window split pre/post at {DID_CUTOFF}, and the
    treatment effect read as (T_post − T_pre) − (C_post − C_pre) of
    mean event value — the parallel-trends causal readout a product
    team runs when a launch could not be randomized cleanly and the
    control arm only corrects for seasonality.

    Determinism: per-cell means are exact integer rationals truncated
    to micro units; the DiD combines the four ALREADY-truncated
    integer means (documented — deterministic by construction, and
    the truncation error is < 4 micro-units of value). All sums are
    positive so `//` vs `div` never diverges; the DiD itself is pure
    integer subtraction.

    Scale shape: one map-side-combinable aggregate over events into
    4 cells + a 1-row pivot. Nothing else."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    from dbt_project_spark.functions.expressions import md5_int

    g = (
        e.select(
            F.when(
                md5_int(F.col("user_id").cast("string")) % 2 == 0, "T"
            )
            .otherwise("C")
            .alias("arm"),
            F.when(
                F.col("ts") < F.lit(f"{DID_CUTOFF} 00:00:00").cast(
                    "timestamp"
                ),
                "pre",
            )
            .otherwise("post")
            .alias("period"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("v100"),
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v100").cast("bigint").alias("sv"),
        )
    )
    w = g.agg(
        *[
            F.max(
                F.when(
                    (F.col("arm") == a) & (F.col("period") == p),
                    F.col(c),
                )
            ).alias(f"{c2}_{a.lower()}_{p}")
            for a in ("T", "C")
            for p in ("pre", "post")
            for c, c2 in (("n", "n"), ("sv", "s"))
        ]
    )
    m = w.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.expr("s_t_pre * 10000 div n_t_pre").alias("m_t_pre"),
        F.expr("s_t_post * 10000 div n_t_post").alias("m_t_post"),
        F.expr("s_c_pre * 10000 div n_c_pre").alias("m_c_pre"),
        F.expr("s_c_post * 10000 div n_c_post").alias("m_c_post"),
    )
    return m.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.col("m_t_pre").cast("bigint").alias("mean_t_pre_micro"),
        F.col("m_t_post").cast("bigint").alias("mean_t_post_micro"),
        F.col("m_c_pre").cast("bigint").alias("mean_c_pre_micro"),
        F.col("m_c_post").cast("bigint").alias("mean_c_post_micro"),
        (
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre"))
        )
        .cast("bigint")
        .alias("did_micro"),
    )


# ---------------------------------------------------------------------------
# ab_power_mde — A/B power analysis: minimum detectable effect (r5s5)
# ---------------------------------------------------------------------------

# z_{alpha/2} + z_{beta} for alpha=0.05 two-sided, power 80% —
# 1.959964 + 0.841621, precomputed ×1e6 (the DCG-discount convention:
# normal quantiles are Python-precomputed integer constants embedded
# identically in both engines, never computed in-engine).
AB_Z_SUM_MICRO = 2_801_585
AB_MDE_TARGET_MICRO = 10_000  # 1% absolute lift


@register(
    "ab_power_mde",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1, 8))::BIGINT % 2 = 0
                           THEN 'A' ELSE 'B' END AS arm,
                      CAST(CASE WHEN SUM(CAST(round(value * 100, 0) AS BIGINT))
                                     >= 330000
                           THEN 1 ELSE 0 END AS BIGINT) AS conv
               FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(conv) AS BIGINT) AS n_conv
          FROM u GROUP BY arm),
    tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS nn,
                   CAST(SUM(n_conv) AS BIGINT) AS cc
            FROM a),
    m AS (SELECT a.arm, a.n_users, a.n_conv, tot.nn, tot.cc,
                 CAST(2 * CAST(tot.cc AS HUGEINT) * (tot.nn - tot.cc)
                      AS DOUBLE)
                 / CAST(CAST(tot.nn AS HUGEINT) * tot.nn * a.n_users
                        AS DOUBLE) AS v
          FROM a CROSS JOIN tot)
    SELECT arm, n_users, n_conv,
           CAST(cc * 1000000 // nn AS BIGINT) AS p_pooled_micro,
           CAST(floor(sqrt(v) * {AB_Z_SUM_MICRO}) AS BIGINT)
               AS mde_abs_micro,
           CAST(CASE WHEN cc = 0 THEN 0
                ELSE CAST(floor(sqrt(v) * {AB_Z_SUM_MICRO}) AS HUGEINT)
                     * 1000000 // (cc * 1000000 // nn) END AS BIGINT)
               AS mde_rel_micro,
           CAST((CAST({AB_Z_SUM_MICRO} AS HUGEINT) * {AB_Z_SUM_MICRO}
                 * 2 * cc * (nn - cc)
                 + CAST({AB_MDE_TARGET_MICRO} AS HUGEINT)
                   * {AB_MDE_TARGET_MICRO} * nn * nn - 1)
                // (CAST({AB_MDE_TARGET_MICRO} AS HUGEINT)
                    * {AB_MDE_TARGET_MICRO} * nn * nn) AS BIGINT)
               AS n_req_1pct
    FROM m
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis over the live experiment population: per
    arm, the minimum detectable ABSOLUTE effect at alpha=0.05 /
    power=80% given the arm's current size — MDE = (z_a/2 + z_b) ·
    sqrt(2·p·(1−p)/n) with p the pooled conversion rate of
    ab_test_conversion's hash-assigned experiment — plus the sample
    size required to detect a 1% absolute lift. The pre-readout
    check that stops a team from shipping a "neutral" verdict their
    experiment never had the power to make.

    Determinism: the z constants are Python-precomputed ×1e6 integers
    (the DCG convention); the variance ratio is assembled from exact
    HUGEINT/DECIMAL(38,0) products cast to DOUBLE once, and the one
    sqrt is IEEE-exact with the multiply order written identically in
    both engines. The required-n is PURE integer ceiling arithmetic —
    z²·2C(N−C)/(t²·N²) never touches a float.

    Scale shape: the same per-user aggregate ab_test_conversion
    already pays, + 2-row arithmetic."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    from dbt_project_spark.functions.expressions import md5_int

    u = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")).alias(
                "spend100"
            )
        )
        .select(
            F.when(
                md5_int(F.col("user_id").cast("string")) % 2 == 0, "A"
            )
            .otherwise("B")
            .alias("arm"),
            F.when(F.col("spend100") >= AB_CONV_SPEND100, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("conv"),
        )
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    tot = a.agg(
        F.sum("n_users").cast("bigint").alias("nn"),
        F.sum("n_conv").cast("bigint").alias("cc"),
    )
    m = a.crossJoin(F.broadcast(tot)).withColumn(
        "v",
        F.expr(
            "CAST(2 * CAST(cc AS DECIMAL(38,0)) * (nn - cc) AS DOUBLE)"
            " / CAST(CAST(nn AS DECIMAL(38,0)) * nn * n_users AS DOUBLE)"
        ),
    )
    return m.select(
        "arm",
        "n_users",
        "n_conv",
        F.expr("CAST(cc * 1000000 div nn AS BIGINT)").alias(
            "p_pooled_micro"
        ),
        F.expr(
            f"CAST(floor(sqrt(v) * {AB_Z_SUM_MICRO}) AS BIGINT)"
        ).alias("mde_abs_micro"),
        F.expr(
            "CAST(CASE WHEN cc = 0 THEN 0"
            f" ELSE CAST(floor(sqrt(v) * {AB_Z_SUM_MICRO})"
            " AS DECIMAL(38,0))"
            " * 1000000 div (cc * 1000000 div nn) END AS BIGINT)"
        ).alias("mde_rel_micro"),
        F.expr(
            f"CAST((CAST({AB_Z_SUM_MICRO} AS DECIMAL(38,0))"
            f" * {AB_Z_SUM_MICRO} * 2 * cc * (nn - cc)"
            f" + CAST({AB_MDE_TARGET_MICRO} AS DECIMAL(38,0))"
            f" * {AB_MDE_TARGET_MICRO} * nn * nn - 1)"
            f" div (CAST({AB_MDE_TARGET_MICRO} AS DECIMAL(38,0))"
            f" * {AB_MDE_TARGET_MICRO} * nn * nn) AS BIGINT)"
        ).alias("n_req_1pct"),
    )


# ---------------------------------------------------------------------------
# markov_stationary_mix — steady state of the journey chain (r5s11)
# ---------------------------------------------------------------------------

MSM_ITERS = 6  # unrolled power-iteration rounds
MSM_SCALE = 1_000_000


def _msm_oracle_sql() -> str:
    ctes = [
        f"""s AS (SELECT user_id, event_type,
                     LEAD(event_type) OVER (PARTITION BY user_id
                                            ORDER BY {_EP}, event_id)
                         AS next_type
              FROM events)""",
        """c AS (SELECT event_type AS f, next_type AS t,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)""",
        """rowt AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nf
               FROM c GROUP BY f)""",
        f"""p AS (SELECT c.f, c.t,
                     CAST(c.n * {MSM_SCALE} // rowt.nf AS BIGINT) AS p6
              FROM c JOIN rowt USING (f))""",
        """types AS (SELECT f AS ty FROM rowt)""",
        f"""pi0 AS (SELECT ty, CAST({MSM_SCALE} // (SELECT COUNT(*)
                                                     FROM types)
                         AS BIGINT) AS v
               FROM types)""",
    ]
    for i in range(1, MSM_ITERS + 1):
        prev = f"pi{i - 1}"
        ctes.append(
            f"""pi{i} AS (SELECT p.t AS ty,
                      CAST(SUM({prev}.v * p.p6) // {MSM_SCALE} AS BIGINT)
                          AS v
               FROM {prev} JOIN p ON p.f = {prev}.ty
               GROUP BY p.t)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT pi{MSM_ITERS}.ty AS event_type,
           pi{MSM_ITERS}.v AS pi_micro,
           rowt.nf AS n_transitions_from
    FROM pi{MSM_ITERS} JOIN rowt ON rowt.f = pi{MSM_ITERS}.ty
    """
    )


@register("markov_stationary_mix", oracle=_msm_oracle_sql())
def markov_stationary_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-transition
    chain (event_transitions' matrix iterated to its fixed point):
    where the user journey settles if today's transition behavior
    holds — the forward-looking complement to the observed event mix,
    and the number to diff AGAINST that mix to see whether the
    product is drifting toward or away from purchase/error states.

    Determinism: the transition matrix is row-normalized to exact
    truncating ×1e6 integers; each unrolled iteration is an integer
    multiply-accumulate re-truncated at the same scale — both engines
    truncate identically, so the fixed point (and any truncation
    residue) is bit-identical. The uniform start vector covers the
    reducible-chain edge deterministically.

    Scale shape: one user-partitioned lead() pass over events
    (the only corpus-sized work, shared with event_transitions);
    iterations run on the |types|² matrix — constant-size."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(
            Window.partitionBy("user_id").orderBy(
                F.unix_timestamp("ts"), "event_id"
            )
        )
        .alias("next_type"),
    )
    c = (
        s.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("f"), F.col("next_type").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    from dbt_project_spark.caching import persist_tracked

    c = persist_tracked(c)
    rowt = c.groupBy("f").agg(F.sum("n").cast("bigint").alias("nf"))
    p = c.join(rowt, "f").select(
        "f",
        "t",
        F.expr(f"CAST(n * {MSM_SCALE} div nf AS BIGINT)").alias("p6"),
    )
    p = persist_tracked(p)
    nt = rowt.count()
    pi = rowt.select(
        F.col("f").alias("ty"),
        F.lit(MSM_SCALE // nt).cast("bigint").alias("v"),
    )
    for _ in range(MSM_ITERS):
        pi = (
            pi.join(p, pi.ty == p.f)
            .groupBy(F.col("t").alias("ty2"))
            .agg(
                F.expr(f"CAST(SUM(v * p6) div {MSM_SCALE} AS BIGINT)").alias(
                    "v"
                )
            )
            .select(F.col("ty2").alias("ty"), "v")
        )
    return pi.join(rowt, pi.ty == rowt.f).select(
        F.col("ty").alias("event_type"),
        F.col("v").alias("pi_micro"),
        F.col("nf").alias("n_transitions_from"),
    )


# ---------------------------------------------------------------------------
# ab_sequential_wald — SPRT boundary monitor for the A/B arms (r5s11)
# ---------------------------------------------------------------------------

# Wald SPRT for H0: p = 0.5 vs H1: p = 0.6 at alpha = beta = 0.05.
# Per-trial log-likelihood increments and the +/- ln(19) decision
# bounds, Python-precomputed to x1e9 integers (the DCG convention):
SPRT_L1_NANO = 182_321_557  # ln(0.6/0.5)
SPRT_L0_NANO = -223_143_551  # ln(0.4/0.5)
SPRT_BOUND_NANO = 2_944_438_979  # ln(0.95/0.05)


@register(
    "ab_sequential_wald",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                 1, 8))::BIGINT % 2 = 0
                           THEN 'A' ELSE 'B' END AS arm,
                      CAST(MIN({_EP}) // 86400 AS BIGINT) AS enroll_day,
                      CAST(CASE WHEN SUM({_V100}) >= {AB_CONV_SPEND100}
                           THEN 1 ELSE 0 END AS BIGINT) AS conv
               FROM events GROUP BY user_id),
    d AS (SELECT arm, enroll_day,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(conv) AS BIGINT) AS c
          FROM u GROUP BY 1, 2),
    r AS (SELECT arm, enroll_day,
                 SUM(c) OVER w AS cumc,
                 SUM(n) OVER w AS cumn
          FROM d
          WINDOW w AS (PARTITION BY arm ORDER BY enroll_day)),
    l AS (SELECT arm, enroll_day,
                 cumc * {SPRT_L1_NANO}
                   + (cumn - cumc) * ({SPRT_L0_NANO}) AS llr9
          FROM r),
    fin AS (SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(MAX(enroll_day) AS BIGINT) AS last_day,
                   CAST(max_by(llr9, enroll_day) AS BIGINT) AS final_llr9,
                   MIN(CASE WHEN llr9 >= {SPRT_BOUND_NANO}
                            THEN enroll_day END) AS up_day,
                   MIN(CASE WHEN llr9 <= -{SPRT_BOUND_NANO}
                            THEN enroll_day END) AS down_day
            FROM l GROUP BY arm)
    SELECT arm, n_days, final_llr9,
           CAST(COALESCE(LEAST(up_day, down_day),
                         LEAST(COALESCE(up_day, down_day),
                               COALESCE(down_day, up_day)),
                         -1) AS BIGINT) AS cross_day,
           CASE WHEN up_day IS NOT NULL
                     AND (down_day IS NULL OR up_day <= down_day)
                THEN 'accept_h1'
                WHEN down_day IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM fin
    """,
)
def ab_sequential_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT sequential monitor over each A/B arm's conversion
    stream, users ordered by enrollment day: the cumulative
    log-likelihood ratio for H1: p=0.6 against H0: p=0.5 with ±ln 19
    decision bounds (α=β=5%) — the 'peek every day without inflating
    false positives' machinery fixed-horizon tests (ab_test_conversion,
    ab_power_mde) can't offer. Reports each arm's final LLR, the
    first boundary-crossing day, and the standing decision.

    Exactness: per-trial increments and the bounds are
    Python-precomputed ×1e9 integer constants, so the entire LLR
    path is pure BIGINT multiply-accumulate over exact cumulative
    counts; crossings are integer comparisons (cross_day −1 = never).

    Scale shape: one events-sized per-user aggregate, an
    (arm × enroll-day)-sized cumulative window, 2-row output."""
    from dbt_project_spark.functions import md5_int

    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr("CAST(MIN(unix_timestamp(ts)) div 86400 AS BIGINT)").alias(
                "enroll_day"
            ),
            F.when(
                F.sum(F.expr(_V100)) >= AB_CONV_SPEND100, 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("conv"),
        )
        .withColumn(
            "arm",
            F.when(
                md5_int(F.col("user_id").cast("string")) % 2 == 0, "A"
            ).otherwise("B"),
        )
    )
    d = u.groupBy("arm", "enroll_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    w = Window.partitionBy("arm").orderBy("enroll_day")
    r = d.select(
        "arm",
        "enroll_day",
        F.sum("c").over(w).alias("cumc"),
        F.sum("n").over(w).alias("cumn"),
    )
    l = r.select(
        "arm",
        "enroll_day",
        (
            F.col("cumc") * SPRT_L1_NANO
            + (F.col("cumn") - F.col("cumc")) * SPRT_L0_NANO
        ).alias("llr9"),
    )
    fin = l.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("enroll_day").cast("bigint").alias("last_day"),
        F.expr("CAST(max_by(llr9, enroll_day) AS BIGINT)").alias(
            "final_llr9"
        ),
        F.min(
            F.when(
                F.col("llr9") >= SPRT_BOUND_NANO, F.col("enroll_day")
            )
        ).alias("up_day"),
        F.min(
            F.when(
                F.col("llr9") <= -SPRT_BOUND_NANO, F.col("enroll_day")
            )
        ).alias("down_day"),
    )
    return fin.select(
        "arm",
        "n_days",
        "final_llr9",
        F.expr(
            "CAST(COALESCE(LEAST(up_day, down_day),"
            " LEAST(COALESCE(up_day, down_day),"
            " COALESCE(down_day, up_day)), -1) AS BIGINT)"
        ).alias("cross_day"),
        F.expr(
            "CASE WHEN up_day IS NOT NULL"
            " AND (down_day IS NULL OR up_day <= down_day)"
            " THEN 'accept_h1'"
            " WHEN down_day IS NOT NULL THEN 'accept_h0'"
            " ELSE 'continue' END"
        ).alias("decision"),
    )


# ---------------------------------------------------------------------------
# linreg_two_factor — exact 3x3 Cramer OLS (r5s12)
# ---------------------------------------------------------------------------

_SGN_DIV = (
    "CAST(CASE WHEN dd = 0 THEN 0"
    " WHEN ({num}) * 1000000 >= 0 AND dd > 0"
    " THEN (({num}) * 1000000) div dd"
    " WHEN ({num}) * 1000000 < 0 AND dd < 0"
    " THEN ((-({num})) * 1000000) div (-dd)"
    " WHEN dd < 0 THEN -((({num}) * 1000000) div (-dd))"
    " ELSE -(((-({num})) * 1000000) div dd) END AS BIGINT)"
)


@register(
    "linreg_two_factor",
    oracle=f"""
    WITH e AS (SELECT {_V100} AS y,
                      CAST(hour(ts) AS BIGINT) AS x1,
                      CASE WHEN ({_EP} // 86400) % 7 IN (2, 3)
                           THEN 1 ELSE 0 END AS x2
               FROM events),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x1) AS BIGINT) AS s1,
                 CAST(SUM(x2) AS BIGINT) AS s2,
                 CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                 CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                 CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x1 * y) AS BIGINT) AS s1y,
                 CAST(SUM(x2 * y) AS BIGINT) AS s2y
          FROM e),
    d AS (SELECT n, s1, s2, sy,
                 CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
                                       - CAST(s12 AS HUGEINT) * s12)
                 - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
                                          - CAST(s12 AS HUGEINT) * s2)
                 + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
                                          - CAST(s11 AS HUGEINT) * s2)
                     AS dd,
                 CAST(sy AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
                                        - CAST(s12 AS HUGEINT) * s12)
                 - CAST(s1 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
                                          - CAST(s12 AS HUGEINT) * s2y)
                 + CAST(s2 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s12
                                          - CAST(s11 AS HUGEINT) * s2y)
                     AS d0,
                 CAST(n AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
                                       - CAST(s12 AS HUGEINT) * s2y)
                 - CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
                                          - CAST(s12 AS HUGEINT) * s2)
                 + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
                                          - CAST(s1y AS HUGEINT) * s2)
                     AS d1,
                 CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s2y
                                       - CAST(s1y AS HUGEINT) * s12)
                 - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
                                          - CAST(s1y AS HUGEINT) * s2)
                 + CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
                                          - CAST(s11 AS HUGEINT) * s2)
                     AS d2
          FROM m)
    SELECT n AS n_events,
           {_SGN_DIV.format(num="d0")} AS b0_micro,
           {_SGN_DIV.format(num="d1")} AS b1_micro,
           {_SGN_DIV.format(num="d2")} AS b2_micro
    FROM d
    """.replace("//", "//").replace(" div ", " // "),
)
def linreg_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS with intercept — value(cents) regressed on
    hour-of-day AND an is-weekend flag, solved EXACTLY by Cramer's
    rule on the 3×3 normal equations: linreg_value_trend and
    simpson_slope_reversal handle one regressor; this is the
    multivariate step that separates 'values rise late in the day'
    from 'values rise on weekends' when the two correlate. All nine
    moments come from ONE pass; the three coefficient determinants
    and the system determinant are exact DECIMAL(38,0)/HUGEINT
    polynomials (largest term n·Σx²·Σy ≈ 1e25 at sf1 — inside 38
    digits to ~10⁷× that), finished by sign-safe truncating micro
    divisions. The weekend flag is pure epoch-day arithmetic
    ((d+4)%7-free form: Saturday = epoch_day%7 = 2, Sunday = 3) — no
    calendar functions to diverge on.

    Scale shape: one map-side-combinable 9-moment aggregate
    (word-count shape), 1-row scalar assembly."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr(_V100).alias("y"),
        F.hour("ts").cast("bigint").alias("x1"),
        F.expr(
            "CASE WHEN (unix_timestamp(ts) div 86400) % 7 IN (2, 3)"
            " THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("x2"),
    )
    m = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
    )

    def det(c1, c2, c3):
        """3x3 determinant with columns c1,c2,c3 of the symmetric
        moment matrix rows (r1, r2, r3) as SQL text in DECIMAL."""
        (a1, a2, a3), (b1, b2, b3), (c1_, c2_, c3_) = c1, c2, c3
        return (
            f"CAST({a1} AS DECIMAL(38,0)) * (CAST({b2} AS DECIMAL(38,0))"
            f" * {c3_} - CAST({b3} AS DECIMAL(38,0)) * {c2_})"
            f" - CAST({a2} AS DECIMAL(38,0)) * (CAST({b1} AS DECIMAL(38,0))"
            f" * {c3_} - CAST({b3} AS DECIMAL(38,0)) * {c1_})"
            f" + CAST({a3} AS DECIMAL(38,0)) * (CAST({b1} AS DECIMAL(38,0))"
            f" * {c2_} - CAST({b2} AS DECIMAL(38,0)) * {c1_})"
        )

    # matrix rows: (n, s1, s2), (s1, s11, s12), (s2, s12, s22);
    # rhs (sy, s1y, s2y); Cramer replaces one column by the rhs
    dd = det(("n", "s1", "s2"), ("s1", "s11", "s12"), ("s2", "s12", "s22"))
    d0 = det(("sy", "s1", "s2"), ("s1y", "s11", "s12"), ("s2y", "s12", "s22"))
    d1 = det(("n", "sy", "s2"), ("s1", "s1y", "s12"), ("s2", "s2y", "s22"))
    d2 = det(("n", "s1", "sy"), ("s1", "s11", "s1y"), ("s2", "s12", "s2y"))
    d = m.select(
        "n",
        F.expr(dd).alias("dd"),
        F.expr(d0).alias("d0"),
        F.expr(d1).alias("d1"),
        F.expr(d2).alias("d2"),
    )
    sgn = (
        "CAST(CASE WHEN dd = 0 THEN 0"
        " WHEN ({num}) * 1000000 >= 0 AND dd > 0"
        " THEN (({num}) * 1000000) div dd"
        " WHEN ({num}) * 1000000 < 0 AND dd < 0"
        " THEN ((-({num})) * 1000000) div (-dd)"
        " WHEN dd < 0 THEN -((({num}) * 1000000) div (-dd))"
        " ELSE -(((-({num})) * 1000000) div dd) END AS BIGINT)"
    )
    return d.select(
        F.col("n").alias("n_events"),
        F.expr(sgn.format(num="d0")).alias("b0_micro"),
        F.expr(sgn.format(num="d1")).alias("b1_micro"),
        F.expr(sgn.format(num="d2")).alias("b2_micro"),
    )


# ---------------------------------------------------------------------------
# conversion_window_sensitivity — how the window choice moves the KPI
# ---------------------------------------------------------------------------

CWS_HOURS = (1, 6, 24, 72)


@register(
    "conversion_window_sensitivity",
    oracle=f"""
    WITH su AS (SELECT user_id, MIN({_EP}) AS s_ep FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    pu AS (SELECT e.user_id, MIN({_EP}) AS p_ep
           FROM events e JOIN su ON su.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND {_EP} >= su.s_ep
           GROUP BY e.user_id),
    delta AS (SELECT su.user_id, pu.p_ep - su.s_ep AS gap_s
              FROM su LEFT JOIN pu ON pu.user_id = su.user_id),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signup FROM delta),
    win AS (SELECT unnest([{", ".join(str(h) for h in CWS_HOURS)}]) AS wh)
    SELECT CAST(win.wh AS BIGINT) AS window_hours,
           base.n_signup,
           CAST(SUM(CASE WHEN delta.gap_s IS NOT NULL
                              AND delta.gap_s <= win.wh * 3600
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN delta.gap_s IS NOT NULL
                              AND delta.gap_s <= win.wh * 3600
                         THEN 1 ELSE 0 END) * 1000000 // base.n_signup
                AS BIGINT) AS conv_micro
    FROM win CROSS JOIN base LEFT JOIN delta ON TRUE
    GROUP BY win.wh, base.n_signup
    """,
)
def conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signup-to-purchase conversion under a SWEEP of attribution
    windows (1h / 6h / 24h / 72h): the table that shows how much of
    the headline conversion rate is a window-choice artifact before
    anyone standardizes on funnel_windowed's 24 h. A KPI that doubles
    between 24h and 72h is measuring patience, not product.

    Exactness: per-user signup→first-subsequent-purchase gaps are
    exact epoch-second integers; each window's verdict is an integer
    inequality and the rate a truncating micro division over the
    signup population.

    Scale shape: two per-user MIN aggregates (the corpus-sized work,
    shared across all windows — the sweep reruns NOTHING), a 4-row
    fan-out over the users-sized gap table."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("ep")
    )
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ep").alias("s_ep"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ep") >= F.col("s_ep"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("p_ep"))
    )
    delta = su.join(pu, "user_id", "left").select(
        "user_id", (F.col("p_ep") - F.col("s_ep")).alias("gap_s")
    )
    from dbt_project_spark.caching import persist_tracked

    delta = persist_tracked(delta)
    base = delta.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup"))
    win = spark.createDataFrame(
        [(h,) for h in CWS_HOURS], "wh bigint"
    )
    return (
        win.crossJoin(F.broadcast(base))
        .join(delta, F.lit(True), "left")
        .groupBy("wh", "n_signup")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_s").isNotNull()
                    & (F.col("gap_s") <= F.col("wh") * 3600),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_converted"),
            F.expr(
                "CAST(SUM(CASE WHEN gap_s IS NOT NULL"
                " AND gap_s <= wh * 3600 THEN 1 ELSE 0 END)"
                " * 1000000 div n_signup AS BIGINT)"
            ).alias("conv_micro"),
        )
        .select(
            F.col("wh").alias("window_hours"),
            "n_signup",
            "n_converted",
            "conv_micro",
        )
    )


# ---------------------------------------------------------------------------
# weekend_conversion_odds — odds ratio with Woolf CI (r5s14)
# ---------------------------------------------------------------------------


@register(
    "weekend_conversion_odds",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      CAST(MAX(CASE WHEN ({_EP} // 86400) % 7 IN (2, 3)
                               THEN 1 ELSE 0 END) AS BIGINT) AS exposed,
                      CAST(CASE WHEN SUM({_V100}) >= {AB_CONV_SPEND100}
                           THEN 1 ELSE 0 END AS BIGINT) AS conv
               FROM events GROUP BY user_id),
    t AS (SELECT CAST(SUM(exposed * conv) AS BIGINT) AS a,
                 CAST(SUM(exposed * (1 - conv)) AS BIGINT) AS b,
                 CAST(SUM((1 - exposed) * conv) AS BIGINT) AS c,
                 CAST(SUM((1 - exposed) * (1 - conv)) AS BIGINT) AS d
          FROM u)
    SELECT a AS n_exp_conv, b AS n_exp_not, c AS n_unexp_conv,
           d AS n_unexp_not,
           CAST(CAST(a AS HUGEINT) * d AS VARCHAR) AS or_num,
           CAST(CAST(b AS HUGEINT) * c AS VARCHAR) AS or_den,
           CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                ELSE ROUND(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE)
                     * c)) - 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c
                     + 1.0/d), 6) END AS ln_or_lo95,
           CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                ELSE ROUND(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE)
                     * c)) + 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c
                     + 1.0/d), 6) END AS ln_or_hi95
    FROM t
    """,
)
def weekend_conversion_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of high-value conversion for weekend-active vs
    weekday-only users, with the Woolf 95% CI on ln OR — the
    case-control readout for an exposure no one can randomize (you
    cannot assign users to weekends; ab_test_conversion's hash arms
    don't apply). A CI excluding 0 says weekend engagement MARKS
    high-value users (association, not causation — the docstring is
    the reminder).

    Exactness: the 2×2 comes from one per-user aggregate with the
    epoch-day weekend flag (no calendar functions); the odds ratio
    ships as exact HUGEINT/DECIMAL(38,0) num/den STRINGS, and only
    the CI touches doubles — one ln + one sqrt over the four exact
    integers with the z constant a shared full-precision literal,
    ROUND 6; degenerate margins emit NULL identically.

    Scale shape: one events-sized per-user aggregate, a 1-row 2×2."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    F.expr("(unix_timestamp(ts) div 86400) % 7 IN (2, 3)"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("exposed"),
            F.when(F.sum(F.expr(_V100)) >= AB_CONV_SPEND100, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("conv"),
        )
    )
    t = u.agg(
        F.sum(F.col("exposed") * F.col("conv")).cast("bigint").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("conv")))
        .cast("bigint")
        .alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("conv"))
        .cast("bigint")
        .alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("conv")))
        .cast("bigint")
        .alias("d"),
    )
    ci = (
        "ROUND(ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c))"
        " {sign} 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6)"
    )
    guard = "CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL ELSE {x} END"
    return t.select(
        F.col("a").alias("n_exp_conv"),
        F.col("b").alias("n_exp_not"),
        F.col("c").alias("n_unexp_conv"),
        F.col("d").alias("n_unexp_not"),
        F.expr("CAST(CAST(a AS DECIMAL(38,0)) * d AS STRING)").alias(
            "or_num"
        ),
        F.expr("CAST(CAST(b AS DECIMAL(38,0)) * c AS STRING)").alias(
            "or_den"
        ),
        F.expr(guard.format(x=ci.format(sign="-"))).alias("ln_or_lo95"),
        F.expr(guard.format(x=ci.format(sign="+"))).alias("ln_or_hi95"),
    )


# ---------------------------------------------------------------------------
# ratio_metric_delta_method — SE of revenue-per-event (r5s19)
# ---------------------------------------------------------------------------


@register(
    "ratio_metric_delta_method",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      CAST(SUM({_V100}) AS BIGINT) AS x,
                      CAST(COUNT(*) AS BIGINT) AS y
               FROM events GROUP BY user_id),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
          FROM u),
    d AS (SELECT n, sx, sy,
                 CAST(sx AS DOUBLE) / n AS mx,
                 CAST(sy AS DOUBLE) / n AS my,
                 (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * sx)
                     / (n - 1.0) AS vx,
                 (CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) / n) * sy)
                     / (n - 1.0) AS vy,
                 (CAST(sxy AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * sy)
                     / (n - 1.0) AS cxy
          FROM m),
    f AS (SELECT n, mx, my, vx, vy, cxy,
                 mx / my AS ratio
          FROM d)
    SELECT n AS n_users,
           CAST(sx * 1000000 // sy AS BIGINT) AS ratio_micro,
           ROUND(sqrt((vx - 2.0 * (mx / my) * cxy
                       + (mx / my) * (mx / my) * vy)
                      / (my * my * n)), 6) AS se_delta,
           ROUND(mx / my, 6) AS ratio_dbl
    FROM f CROSS JOIN (SELECT sx, sy FROM m) q
    """,
)
def ratio_metric_delta_method(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standard error of the RATIO metric revenue-per-event by the
    delta method over per-user totals: ratio metrics violate the
    independence the plain two-sample tests assume (events cluster
    within users — the 'analysis unit ≠ randomization unit' trap),
    and this is the experimentation-stack fix: Var(x̄/ȳ) ≈ (σ²ₓ −
    2R·σₓᵧ + R²·σ²ᵧ)/(μ²ᵧ·n). The SE that makes ab_test_conversion's
    machinery legal for per-user-normalized KPIs.

    Exactness: the five second moments are exact
    DECIMAL(38,0)/HUGEINT sums over per-user integers; the ratio
    itself ships BOTH as an exact truncating micro integer and as
    the double the SE formula uses — the SE is one fixed scalar
    expression with a single sqrt, ROUND 6 (the welch convention).

    Scale shape: one events-sized per-user aggregate, one 5-moment
    1-row reduce, scalar math."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr(_V100)).cast("bigint").alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
    )
    m = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    d = m.select(
        "n",
        "sx",
        "sy",
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        (
            (
                F.col("sxx").cast("double")
                - (F.col("sx").cast("double") / F.col("n")) * F.col("sx")
            )
            / (F.col("n") - 1.0)
        ).alias("vx"),
        (
            (
                F.col("syy").cast("double")
                - (F.col("sy").cast("double") / F.col("n")) * F.col("sy")
            )
            / (F.col("n") - 1.0)
        ).alias("vy"),
        (
            (
                F.col("sxy").cast("double")
                - (F.col("sx").cast("double") / F.col("n")) * F.col("sy")
            )
            / (F.col("n") - 1.0)
        ).alias("cxy"),
    )
    return d.select(
        F.col("n").alias("n_users"),
        F.expr("CAST(sx * 1000000 div sy AS BIGINT)").alias("ratio_micro"),
        F.round(
            F.sqrt(
                (
                    F.col("vx")
                    - 2.0 * (F.col("mx") / F.col("my")) * F.col("cxy")
                    + (F.col("mx") / F.col("my"))
                    * (F.col("mx") / F.col("my"))
                    * F.col("vy")
                )
                / (F.col("my") * F.col("my") * F.col("n"))
            ),
            6,
        ).alias("se_delta"),
        F.round(F.col("mx") / F.col("my"), 6).alias("ratio_dbl"),
    )


# ---------------------------------------------------------------------------
# recency_churn_auc — exact AUC of the simplest churn model (r5s22)
# ---------------------------------------------------------------------------


@register(
    "recency_churn_auc",
    oracle=f"""
    WITH e AS (SELECT user_id, {_EP} AS ep FROM events
               WHERE user_id IS NOT NULL),
    mid AS (SELECT (MIN(ep) + MAX(ep)) // 2 AS m FROM e),
    u AS (SELECT user_id,
                 CAST(MAX(CASE WHEN ep < (SELECT m FROM mid)
                          THEN ep END) AS BIGINT) AS last_before,
                 CAST(MAX(CASE WHEN ep >= (SELECT m FROM mid)
                          THEN 1 ELSE 0 END) AS BIGINT) AS active_after
          FROM e GROUP BY user_id),
    sc AS (SELECT user_id,
                  (SELECT m FROM mid) - last_before AS recency_s,
                  active_after
           FROM u WHERE last_before IS NOT NULL),
    r AS (SELECT active_after,
                 ROW_NUMBER() OVER (ORDER BY recency_s DESC, user_id)
                     AS rk
          FROM sc),
    t AS (SELECT CAST(SUM(active_after) AS BIGINT) AS n_pos,
                 CAST(SUM(1 - active_after) AS BIGINT) AS n_neg,
                 CAST(SUM(CASE WHEN active_after = 1 THEN rk END)
                      AS BIGINT) AS rank_sum
          FROM r)
    SELECT n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST((CAST(rank_sum AS HUGEINT)
                           - CAST(n_pos AS HUGEINT) * (n_pos + 1) / 2)
                          * 1000000 // (CAST(n_pos AS HUGEINT) * n_neg)
                          AS BIGINT) END AS auc_micro
    FROM t
    """,
)
def recency_churn_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC of the simplest churn predictor there is — 'the more
    recently you were seen, the more likely you return': score =
    recency at the observation midpoint, outcome = any activity
    after it. AUC via the Mann-Whitney identity (U from the rank sum
    of positives under the score ordering) — the BASELINE every
    churn model must beat, and the yardstick that makes
    user_decay_score's fancier half-life score auditable.

    Exactness: recency scores are integer seconds with tie-free
    (score, user_id) ranks (the ranker_kendall_tau convention — no
    tie correction), so U and AUC = (ΣR₊ − n₊(n₊+1)/2)/(n₊·n₋) are
    PURE INTEGERS to the final truncating micro division (n₊(n₊+1)
    is always even — the /2 is exact). Degenerate single-class
    populations emit NULL.

    Scale shape: one events-sized per-user aggregate, one users-sized
    rank sort (rangepartition at scale), a 1-row reduce."""
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
            F.max(F.when(F.col("ep") < F.col("m"), F.col("ep")))
            .cast("bigint")
            .alias("last_before"),
            F.max(F.when(F.col("ep") >= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("active_after"),
            F.max("m").alias("m"),
        )
    )
    sc = u.filter(F.col("last_before").isNotNull()).select(
        "user_id",
        (F.col("m") - F.col("last_before")).alias("recency_s"),
        "active_after",
    )
    r = sc.select(
        "active_after",
        F.row_number()
        .over(Window.orderBy(F.desc("recency_s"), "user_id"))
        .cast("bigint")
        .alias("rk"),
    )
    t = r.agg(
        F.sum("active_after").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("active_after")).cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("active_after") == 1, F.col("rk")))
        .cast("bigint")
        .alias("rank_sum"),
    )
    return t.select(
        "n_pos",
        "n_neg",
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL"
            " ELSE CAST((CAST(rank_sum AS DECIMAL(38,0))"
            " - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1) / 2)"
            " * 1000000 div (CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
            " AS BIGINT) END"
        ).alias("auc_micro"),
    )


# ---------------------------------------------------------------------------
# markov_reach_purchase — bounded hitting probability (r5s22)
# ---------------------------------------------------------------------------

MRP_STEPS = 4
MRP_TARGET = "purchase"


def _mrp_oracle_sql() -> str:
    ctes = [
        f"""s AS (SELECT user_id, event_type,
                     LEAD(event_type) OVER (PARTITION BY user_id
                                            ORDER BY {_EP}, event_id)
                         AS next_type
              FROM events)""",
        """c AS (SELECT event_type AS f, next_type AS t,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)""",
        """rowt AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nf
               FROM c GROUP BY f)""",
        f"""p AS (SELECT c.f, c.t,
                     CAST(c.n * 1000000 // rowt.nf AS BIGINT) AS p6
              FROM c JOIN rowt USING (f))""",
        f"""r0 AS (SELECT f AS ty, CAST(0 AS BIGINT) AS v FROM rowt)""",
    ]
    for k in range(1, MRP_STEPS + 1):
        prev = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS (SELECT p.f AS ty,
                      CAST(SUM(CASE WHEN p.t = '{MRP_TARGET}'
                                    THEN p.p6
                                    ELSE p.p6 * {prev}.v // 1000000
                               END) AS BIGINT) AS v
               FROM p JOIN {prev} ON {prev}.ty = p.t
               GROUP BY p.f)"""
        )
    sel = ", ".join(
        f"r{k}.v AS reach{k}_micro" for k in range(1, MRP_STEPS + 1)
    )
    joins = " ".join(
        f"JOIN r{k} ON r{k}.ty = r1.ty" for k in range(2, MRP_STEPS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT r1.ty AS event_type, {sel}
    FROM r1 {joins}
    """
    )


@register("markov_reach_purchase", oracle=_mrp_oracle_sql())
def markov_reach_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded hitting probability of the PURCHASE state: from each
    event type, the chance the chain reaches 'purchase' within 1-4
    transitions — the recursion R_k(i) = Σ_j P(i,j)·(1 if j=purchase
    else R_{k−1}(j)) unrolled. Where markov_stationary_mix says where
    journeys settle eventually, this prices the SHORT game: which
    current state is k clicks from money, the number a ranking or
    nudge system keys on.

    Determinism: the row-normalized ×1e6 transition matrix and every
    iteration's re-truncated integer multiply-accumulate follow
    markov_stationary_mix's conventions exactly — bit-identical
    fixed points on both engines.

    Scale shape: one user-partitioned lead() pass (shared with the
    transition family); iterations on the |types|² matrix."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(
            Window.partitionBy("user_id").orderBy(
                F.unix_timestamp("ts"), "event_id"
            )
        )
        .alias("next_type"),
    )
    c = (
        s.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("f"), F.col("next_type").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    from dbt_project_spark.caching import persist_tracked

    c = persist_tracked(c)
    rowt = c.groupBy("f").agg(F.sum("n").cast("bigint").alias("nf"))
    p = c.join(rowt, "f").select(
        "f",
        "t",
        F.expr("CAST(n * 1000000 div nf AS BIGINT)").alias("p6"),
    )
    p = persist_tracked(p)
    r = rowt.select(F.col("f").alias("ty"), F.lit(0).cast("bigint").alias("v"))
    outs = []
    for _ in range(MRP_STEPS):
        r = (
            p.join(r, p.t == r.ty)
            .groupBy(F.col("f").alias("ty2"))
            .agg(
                F.sum(
                    F.when(
                        F.col("t") == MRP_TARGET, F.col("p6")
                    ).otherwise(
                        F.expr("p6 * v div 1000000")
                    )
                )
                .cast("bigint")
                .alias("v")
            )
            .select(F.col("ty2").alias("ty"), "v")
        )
        outs.append(r)
    out = outs[0].select("ty", F.col("v").alias("reach1_micro"))
    for k in range(2, MRP_STEPS + 1):
        out = out.join(
            outs[k - 1].select(
                "ty", F.col("v").alias(f"reach{k}_micro")
            ),
            "ty",
        )
    return out.select(
        F.col("ty").alias("event_type"),
        *[f"reach{k}_micro" for k in range(1, MRP_STEPS + 1)],
    )
