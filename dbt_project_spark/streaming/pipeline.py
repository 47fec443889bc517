"""Structured-Streaming topology — the reference's streaming pipeline
rebuilt Spark-first (reference: spark_streaming_new.py).

Reference shape: three Kafka JSON topics (pageviews, sessionduration,
timeonpage) sharing (record_id, timestamp) → watermark 1 min → 3-way
stream-stream inner join → engagement score → foreachBatch fan-out to
five analytics + JDBC sinks.

Here: the three metric streams come from any source (file stream in
tests — no Kafka broker in this environment; ``kafka_json_stream``
builds the identical Kafka reader when a broker+connector exist). The
join and windowed aggregations are the same operators the batch
queries use, which is the parity guarantee the reference checks by
hand in comparision.sql.

Scale notes: stream-stream joins buffer per-key state until the
watermark expires it — the join keys include the event timestamp, so
state is bounded by (rate × watermark). Windowed aggs in append mode
emit once per closed window.

Each trigger evaluates the joined batch exactly once: ``write_analytics``
persists it and fills the cache with one ``count()``, and the five
sinks read the cache. Every sink write is an action, and an action over
the uncached batch re-runs the stateful join, loading and committing
its state stores again.

Delivery is at-least-once: the ``foreachBatch`` sinks append, so an
epoch retried after a failure writes its rows a second time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_project_spark.caching import persisted
from dbt_project_spark.functions.expressions import engagement_score
from dbt_project_spark.sources.registry import ensure_runtime_confs


def split_event_streams(events: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Mimic the reference's three topics from an events stream:
    (record_id, ts, page_views) / (…, session_duration) / (…,
    time_on_page) — kafka_producer.py:30-46 semantics."""
    base = events.select(
        F.col("event_id").alias("record_id"),
        "ts",
        F.get_json_object("props", "$.k").cast("int").alias("page_views"),
        F.col("value").alias("session_duration"),
        F.col("user_id").cast("double").alias("time_on_page"),
    )
    pv = base.select("record_id", "ts", "page_views")
    sd = base.select("record_id", "ts", "session_duration")
    tp = base.select("record_id", "ts", "time_on_page")
    return pv, sd, tp


def join_metric_streams(
    pv: DataFrame, sd: DataFrame, tp: DataFrame, watermark: str = "1 minute"
) -> DataFrame:
    """3-way inner join on (record_id, ts) with watermarks + score.

    Parity: spark_streaming_new.py:79-103 for the join/watermark
    SHAPE. Deliberate deviation in the score itself: the reference's
    streaming job scales session_duration and time_on_page by /60
    (spark_streaming_new.py:96) while its own batch SQL
    (batch_stream.sql) does not — the two reference paths disagree.
    This repo follows the batch formula on BOTH paths so its
    stream==batch parity tests are meaningful; same for the session
    category bounds (50/150 per batch_stream.sql, vs the streaming
    job's 60/300). Works identically on batch and streaming
    DataFrames (the join keys contain the watermarked event-time
    column, so streaming state is expirable)."""
    if pv.isStreaming:
        pv = pv.withWatermark("ts", watermark)
        sd = sd.withWatermark("ts", watermark)
        tp = tp.withWatermark("ts", watermark)
    joined = pv.join(sd, ["record_id", "ts"]).join(tp, ["record_id", "ts"])
    return joined.withColumn(
        "engagement_score",
        engagement_score("page_views", "session_duration", "time_on_page"),
    )


def micro_batch_analytics(df: DataFrame) -> dict[str, DataFrame]:
    """The reference's per-batch analytics (process_batch,
    spark_streaming_new.py:109-252), reusing the batch operators."""
    from dbt_project_spark.operators.bucketize import categorize
    from dbt_project_spark.operators.stats import correlation_matrix, hourly_profile
    from dbt_project_spark.operators.windows import (
        windowed_count_distribution,
        windowed_stats,
    )

    dist = windowed_count_distribution(df, "ts", 300, ["page_views"])
    cats = windowed_count_distribution(
        df.withColumn(
            "session_category",
            categorize("session_duration", [50, 150], ["Short", "Medium", "Long"]),
        ),
        "ts",
        300,
        ["session_category"],
    )
    scores = windowed_stats(
        df,
        "ts",
        300,
        [
            F.avg("engagement_score").alias("avg_engagement_score"),
            F.min("engagement_score").alias("min_engagement_score"),
            F.max("engagement_score").alias("max_engagement_score"),
        ],
    )
    return {
        "page_views_distribution": dist,
        "session_categories": cats,
        "engagement_scores": scores,
        # reference prints these per batch (spark_streaming_new.py:227-252)
        "hourly_patterns": hourly_profile(
            df, "ts", ["page_views", "session_duration", "time_on_page"]
        ),
        "correlation": correlation_matrix(
            df, ["page_views", "session_duration", "time_on_page", "engagement_score"]
        ),
    }


def analytics_sinks(out_dir: str) -> dict[str, str]:
    """The parquet directory under ``out_dir`` of each
    ``micro_batch_analytics`` output."""
    return {
        name: os.path.join(out_dir, name)
        for name in (
            "page_views_distribution",
            "session_categories",
            "engagement_scores",
            "hourly_patterns",
            "correlation",
        )
    }


def write_analytics(df: DataFrame, sink_paths: dict[str, str], mode: str) -> None:
    """Write ``micro_batch_analytics(df)`` to ``sink_paths[name]`` (parquet,
    save mode ``mode``) with ``df`` evaluated once: the five outputs
    read one cache, filled by a ``count()``. An empty ``df`` appends
    nothing; an overwrite still replaces the old output."""
    with persisted(df) as cached:
        if cached.count() == 0 and mode == "append":
            return
        for name, out in micro_batch_analytics(cached).items():
            out.write.mode(mode).parquet(sink_paths[name])


def run_file_stream_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> dict[str, str]:
    """End-to-end availableNow run: parquet file stream → split → 3-way
    join → foreachBatch writing the five analytics as parquet sinks
    (parquet stands in for the reference's JDBC tables)."""
    ensure_runtime_confs(spark)
    static = spark.read.parquet(source_dir)
    raw = spark.readStream.schema(static.schema).parquet(source_dir)
    if dict(raw.dtypes).get("ts") == "bigint":  # nanos-as-long source
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    pv, sd, tp = split_event_streams(raw)
    joined = join_metric_streams(pv, sd, tp)

    sink_paths = analytics_sinks(out_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_analytics(batch_df, sink_paths, "append")

    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink_paths


def kafka_json_stream(
    spark: SparkSession,
    servers: str,
    topic: str,
    schema,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka JSON topic reader — the reference's source shape
    (spark_streaming_new.py:40-49). Requires the spark-sql-kafka
    connector on the classpath and a reachable broker; raises a
    helpful error otherwise (neither exists in this environment)."""
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
            .selectExpr("CAST(value AS STRING) AS value")
            .select(F.from_json(F.col("value"), schema).alias("data"))
            .select("data.*")
        )
    except Exception as e:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "Kafka source unavailable: needs org.apache.spark:spark-sql-"
            f"kafka-0-10 on the classpath and a broker at {servers} "
            f"(original error: {e})"
        ) from e


def synthetic_rate_stream(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Rate-source synthetic producer (kafka_producer_streaming.py
    analogue): deterministic pseudo-random metrics keyed by the rate
    source's monotonically increasing value."""
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    v = F.col("value")
    return rate.select(
        v.alias("record_id"),
        F.col("timestamp").alias("ts"),
        (F.pmod(F.xxhash64(v), 10) + 1).cast("int").alias("page_views"),
        (F.pmod(F.xxhash64(v + 1), 59000) / 100.0 + 10.0).alias("session_duration"),
        (F.pmod(F.xxhash64(v + 2), 29500) / 100.0 + 5.0).alias("time_on_page"),
    )
