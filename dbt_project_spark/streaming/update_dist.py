"""Update-mode streaming windowed distribution (pct-of-window per emit).

The reference's streaming job prints each 5-minute distribution per
micro-batch (spark_streaming_new.py:142-153) but only over THAT
batch's rows; its own accuracy check (comparision.sql:25-41) then
compares stream vs batch tables. This operator closes that gap with
true update-mode semantics: the streaming aggregation emits updated
(window, key) counts each trigger, and a foreachBatch upsert folds
them into a running state so the percentage column is recomputed over
the COMPLETE current window content on every emit — mid-stream reads
are correct distributions, not batch-local fragments.

Scale notes:
- The streaming agg itself is Spark's incremental stateful groupBy —
  watermark-bounded state, update-mode emits only changed groups.
- State upsert is expressed as anti-join + union + versioned rewrite
  of a tiny (window, key, count) table — at production scale this is
  one MERGE INTO on a Delta/Iceberg table; the parquet-versioned
  variant here has identical semantics without a table format in the
  sandbox. State size is |windows × keys|, independent of event
  volume.
- Percentages are recomputed only for windows touched by the trigger
  (windows join-filtered before the pct window function).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_project_spark.caching import persisted
from dbt_project_spark.streaming.pipeline import ensure_runtime_confs


def _latest_version(dir_: str) -> int | None:
    if not os.path.isdir(dir_):
        return None
    versions = [
        int(d[1:]) for d in os.listdir(dir_) if d.startswith("v") and d[1:].isdigit()
    ]
    return max(versions) if versions else None


def _next_version(dir_: str) -> int:
    """max(existing)+1, NOT the trigger's epoch_id: after a checkpoint
    restart a replayed epoch_id can be LOWER than the on-disk max, and
    a version written under it would never be read by _latest_version."""
    v = _latest_version(dir_)
    return 0 if v is None else v + 1


def _prune_versions(dir_: str, keep: int = 2) -> None:
    """Drop all but the newest ``keep`` versions once a write commits —
    otherwise every trigger leaves a full state+output copy behind
    (unbounded disk growth over a long-running stream). keep=2 retains
    one rollback step."""
    if not os.path.isdir(dir_):
        return
    versions = sorted(
        int(d[1:]) for d in os.listdir(dir_) if d.startswith("v") and d[1:].isdigit()
    )
    for v in versions[:-keep]:
        shutil.rmtree(os.path.join(dir_, f"v{v}"), ignore_errors=True)


def read_current_distribution(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Latest emitted distribution (None before the first trigger)."""
    v = _latest_version(out_dir)
    if v is None:
        return None
    return spark.read.parquet(os.path.join(out_dir, f"v{v}"))


def run_update_distribution(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    width_sec: int = 300,
    key_col: str = "event_type",
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = 1,
    state_shuffle_partitions: int | None = None,
) -> list[dict]:
    """availableNow run of the update-mode distribution pipeline.

    ``max_files_per_trigger=1`` forces multiple triggers over a
    multi-file source so the per-emit upsert path is actually
    exercised (a single trigger would degenerate to batch).

    ``state_shuffle_partitions`` (r13): number of state-store
    partitions for the stateful aggregation, locked in at first
    trigger by Spark from ``spark.sql.shuffle.partitions``. The
    default (None) leaves the session conf alone. Streaming state
    here is |windows × keys| rows — volume-INDEPENDENT (module
    header) — so sizing its partition count off the batch shuffle
    width is wrong at every scale: each extra state partition adds
    per-trigger store commit + snapshot maintenance fixed cost for no
    data-size benefit. Callers with a known-bounded keyspace should
    pass a small constant; the session conf is restored after the
    stream finishes.

    Returns the stream's per-trigger progress dicts (r10):
    ``stateOperators[0].numRowsTotal`` is the LIVE state-store row
    count after each trigger — with a real watermark over time-ordered
    input it must plateau at ~(groups inside the watermark horizon)
    instead of growing with stream lifetime, which is the 100×
    state-store survival condition (asserted in
    tests/test_streaming_state_plateau.py, measured at sf1 in
    SCALE.md r10).
    """
    ensure_runtime_confs(spark)
    prev_shuffle_conf: str | None = None
    if state_shuffle_partitions is not None:
        prev_shuffle_conf = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(state_shuffle_partitions)
        )
    try:
        return _run_update_distribution(
            spark,
            source_dir,
            state_dir,
            out_dir,
            checkpoint_dir,
            width_sec,
            key_col,
            watermark,
            max_files_per_trigger,
        )
    finally:
        if prev_shuffle_conf is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle_conf)


def _run_update_distribution(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    width_sec: int,
    key_col: str,
    watermark: str,
    max_files_per_trigger: int | None,
) -> list[dict]:
    static = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(source_dir)
    if dict(raw.dtypes).get("ts") == "bigint":  # nanos-as-long source
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    counts = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{width_sec} seconds"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            key_col,
            "count",
        )
    )

    def upsert_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        # One count both fills the cache and answers emptiness (see
        # caching.persisted); the upsert reads ``updates`` three times.
        with persisted(batch_df) as updates:
            if updates.count() == 0:
                return
            prev_v = _latest_version(state_dir)
            if prev_v is None:
                state = updates
            else:
                prev = sp.read.parquet(os.path.join(state_dir, f"v{prev_v}"))
                kept = prev.join(
                    updates.select("window_start", key_col),
                    on=["window_start", key_col],
                    how="left_anti",
                )
                state = kept.unionByName(updates)
            new_state_path = os.path.join(state_dir, f"v{_next_version(state_dir)}")
            state.write.mode("overwrite").parquet(new_state_path)

            # Recompute pct ONLY for windows touched this trigger, over the
            # window's complete current content.
            full = sp.read.parquet(new_state_path)
            touched = updates.select("window_start").distinct()
            w = Window.partitionBy("window_start")
            dist = (
                full.join(touched, on="window_start")
                .withColumn(
                    "percentage",
                    F.round(
                        F.lit(100.0) * F.col("count") / F.sum("count").over(w), 2
                    ),
                )
            )
            # Emitted view = unchanged windows from the previous emit +
            # freshly recomputed touched windows.
            out_v = _latest_version(out_dir)
            if out_v is not None:
                prev_out = sp.read.parquet(os.path.join(out_dir, f"v{out_v}"))
                dist = prev_out.join(
                    touched, on="window_start", how="left_anti"
                ).unionByName(dist)
            dist.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"v{_next_version(out_dir)}")
            )
        _prune_versions(state_dir)
        _prune_versions(out_dir)

    q = (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [p for p in q.recentProgress if p is not None]
