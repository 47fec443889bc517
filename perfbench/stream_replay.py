"""stream_replay: cron-style ``availableNow`` replay of ``events``.

Each pass lands the next events, in ``ts`` order, as one parquet file of
a fixed row count (pyarrow, in this process), then calls
``streaming.run_file_stream_pipeline`` once on a fresh checkpoint: the
first ``availableNow`` run of a cron-style ``cli stream`` job. The call
is one operation ("round"): a data trigger plus the no-data trigger
that advances the watermark. After it, the sinks are re-aggregated by
window and compared with DuckDB over the landed rows.

There is no warm-up: each invocation of such a job is a fresh process,
so the timed call is the session's first streaming query. A call that
restarts the query from a checkpoint an earlier call left is not timed:
the first streaming query of a session costs about 30 s on a 4-core
host, so a run that made one and then timed a second would not fit the
run budget.
"""

from __future__ import annotations

import os
import statistics

import duckdb
import pyarrow.parquet as pq

import slices
import tracing

MB = 1024.0 * 1024.0
SINKS = ("page_views_distribution", "session_categories", "engagement_scores")

# DuckDB twins of the pipeline's per-window analytics over the landed rows
_WIN = "strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S')"
_PV = "CAST(json_extract_string(props, '$.k') AS INTEGER)"
_CAT = "CASE WHEN value < 50 THEN 'Short' WHEN value < 150 THEN 'Medium' ELSE 'Long' END"
_SCORE = (
    f"CAST({_PV} AS DOUBLE) * CAST(0.4 AS DOUBLE) + value * CAST(0.3 AS DOUBLE)"
    " + CAST(user_id AS DOUBLE) * CAST(0.3 AS DOUBLE)"
)

LAYER_METRICS = [
    ("streaming.call_s", "s"),
    ("streaming.triggers_per_round", "count"),
    ("streaming.jobs_per_round", "count"),
    ("streaming.start_stop_s", "s"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.nodata_trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mem_mb", "MB"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.state_update_ms", "ms"),
    ("streaming.state_instances", "count"),
    ("streaming.rows_dropped_by_watermark", "count"),
    ("streaming.sink_files", "count"),
    ("streaming.sink_mb", "MB"),
]


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _state_sum(progress: dict, key: str) -> float:
    return sum(op.get(key, 0) for op in progress.get("stateOperators", []))


class StreamReplay:
    NAME = "stream_replay"
    DATA = slices.DATA
    ROWS_PER_FILE = 2500

    def __init__(self, ctx) -> None:
        self.events = pq.read_table(slices.EVENTS)
        self.rows = 400 if ctx.tiny else self.ROWS_PER_FILE
        self.room = self.events.num_rows - self.rows
        # the seed shifts the replay start row; later passes continue on
        self.start = (ctx.seed * 104_729) % self.room
        self.calls = 0

    def _land(self, land: str, offset: int) -> None:
        os.makedirs(land, exist_ok=True)
        tmp = os.path.join(land, ".part-0.parquet")  # hidden until renamed
        pq.write_table(self.events.slice(offset, self.rows), tmp)
        os.replace(tmp, os.path.join(land, "part-0.parquet"))

    def warmup(self, ctx, label: str) -> None:
        """Nothing: the timed call is the session's first streaming query,
        as in each cron-style invocation of ``cli stream``."""

    def run_pass(self, ctx, p: int, label: str) -> int:
        """Land one file, then one call on a fresh checkpoint."""
        from dbt_project_spark.streaming.pipeline import run_file_stream_pipeline

        base = ctx.dir(label, f"pass{p}")
        land, out, ckpt = (os.path.join(base, d) for d in ("landing", "out", "ckpt"))
        self._land(land, (self.start + p * self.rows) % self.room)
        first = len(ctx.listener.progress) if ctx.traced else 0
        s = ctx.run_op(
            "round",
            f"{label}.p{p}",
            lambda: run_file_stream_pipeline(ctx.spark, land, out, ckpt),
            check=lambda _: self.check(land, out),
            rows=self.rows,
        )
        if ctx.traced:
            self.calls += 1
            ctx.listener.wait_terminated(self.calls)
            sinks = tracing.file_sizes(out)
            s.attrs.update(
                progress=(first, len(ctx.listener.progress)),
                sink_files=len(sinks),
                sink_b=sum(sinks.values()),
            )
        return self.rows

    @staticmethod
    def check(land: str, out: str) -> bool:
        con = duckdb.connect()
        src = f"read_parquet('{land}/*.parquet')"

        def sink(name: str) -> str:
            return f"read_parquet('{out}/{name}/*.parquet')"

        def rows(sql: str) -> list:
            return sorted(con.execute(sql).fetchall())

        pairs = [
            (f"SELECT {_WIN}, {_PV}, COUNT(*) FROM {src} GROUP BY ALL",
             f"SELECT window_start, page_views, SUM(count) FROM {sink(SINKS[0])}"
             " GROUP BY ALL"),
            (f"SELECT {_WIN}, {_CAT}, COUNT(*) FROM {src} GROUP BY ALL",
             f"SELECT window_start, session_category, SUM(count)"
             f" FROM {sink(SINKS[1])} GROUP BY ALL"),
            (f"SELECT {_WIN}, MIN({_SCORE}), MAX({_SCORE}) FROM {src} GROUP BY ALL",
             "SELECT window_start, MIN(min_engagement_score),"
             f" MAX(max_engagement_score) FROM {sink(SINKS[2])} GROUP BY ALL"),
        ]
        try:
            return all(rows(want) == rows(got) for want, got in pairs)
        finally:
            con.close()

    def layer_metrics(self, ctx, phase, by_op) -> dict:
        rounds = [o for o in phase.ops() if o.name == "round" and "progress" in o.attrs]
        prog = ctx.listener.progress
        per_round = [prog[slice(*o.attrs["progress"])] for o in rounds]
        trig = [p for rp in per_round for p in rp]
        data = [p for p in trig if p.get("numInputRows", 0) > 0]
        nodata = [p for p in trig if p.get("numInputRows", 0) == 0]

        def phase_ms(key: str) -> float:
            return _median(p["durationMs"].get(key, 0) for p in data)

        start_stop = [
            o.dur - sum(p["durationMs"].get("triggerExecution", 0) for p in rp) / 1000.0
            for o, rp in zip(rounds, per_round)
        ]
        return {
            "streaming.call_s": _median(o.dur for o in rounds),
            "streaming.triggers_per_round": statistics.fmean(len(rp) for rp in per_round),
            "streaming.jobs_per_round": statistics.fmean(
                len(by_op.get(o.op, [])) for o in rounds),
            "streaming.start_stop_s": _median(start_stop),
            "streaming.trigger_ms": phase_ms("triggerExecution"),
            "streaming.nodata_trigger_ms": _median(
                p["durationMs"].get("triggerExecution", 0) for p in nodata),
            "streaming.add_batch_ms": phase_ms("addBatch"),
            "streaming.query_planning_ms": phase_ms("queryPlanning"),
            "streaming.wal_commit_ms": phase_ms("walCommit"),
            "streaming.commit_offsets_ms": phase_ms("commitOffsets"),
            "streaming.latest_offset_ms": phase_ms("latestOffset"),
            "streaming.state_rows": _median(
                _state_sum(rp[-1], "numRowsTotal") for rp in per_round if rp),
            "streaming.state_mem_mb": _median(
                _state_sum(rp[-1], "memoryUsedBytes") / MB for rp in per_round if rp),
            "streaming.state_commit_ms": _median(
                sum(_state_sum(p, "commitTimeMs") for p in rp) for rp in per_round),
            "streaming.state_update_ms": _median(
                sum(_state_sum(p, "allUpdatesTimeMs") for p in rp) for rp in per_round),
            "streaming.state_instances": _median(
                max((_state_sum(p, "numStateStoreInstances") for p in rp), default=0)
                for rp in per_round),
            "streaming.rows_dropped_by_watermark": sum(
                _state_sum(p, "numRowsDroppedByWatermark") for p in trig),
            "streaming.sink_files": _median(o.attrs["sink_files"] for o in rounds),
            "streaming.sink_mb": _median(o.attrs["sink_b"] / MB for o in rounds),
        }
