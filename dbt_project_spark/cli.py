"""Command-line entry points — the reference user's workflows as
one-liners.

    # batch analytics over a CSV (the reference's data_input.py +
    # batch_stream.sql flow, MySQL replaced by parquet marts):
    python -m dbt_project_spark.cli batch --input traffic.csv --out /tmp/marts

    # streaming analytics over a growing parquet directory (the
    # reference's spark_streaming_new.py flow, Kafka replaced by a
    # file stream — swap in kafka_json_stream when a broker exists):
    python -m dbt_project_spark.cli stream --input /data/events --out /tmp/marts

    # run the catalog:
    python -m dbt_project_spark.cli query tpch_q5 --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def _batch(args) -> int:
    from dbt_project_spark import get_spark
    from dbt_project_spark.sources.readers import read_csv
    from dbt_project_spark.streaming.pipeline import (
        analytics_sinks,
        join_metric_streams,
        split_event_streams,
        write_analytics,
    )

    spark = get_spark(app_name="dbt-project-spark-batch")
    if args.input.endswith(".csv") or args.format == "csv":
        # reference CSV shape: "Page Views","Session Duration","Time on Page",timestamp
        raw = read_csv(spark, args.input)
        cols = {c.lower().replace(" ", "_"): c for c in raw.columns}
        events = raw.select(
            F.monotonically_increasing_id().alias("record_id"),
            F.to_timestamp(F.col(cols.get("timestamp", "timestamp"))).alias("ts"),
            F.col(cols.get("page_views", "Page Views")).cast("int").alias("page_views"),
            F.col(cols.get("session_duration", "Session Duration"))
            .cast("double")
            .alias("session_duration"),
            F.col(cols.get("time_on_page", "Time on Page"))
            .cast("double")
            .alias("time_on_page"),
        )
        joined = join_metric_streams(
            events.select("record_id", "ts", "page_views"),
            events.select("record_id", "ts", "session_duration"),
            events.select("record_id", "ts", "time_on_page"),
        )
    else:
        from dbt_project_spark.sources import load_table

        ev = load_table(spark, os.path.dirname(args.input) or args.input, "events")
        pv, sd, tp = split_event_streams(ev)
        joined = join_metric_streams(pv, sd, tp)

    sinks = analytics_sinks(args.out)
    write_analytics(joined, sinks, "overwrite")
    for name, path in sinks.items():
        print(f"wrote {name} -> {path}")
    return 0


def _stream(args) -> int:
    from dbt_project_spark import get_spark
    from dbt_project_spark.streaming import run_file_stream_pipeline

    spark = get_spark(app_name="dbt-project-spark-stream")
    sinks = run_file_stream_pipeline(
        spark,
        args.input,
        args.out,
        args.checkpoint or os.path.join(args.out, "_checkpoint"),
    )
    for name, path in sinks.items():
        print(f"sink {name} -> {path}")
    return 0


def _query(args) -> int:
    from dbt_project_spark import get_spark
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; known: {', '.join(sorted(QUERIES))}")
        return 2
    spark = get_spark(app_name=f"dbt-project-spark-{args.name}")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote -> {args.out}")
    return 0


def _explain(args) -> int:
    from dbt_project_spark import get_spark
    from dbt_project_spark.catalog import QUERIES, load_all

    load_all()
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; known: {', '.join(sorted(QUERIES))}")
        return 2
    spark = get_spark(app_name=f"dbt-project-spark-explain-{args.name}")
    df = QUERIES[args.name](spark, args.sf_dir)
    print(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), args.mode
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbt_project_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("batch", help="batch web-traffic analytics (CSV or events parquet)")
    b.add_argument("--input", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--format", default=None)
    b.set_defaults(fn=_batch)

    s = sub.add_parser("stream", help="streaming pipeline over a parquet directory")
    s.add_argument("--input", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--checkpoint", default=None)
    s.set_defaults(fn=_stream)

    q = sub.add_parser("query", help="run a catalog query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    q.add_argument("--rows", type=int, default=20)
    q.add_argument("--out", default=None)
    q.set_defaults(fn=_query)

    e = sub.add_parser(
        "explain",
        help="print a catalog query's plan (the scale audit tool: "
        "check PushedFilters/ReadSchema/Exchange count by eye)",
    )
    e.add_argument("name")
    e.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    e.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    e.set_defaults(fn=_explain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
