"""dag_incremental: month-aligned loads through a dbt project.

The project, declared through ``plans.Project`` over TPC-H orders and
lineitems, has staging views, an ``incremental`` order-revenue fact
partitioned by ``order_month``, a ``table`` nation×month mart, a
``merge`` upsert of orders by ``o_orderkey`` and ``not_null``/``unique``
tests. Each load lands one order month (orders with their lineitems,
plus amended copies of a tenth of the previous month's orders for the
upsert), builds the models in topological order and runs ``test()``.

Loads must be whole months: ``incremental`` keeps only rows whose
partition value is above the target's current maximum, so a load that
split a month would lose the rest of that month. After each load the
fact, mart and merge targets are compared with DuckDB over the slices
loaded so far.
"""

from __future__ import annotations

import os
import statistics

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import slices
import tracing

MB = 1024.0 * 1024.0

LAYER_METRICS = [
    ("plans.view_s", "s"),
    ("plans.incremental_s", "s"),
    ("plans.table_s", "s"),
    ("plans.merge_s", "s"),
    ("plans.test_s", "s"),
    ("plans.mb_written", "MB"),
    ("plans.files_written", "count"),
    ("plans.write_amp", "ratio"),
    ("plans.target_files_total", "count"),
]

_MONTH = "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)"
_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)
# materialization → model names, in build (topological) order
_BUILD = (
    ("view", ("stg_orders", "stg_lineitem")),
    ("incremental", ("fct_order_revenue",)),
    ("table", ("mart_nation_month",)),
    ("merge", ("orders_current",)),
)


def declare(spark, land: str, batch: str, data_dir: str):
    """The benchmark's dbt project over the landed history and batch."""
    from dbt_project_spark.plans.project import Project, not_null, unique
    from dbt_project_spark.sources.registry import load_table

    dims = {t: load_table(spark, data_dir, t) for t in ("customer", "nation")}
    proj = Project(
        spark,
        {
            "orders": spark.read.parquet(os.path.join(land, "orders")),
            "lineitem": spark.read.parquet(os.path.join(land, "lineitem")),
            "order_batch": spark.read.parquet(batch),
            **dims,
        },
        target_dir=os.path.join(land, "target"),
    )
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
    proj.sql_model(
        "stg_orders",
        f"SELECT {cols}, {_MONTH} AS order_month FROM {{{{ source('orders') }}}}",
    )
    proj.sql_model(
        "stg_lineitem",
        f"SELECT l_orderkey, {_REVENUE} AS revenue FROM {{{{ source('lineitem') }}}}",
    )
    proj.sql_model(
        "fct_order_revenue",
        """SELECT o.o_orderkey, o.o_custkey, o.order_month,
                  SUM(l.revenue) AS revenue, COUNT(*) AS n_lines
           FROM {{ ref('stg_orders') }} o
           JOIN {{ ref('stg_lineitem') }} l ON l.l_orderkey = o.o_orderkey
           GROUP BY o.o_orderkey, o.o_custkey, o.order_month""",
        materialized="incremental",
        partition_by="order_month",
    )
    proj.sql_model(
        "mart_nation_month",
        """SELECT n.n_name, f.order_month, SUM(f.revenue) AS revenue,
                  COUNT(*) AS n_orders
           FROM {{ ref('fct_order_revenue') }} f
           JOIN {{ source('customer') }} c ON f.o_custkey = c.c_custkey
           JOIN {{ source('nation') }} n ON c.c_nationkey = n.n_nationkey
           GROUP BY n.n_name, f.order_month""",
        materialized="table",
    )

    @proj.model("orders_current", materialized="merge",
                partition_by="order_month", unique_key="o_orderkey")
    def orders_current(p):
        return p.source("order_batch").selectExpr(
            *cols.split(", "), f"{_MONTH} AS order_month"
        )

    proj.add_test("fct_order_revenue", not_null("revenue"), "not_null_revenue")
    proj.add_test("fct_order_revenue", unique("o_orderkey"), "unique_orderkey")
    proj.add_test("orders_current", unique("o_orderkey"), "unique_orderkey")
    proj.add_test("orders_current", not_null("o_orderstatus"), "not_null_status")
    return proj


class DagIncremental:
    NAME = "dag_incremental"
    DATA = slices.TPCH
    LOADS = 3

    def __init__(self, ctx) -> None:
        d = ctx.data_dir
        self.orders = pq.read_table(os.path.join(d, "orders.parquet"))
        self.lineitem = pq.read_table(os.path.join(d, "lineitem.parquet"))
        yyyymm = slices.order_month(self.orders)
        months = np.unique(yyyymm)
        month = np.searchsorted(months, yyyymm)
        self.n_months = len(months)
        self.by_month = [np.flatnonzero(month == m) for m in range(self.n_months)]
        line_order = np.searchsorted(self.orders.column("o_orderkey").to_numpy(),
                                     self.lineitem.column("l_orderkey").to_numpy())
        self.lines_by_month = [
            np.flatnonzero(month[line_order] == m) for m in range(self.n_months)
        ]
        self.loads = 2 if ctx.tiny else self.LOADS
        self.room = self.n_months - self.loads - 2  # last two: warm-up
        # the seed shifts the first loaded month
        self.first = (ctx.seed * 7) % self.room

    def _land(self, land: str, month: int, idx: int) -> tuple[str, int, int]:
        """Write load ``idx`` (order month ``month``); returns the batch
        file, the bytes of the new rows and their row count."""
        orders = self.orders.take(self.by_month[month])
        lines = self.lineitem.take(self.lines_by_month[month])
        batch = orders
        if idx > 0:  # amend a tenth of the previous month's orders
            prev = self.orders.take(self.by_month[month - 1][::10])
            prev = prev.set_column(
                prev.schema.get_field_index("o_orderstatus"), "o_orderstatus",
                pa.array(["F"] * prev.num_rows),
            ).set_column(
                prev.schema.get_field_index("o_totalprice"), "o_totalprice",
                pc.round(pc.add(prev.column("o_totalprice"), 1.0), 2),
            )
            batch = pa.concat_tables([orders, prev])
        paths = {
            "orders": os.path.join(land, "orders", f"load-{idx:03d}.parquet"),
            "lineitem": os.path.join(land, "lineitem", f"load-{idx:03d}.parquet"),
            "batch": os.path.join(land, "batch", f"load-{idx:03d}.parquet"),
        }
        for key, table in (("orders", orders), ("lineitem", lines), ("batch", batch)):
            os.makedirs(os.path.dirname(paths[key]), exist_ok=True)
            pq.write_table(table, paths[key])
        new_b = sum(os.path.getsize(p) for p in paths.values())
        return paths["batch"], new_b, orders.num_rows + lines.num_rows

    def _load(self, ctx, land: str, batch: str) -> None:
        proj = declare(ctx.spark, land, batch, ctx.data_dir)
        for kind, models in _BUILD:
            with ctx.tracer.span(f"plans.{kind}"):
                for m in models:
                    proj.ref(m)
        with ctx.tracer.span("plans.test"):
            proj.test()

    def warmup(self, ctx, label: str) -> None:
        """Two loads of the last two months: the second runs the
        incremental append and the merge upsert paths."""
        land = ctx.dir("warm", label)
        for k in range(2):
            batch, _, _ = self._land(land, self.n_months - 2 + k, k)
            self._load(ctx, land, batch)

    def run_pass(self, ctx, p: int, label: str) -> int:
        land = ctx.dir(label, f"pass{p}")
        first = (self.first + p * self.loads) % self.room
        total = 0
        for k in range(self.loads):
            batch, new_b, n_rows = self._land(land, first + k, k)
            before = tracing.file_sizes(os.path.join(land, "target")) if ctx.traced else {}
            s = ctx.run_op(
                "load",
                f"{label}.p{p}.l{k}",
                lambda: self._load(ctx, land, batch),
                check=lambda _: self.check(land, ctx.data_dir),
                rows=n_rows,
            )
            if ctx.traced:
                after = tracing.file_sizes(os.path.join(land, "target"))
                written = [f for f, b in after.items() if before.get(f) != b]
                s.attrs.update(
                    written_b=sum(after[f] for f in written),
                    written_files=len(written),
                    new_b=new_b,
                    target_files=len(after),
                )
            total += n_rows
        return total

    @staticmethod
    def check(land: str, data_dir: str) -> bool:
        con = duckdb.connect()
        for name in ("orders", "lineitem", "batch"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                        f"'{land}/{name}/*.parquet', filename = true)")
        for name in ("customer", "nation"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{name}.parquet')")

        def target(model: str) -> str:
            return (f"read_parquet('{land}/target/{model}/**/*.parquet',"
                    " hive_partitioning = true)")

        fact = f"""SELECT o_orderkey, o_custkey, {_MONTH} AS order_month,
                          SUM({_REVENUE}) AS revenue, COUNT(*) AS n_lines
                   FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                   GROUP BY ALL"""
        pairs = [
            (fact, "SELECT o_orderkey, o_custkey, order_month, revenue, n_lines"
                   f" FROM {target('fct_order_revenue')}"),
            (f"""SELECT n_name, order_month, SUM(revenue), COUNT(*)
                 FROM ({fact}) f JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey GROUP BY ALL""",
             "SELECT n_name, order_month, revenue, n_orders"
             f" FROM {target('mart_nation_month')}"),
            (f"""SELECT o_orderkey, o_orderstatus, o_totalprice, {_MONTH}
                 FROM batch QUALIFY row_number() OVER (
                     PARTITION BY o_orderkey ORDER BY filename DESC) = 1""",
             "SELECT o_orderkey, o_orderstatus, o_totalprice, order_month"
             f" FROM {target('orders_current')}"),
        ]
        try:
            return all(
                sorted(con.execute(want).fetchall()) == sorted(con.execute(got).fetchall())
                for want, got in pairs
            )
        finally:
            con.close()

    def layer_metrics(self, ctx, phase, by_op) -> dict:
        loads = [o for o in phase.ops() if o.name == "load" and "new_b" in o.attrs]
        spans = ctx.tracer.spans
        index = {id(s): i for i, s in enumerate(spans)}

        def per_load(kind: str) -> float:
            out = []
            for o in loads:
                i = index[id(o)]
                out.append(sum(s.dur for s in spans if s.parent == i
                               and s.name == f"plans.{kind}"))
            return statistics.median(out)

        med = statistics.median
        return {
            **{f"plans.{k}_s": per_load(k)
               for k in ("view", "incremental", "table", "merge", "test")},
            "plans.mb_written": med(o.attrs["written_b"] / MB for o in loads),
            "plans.files_written": med(o.attrs["written_files"] for o in loads),
            "plans.write_amp": (sum(o.attrs["written_b"] for o in loads)
                                / sum(o.attrs["new_b"] for o in loads)),
            "plans.target_files_total": loads[-1].attrs["target_files"],
        }
