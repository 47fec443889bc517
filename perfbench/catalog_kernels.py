"""catalog_kernels: a fixed list of kernel-heavy catalog queries.

Each query runs through ``catalog.QUERIES[name]`` with its result fully
collected; the workload seed permutes the order. The session is warmed
only by cheap queries outside the list, so the first pass times each
kernel's first execution in a session, as a user running one catalog
query sees it. Between queries the benchmark calls
``caching.reclaim_jvm`` (timed on its own, outside the query). Each
result is checked against the digest of its DuckDB oracle, in
``oracle_check``'s canonical form. The oracles are far slower than the
queries at larger scales, so their digests are stored in
``digests.json`` and re-derived with
``python3 perfbench/run.py --make-digests``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics

import pyarrow.parquet as pq

import slices

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
MB = 1024.0 * 1024.0

# family → queries; the family's input table sizes its row count
FAMILIES = {
    "dedup": ("documents", ("dedup_minhash_lsh",)),
    "graph": ("lineitem", ("link_prediction_jaccard",)),
    "ann": ("embeddings", ("ann_ivf_topk",)),
}
QUERY_FAMILY = {q: fam for fam, (_, qs) in FAMILIES.items() for q in qs}
# cheap queries outside the list: they start the Python workers and warm
# the Arrow/UDF, shuffle and join paths every kernel shares
WARMUP = ("ann_bruteforce_topk",)

LAYER_METRICS = (
    [(f"query.{q}_s", "s") for q in QUERY_FAMILY]
    + [(f"query.{q}.{m}", u) for q in QUERY_FAMILY
       for m, u in (("executor_run_s", "s"), ("shuffle_mb", "MB"), ("driver_s", "s"))]
    + [(f"operators.{fam}_s", "s") for fam in FAMILIES]
    + [("caching.reclaim_s", "s")]
)


def digest(cols: list[str], rows: list[tuple]) -> str:
    """sha256 of a result in ``oracle_check``'s canonical form."""
    from dbt_project_spark.oracle_check import _canon

    canon = _canon(rows, list(cols))
    return hashlib.sha256(json.dumps([sorted(cols), canon]).encode()).hexdigest()


def inputs_sha256() -> str:
    """sha256 over the catalog input files, to tell stale digests."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(slices.CATALOG)):
        h.update(name.encode())
        with open(os.path.join(slices.CATALOG, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def make_digests() -> None:
    """Run every query's DuckDB oracle over the catalog inputs and
    store the result digests next to this file."""
    import duckdb

    from dbt_project_spark import catalog

    catalog.load_all()
    con = duckdb.connect()
    for f in sorted(os.listdir(slices.CATALOG)):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM"
                    f" read_parquet('{os.path.join(slices.CATALOG, f)}')")
    out = {}
    for name in QUERY_FAMILY:
        cur = con.execute(catalog.ORACLES[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"rows": len(rows), "sha256": digest(cols, rows)}
        print(f"{name}: {len(rows)} rows", flush=True)
    with open(DIGESTS, "w") as f:
        json.dump({"inputs_sha256": inputs_sha256(), "queries": out}, f, indent=1)
        f.write("\n")


class CatalogKernels:
    NAME = "catalog_kernels"
    DATA = slices.CATALOG

    def __init__(self, ctx) -> None:
        with open(DIGESTS) as f:
            stored = json.load(f)
        if stored["inputs_sha256"] != inputs_sha256():
            raise RuntimeError("digests.json is for other inputs: run --make-digests")
        self.digests = {q: d["sha256"] for q, d in stored["queries"].items()}
        # the seed permutes the catalog order
        self.order = random.Random(ctx.seed).sample(list(QUERY_FAMILY), len(QUERY_FAMILY))
        self.rows = {
            fam: pq.ParquetFile(os.path.join(ctx.data_dir, f"{table}.parquet"))
            .metadata.num_rows
            for fam, (table, _) in FAMILIES.items()
        }

    @staticmethod
    def _fetch(ctx, name: str):
        from dbt_project_spark import catalog

        df = catalog.QUERIES[name](ctx.spark, ctx.data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def warmup(self, ctx, label: str) -> None:
        from dbt_project_spark.caching import reclaim_jvm

        for name in WARMUP:
            self._fetch(ctx, name)
        reclaim_jvm()

    def run_pass(self, ctx, p: int, label: str) -> int:
        from dbt_project_spark.caching import reclaim_jvm

        total = 0
        for name in self.order:
            rows = self.rows[QUERY_FAMILY[name]]
            ctx.run_op(
                "query",
                f"{label}.p{p}.{name}",
                lambda: self._fetch(ctx, name),
                check=lambda res: digest(*res) == self.digests[name],
                rows=rows,
            ).attrs["query"] = name
            with ctx.tracer.span("caching.reclaim"):
                reclaim_jvm()
            total += rows
        return total

    def layer_metrics(self, ctx, phase, by_op) -> dict:
        import tracing

        med = statistics.median
        queries = [o for o in phase.ops() if o.name == "query"]
        m = {}
        for q in QUERY_FAMILY:
            spans = [o for o in queries if o.attrs["query"] == q]
            jobs = [by_op.get(o.op, []) for o in spans]
            m[f"query.{q}_s"] = med(o.dur for o in spans)
            m[f"query.{q}.executor_run_s"] = med(sum(j.run_s for j in js) for js in jobs)
            m[f"query.{q}.shuffle_mb"] = med(
                sum(j.shuffle_write_b for j in js) / MB for js in jobs)
            m[f"query.{q}.driver_s"] = med(
                o.dur - tracing.union_length([(j.start, j.end) for j in js], o.start, o.end)
                for o, js in zip(spans, jobs))
        for fam, (_, qs) in FAMILIES.items():
            m[f"operators.{fam}_s"] = med(
                sum(o.dur for o in ops if o.attrs["query"] in qs)
                for _, ops in phase.passes)
        reclaims = [s for s in ctx.tracer.named("caching.reclaim")
                    if s.start >= phase.passes[0][0].start]
        m["caching.reclaim_s"] = med(s.dur for s in reclaims)
        return m
