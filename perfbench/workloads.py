"""The benchmark's workloads and the per-layer metrics they report."""

from __future__ import annotations

import catalog_kernels
import dag_incremental
import stream_replay

WORKLOADS = {
    w.NAME: w
    for w in (
        stream_replay.StreamReplay,
        dag_incremental.DagIncremental,
        catalog_kernels.CatalogKernels,
    )
}

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_geomean_s", "s"),
    ("ok_frac", "frac"),
]

# every workload prints all of these in a traced run; a layer the
# workload bypasses reads zero
PER_LAYER = (
    [("session.start_s", "s"), ("catalog.load_s", "s"), ("warmup_s", "s")]
    # peak RSS (VmHWM) of the driver's Python process plus the JVM, and
    # of the JVM alone; the heap grows as the collector decides, so it
    # spreads too much between runs to carry an end-to-end bound
    + [("peak_rss_mb", "MB"), ("jvm.peak_rss_mb", "MB")]
    + [
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.input_mb", "MB"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("spark.peak_exec_mem_mb", "MB"),
        ("spark.driver_s", "s"),
        ("spark.core_util", "frac"),
    ]
    + stream_replay.LAYER_METRICS
    + dag_incremental.LAYER_METRICS
    + catalog_kernels.LAYER_METRICS
    + [("trace.overhead_frac", "frac")]
)
