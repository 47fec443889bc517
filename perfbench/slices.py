"""The benchmark's inputs: slices of the repository's test data, kept with it.

The inputs are cut once from the deterministic scale-factor directories
the repository tests and ``bench.py`` read (``sf0.01`` and ``sf0.1``,
see ``TESTDATA.md``) and stored under ``perfbench/data/``, because a run
reads only inside its checkout. Re-cut them with::

    python3 perfbench/run.py --make-data <dir holding sf0.01/ and sf0.1/>

which also re-derives the catalog oracle digests. What is kept:

- ``events.parquet``: the first ``EVENT_ROWS`` rows of sf0.1 ``events``
  (the table is already in ``ts`` order);
- ``tpch/``: the sf0.1 orders of the first ``ORDER_MONTHS`` order
  months with all their lineitems, plus sf0.1 ``customer`` and
  ``nation`` whole;
- ``catalog/``: sf0.1 ``documents`` and ``embeddings`` whole, and sf0.01
  ``lineitem`` (``link_prediction_jaccard`` takes about 100 s on the
  sf0.1 one, more than a run may last).

The workload seed only picks inside these files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
EVENTS = os.path.join(DATA, "events.parquet")
TPCH = os.path.join(DATA, "tpch")
CATALOG = os.path.join(DATA, "catalog")

EVENT_ROWS = 20_000
ORDER_MONTHS = 12


def order_month(orders: pa.Table) -> np.ndarray:
    """``yyyymm`` of each order's ``o_orderdate``."""
    d = orders.column("o_orderdate")
    return pc.add(pc.multiply(pc.year(d), 100), pc.month(d)).to_numpy()


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")


def make(testdata: str) -> None:
    """Cut every input from the ``sf0.01``/``sf0.1`` dirs under ``testdata``."""
    sf01, sf001 = os.path.join(testdata, "sf0.1"), os.path.join(testdata, "sf0.01")
    shutil.rmtree(DATA, ignore_errors=True)

    _write(pq.read_table(os.path.join(sf01, "events.parquet")).slice(0, EVENT_ROWS), EVENTS)

    orders = pq.read_table(os.path.join(sf01, "orders.parquet"))
    month = order_month(orders)
    keep = np.isin(month, np.unique(month)[:ORDER_MONTHS])
    orders = orders.filter(pa.array(keep))
    lineitem = pq.read_table(os.path.join(sf01, "lineitem.parquet"))
    lineitem = lineitem.filter(pc.is_in(lineitem.column("l_orderkey"),
                                        value_set=orders.column("o_orderkey")))
    _write(orders, os.path.join(TPCH, "orders.parquet"))
    _write(lineitem, os.path.join(TPCH, "lineitem.parquet"))

    copies = [(sf01, TPCH, "customer"), (sf01, TPCH, "nation"),
              (sf01, CATALOG, "documents"), (sf01, CATALOG, "embeddings"),
              (sf001, CATALOG, "lineitem")]
    for src, dst, name in copies:
        os.makedirs(dst, exist_ok=True)
        shutil.copyfile(os.path.join(src, f"{name}.parquet"),
                        os.path.join(dst, f"{name}.parquet"))
