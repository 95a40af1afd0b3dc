"""Driver-local graph finishers: the one size gate and the one Arrow
guard shared by every iterative graph operator.

Eight operators — ``pagerank`` (plain and weighted), ``random_walks``,
``bfs_distances``, ``label_propagation`` and ``kcore`` in
operators/graph.py, ``connected_components`` and ``resolve_roots`` in
operators/components.py — iterate in Spark supersteps whose FIXED cost
(scheduling, an eager lineage-truncating checkpoint, a convergence
action) is paid per round regardless of graph size. When the relation
they iterate over is small, each one collects it to the driver and
finishes the same algorithm in numpy instead; the edge-deriving joins
upstream stay distributed, only the iteration moves.

Bound contract: a finisher runs only when its measured relation holds
at most ``LOCAL_MAX_EDGES`` rows (:func:`fits_driver`). The collect is
Arrow-batched into int64/float64 numpy columns — ~16 B/edge for two
longs, ~24 B/edge with a weight — so the 2M default is ~32–48 MB of
driver memory. Larger graphs run the distributed loop unchanged. The
constant is read at call time; tests force the distributed branch with
``monkeypatch.setattr(finisher, "LOCAL_MAX_EDGES", 0)``.

Every decision logs one record on this module's logger (operator,
size, bound, path), so a run shows which path each operator took.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

LOCAL_MAX_EDGES = 2_000_000

_log = logging.getLogger(__name__)
_ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


def fits_driver(op: str, n: int) -> bool:
    """True when ``n`` rows fit the driver-local bound (a bound of 0
    means never local); logs the decision."""
    bound = LOCAL_MAX_EDGES
    local = bound > 0 and n <= bound
    _log.info(
        "finisher op=%s size=%d bound=%d path=%s",
        op, n, bound, "local" if local else "distributed",
    )
    return local


@contextmanager
def _arrow_on(spark):
    """Force Arrow on (a bare session may not have it) and restore the
    caller's conf after."""
    prev = spark.conf.get(_ARROW_KEY, None)
    spark.conf.set(_ARROW_KEY, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_ARROW_KEY)
        else:
            spark.conf.set(_ARROW_KEY, prev)


def arrow_collect(df):
    """``toPandas`` under the Arrow guard — the bounded collect."""
    with _arrow_on(df.sparkSession):
        return df.toPandas()


def arrow_frame(spark, columns: dict, schema: str):
    """The finisher's result DataFrame from ``{column: numpy array}``,
    built under the Arrow guard; no rows (or no columns) gives the
    empty relation of ``schema``."""
    import pandas as pd

    pdf = pd.DataFrame(columns)
    with _arrow_on(spark):
        if len(pdf) == 0:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(pdf, schema)
