"""The distributed full-batch gradient pass every trainer shares
(emission_train, ctx_train, quality_train). A trainer keeps only its
per-partition kernel and its update rule; :func:`training_set` owns the
cache of the training table and :func:`gradient_sums` owns the Spark job.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

_GRAD_SCHEMA = "pid int, n long, loss double, grad array<double>"
_GRAD_ARROW_SCHEMA = pa.schema([
    ("pid", pa.int32()), ("n", pa.int64()), ("loss", pa.float64()),
    ("grad", pa.list_(pa.float64())),
])


@contextmanager
def training_set(df: DataFrame) -> Iterator[tuple[DataFrame, int]]:
    """Persist ``df`` for the iterations, yield ``(data, row count)``, and
    unpersist it on the way out — also when the count finds it empty
    (ValueError) or a gradient pass raises."""
    data = df.persist()
    try:
        n = data.count()
        if n == 0:
            raise ValueError("empty training set")
        yield data, n
    finally:
        data.unpersist()


def gradient_sums(
    data: DataFrame,
    kernel: Callable[[Iterator[pa.RecordBatch]], tuple | None],
    size: int,
) -> tuple[int, float, np.ndarray]:
    """One ``mapInArrow`` job over ``data``. ``kernel`` takes a partition's
    whole Arrow batch iterator (``batch.to_pandas()`` for a pandas view), so
    it keeps its own float accumulation order, and returns ``(n, summed
    loss, flat gradient)``, or None when the partition has nothing to learn
    from. Returns those sums over all partitions, ``grad`` a float64 array
    of ``size``, added in partition-id order: bit-reproducible for a fixed
    partitioning of ``data``. The collect is bounded by the partition
    count: one row of ``size`` doubles each, whatever the row count."""

    def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out = kernel(batches)
        if out is not None:
            from pyspark import TaskContext

            n, loss, grad = out
            yield pa.RecordBatch.from_pydict(
                {"pid": [TaskContext.get().partitionId()], "n": [n],
                 "loss": [loss], "grad": [grad.tolist()]},
                schema=_GRAD_ARROW_SCHEMA,
            )

    rows = data.mapInArrow(part, _GRAD_SCHEMA).collect()
    rows.sort(key=lambda r: r["pid"])  # float sums are order-sensitive
    g = np.zeros(size, dtype=np.float64)
    loss, n = 0.0, 0
    for r in rows:
        g += np.asarray(r["grad"], dtype=np.float64)
        loss += r["loss"]
        n += r["n"]
    return n, loss, g
