"""Scan-parallelism valve for unsplittable inputs.

A parquet file written as ONE row group (or a gzip text file, or any
single small file) yields a 1-2 task scan no matter how many cores the
session has: Spark's split planning can cut byte ranges, but only the
range containing a row-group midpoint reads anything. Every map-heavy
operator downstream of such a scan (tokenize → shingle → hash, HOF
filters, regex scrubbing) then runs on 1-2 cores of 32 — measured 2.5 s →
0.6 s on the sf1.0 gopher pass just from widening the scan.

:func:`scan_parallel` is the standard remedy from the optimization
playbook ("one huge unsplittable file — repartition immediately after the
read"), made SCALE-ADAPTIVE from the optimizer's size statistics:

* inputs big enough to have natural splits (``size ≥ cores × 128 MB``,
  the default maxPartitionBytes) are returned UNCHANGED — no 100 TB
  corpus is ever shuffled by this valve;
* small inputs are repartitioned to ``min(2·cores, size / 96 KB)``
  partitions — proportional to the data, so a 600 KB table gets ~6
  partitions (not 64: a fixed 2·cores fan-out cost +0.5 s of pure task
  overhead on sub-MB inputs at sf0.1), while the 5.9 MB sf1.0 corpus
  still widens to the full core count;
* inputs too small to benefit (≤ 2 target partitions) skip the exchange.

96 KB of parquet ≈ ~600 KB of row data at typical text compression —
roughly one task-worth of map-heavy work. Reading the plan statistics is
a driver-side constant-time call (unlike ``df.rdd.getNumPartitions()``,
whose plan→RDD conversion costs ~0.1 s per query construction); any
failure to read them (streaming plans, exotic sources) falls back to the
unchanged frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import obs

SCAN_TARGET_BYTES = 96 << 10
"""Stat-bytes per repartition target partition (96 KB parquet ≈ one
task-worth of decompressed map work)."""

_NATURAL_SPLIT_BYTES = 128 << 20  # default spark.sql.files.maxPartitionBytes


def scan_parallel(df: DataFrame) -> DataFrame:
    """Repartition ``df`` toward the session's core count IF its optimizer
    size estimate says the scan cannot have enough natural splits;
    otherwise return it unchanged (see module docstring). Row-level
    semantics are unaffected: every caller is an aggregate / filter /
    per-row projection whose result is partitioning-independent, and
    round-robin repartition is deterministic under Spark's
    sort-before-repartition default. Records a ``scan_valve`` event whose
    ``partitions`` is None when the frame is returned unchanged."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts scala.math.BigInt to int for values in long range;
        # very large estimates may surface as a JavaObject — stringify then
        size = raw if isinstance(raw, int) else int(str(raw))
    except Exception:
        size = cores * _NATURAL_SPLIT_BYTES  # unknown: leave the frame as it is
    want = min(2 * cores, -(-size // SCAN_TARGET_BYTES))
    # a big input's natural splits cover the cores; an exchange into <= 2
    # partitions does not pay for itself
    if size >= cores * _NATURAL_SPLIT_BYTES or want <= 2:
        want = None
    obs.event("scan_valve", partitions=want)
    return df if want is None else df.repartition(want)
