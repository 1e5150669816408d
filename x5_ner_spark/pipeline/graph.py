"""Stage 7 — graph materialization with per-partition lineage manifests and
checkpoint-resume (north rule).

Sandbox storage is partitioned parquet with an explicit ``part_id`` bucket
column; on a real cluster the same code targets Iceberg
(``df.writeTo(table).append()``) — the manifest/resume logic is identical
because it keys on (stage, part_id), not on the file layout.

Resume contract: each completed bucket writes one manifest row
(stage, part_id, n_rows, min/max key, wall_s, run_id). ``pending_parts``
anti-joins the manifest — a restarted job processes only missing buckets.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.columns import empty_frame

MANIFEST_SCHEMA = (
    "stage string, part_id int, n_rows long, min_key string, max_key string, "
    "wall_s double, run_id string"
)
_MANIFEST_FIELDS = [f.split(" ") for f in MANIFEST_SCHEMA.split(", ")]


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None. Detection keys on the
    standard ``spark.sql.catalog.<name> = ...iceberg...SparkCatalog`` conf —
    present on any Iceberg-enabled cluster, absent in this sandbox (no
    Iceberg jars baked in), so the parquet layout is the tested default and
    the table path activates only where it can actually run."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for k, v in confs:
        parts = k.split(".")
        if len(parts) == 4 and k.startswith("spark.sql.catalog.") and "iceberg" in str(v).lower():
            return parts[3]
    return None


def _write_stage_iceberg(
    bucketed: DataFrame, catalog: str, namespace: str, stage: str,
    todo: list[int],
) -> None:
    """Iceberg twin of the parquet bucket write: same part_id partitioning,
    same write-then-commit ordering. An Iceberg snapshot commit is atomic,
    but a run can still die in the window AFTER the append snapshot commits
    and BEFORE the manifest row lands — on resume that bucket is re-run, so
    the committed rows of every todo bucket are DELETEd first (partition-
    scoped metadata delete; the parquet layout's part-dir cleanup analog).
    Table existence is checked explicitly — append errors propagate instead
    of being masked as a confusing create() failure."""
    spark = bucketed.sparkSession
    table = f"{catalog}.{namespace}.{stage}"
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
    if spark.catalog.tableExists(table):
        ids = ", ".join(str(int(p)) for p in todo)
        if ids:
            spark.sql(f"DELETE FROM {table} WHERE part_id IN ({ids})")
        bucketed.writeTo(table).append()
    else:
        bucketed.writeTo(table).partitionedBy(F.col("part_id")).create()


def with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Deterministic bucket column (xxhash64 → non-negative mod)."""
    return df.withColumn(
        "part_id", (F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))).cast("int")
    )


def manifest_path(root: str) -> str:
    return os.path.join(root, "_manifests")


def _manifests(spark: SparkSession, root: str) -> DataFrame | None:
    """Every manifest row under ``root``, or None before the first commit.
    One Hadoop glob lists the files, which the reader gets by name: a read
    of the ``_manifests`` dir itself logs "All paths were ignored" (Spark's
    hidden-file rule sees the dir's own leading ``_``), and a read of a
    missing dir logs a stack trace even when the caller catches the error."""
    glob = spark._jvm.org.apache.hadoop.fs.Path(
        os.path.join(manifest_path(root), "*.parquet")
    )
    hits = glob.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(glob)
    if not hits:
        return None
    return spark.read.schema(MANIFEST_SCHEMA).parquet(*(h.getPath().toString() for h in hits))


def read_manifest(spark: SparkSession, root: str, stage: str) -> DataFrame:
    m = _manifests(spark, root)
    return (empty_frame(spark, MANIFEST_SCHEMA) if m is None else m).filter(F.col("stage") == stage)


def complete_stages(
    spark: SparkSession, root: str, prefix: str, n_buckets: int
) -> list[str]:
    """Stages under ``prefix`` whose manifest holds ALL n_buckets rows —
    i.e. rounds that committed completely (a crash mid-write leaves fewer
    manifest rows and the round is treated as absent). Used by the iterative
    operators' reliable-checkpoint resume (CC / PageRank)."""
    m = _manifests(spark, root)
    if m is None:
        return []
    rows = (
        m.filter(F.col("stage").startswith(prefix))
        .groupBy("stage")
        .agg(F.countDistinct("part_id").alias("n"))
        .filter(F.col("n") >= n_buckets)
        .collect()
    )
    return sorted(r["stage"] for r in rows)


def pending_parts(spark: SparkSession, root: str, stage: str, n_buckets: int) -> list[int]:
    done = {r.part_id for r in read_manifest(spark, root, stage).select("part_id").collect()}
    return [p for p in range(n_buckets) if p not in done]


def write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    key: str,
    n_buckets: int = 8,
    run_id: str = "run0",
    catalog: str | None = None,
) -> list[int]:
    """Write ``df`` bucketed by ``key`` into root/stage/part_id=*/ with one
    manifest row per completed bucket. Returns the bucket ids written.

    Buckets are written via partitionBy (one pass over the data); manifests
    are derived from the written output so a manifest row EXISTS only if its
    bucket landed completely (write-then-commit ordering).

    When an Iceberg catalog is configured (auto-detected, or passed via
    ``catalog``), the stage lands in ``<catalog>.<basename(root)>.<stage>``
    through ``writeTo`` instead of raw parquet; manifests and the resume
    anti-join are layout-independent (they key on (stage, part_id)).
    """
    spark = df.sparkSession
    todo = pending_parts(spark, root, stage, n_buckets)
    if not todo:
        return []
    cat = catalog if catalog is not None else iceberg_catalog(spark)
    namespace = os.path.basename(root.rstrip("/")).replace("-", "_") or "kg"
    t0 = time.time()
    bucketed = with_bucket(df, key, n_buckets).filter(F.col("part_id").isin(todo))
    out_path = os.path.join(root, stage)
    if cat:
        _write_stage_iceberg(bucketed, cat, namespace, stage, todo)
        written = spark.read.table(f"{cat}.{namespace}.{stage}").filter(
            F.col("part_id").isin(todo)
        )
    else:
        # crash-consistency: a bucket dir without a manifest row means a
        # prior run died mid-write — clear it before re-appending (Iceberg
        # gets this for free from atomic snapshot commits)
        import shutil

        for p in todo:
            part_dir = os.path.join(root, stage, f"part_id={p}")
            if os.path.isdir(part_dir):
                shutil.rmtree(part_dir, ignore_errors=True)
        bucketed.write.mode("append").partitionBy("part_id").parquet(out_path)
        # explicit schema: a legitimately EMPTY stage (zero rows for this
        # shard) writes only _SUCCESS, and schema inference on that dir
        # throws — the stage's own schema is already known
        written = spark.read.schema(bucketed.schema).parquet(out_path).filter(
            F.col("part_id").isin(todo)
        )
    wall = time.time() - t0
    # at most len(todo) rows come back: one per written bucket
    stats = {
        r["part_id"]: (r["n_rows"], r["min_key"], r["max_key"])
        for r in written.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.col(key).cast("string")).alias("min_key"),
            F.max(F.col(key).cast("string")).alias("max_key"),
        ).collect()
    }
    # EVERY todo bucket gets a manifest row, including legitimately EMPTY
    # ones (n_rows=0): complete_stages requires all n_buckets rows, and a
    # skewed/converged stage (e.g. a CC frontier hashing into few buckets)
    # would otherwise never register as complete — silently disabling
    # resume for exactly the runs that need it
    rows = [
        (stage, int(p), *stats.get(p, (0, None, None)), float(wall), run_id)
        for p in todo
    ]
    # pandas-built, so it plans as a LocalTableScan: a list-built frame is
    # a Python RDD that runs Python workers for a table with no Python logic
    manifest = spark.createDataFrame(
        pd.DataFrame(rows, columns=[name for name, _ in _MANIFEST_FIELDS]),
        MANIFEST_SCHEMA,
    )
    manifest.coalesce(1).write.mode("append").parquet(manifest_path(root))
    return todo


def read_stage(
    spark: SparkSession, root: str, stage: str, catalog: str | None = None,
) -> DataFrame:
    cat = catalog if catalog is not None else iceberg_catalog(spark)
    if cat:
        namespace = os.path.basename(root.rstrip("/")).replace("-", "_") or "kg"
        return spark.read.table(f"{cat}.{namespace}.{stage}")
    return spark.read.parquet(os.path.join(root, stage))
