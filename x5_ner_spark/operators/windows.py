"""Window / sequential operators (SURVEY.md §2.5): lead-row compare (W1),
gaps-and-islands sessionization (W2 pattern), lag relabel (W3), and
lag-conditioned zeroing (W7 analog) — all native window functions.

Scale note: every window here partitions by a bounded key (user_id) except
the explicitly-global W1/J6 operators, which the reference defines over a
total order (update_rules.py:33-48).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lead_prefix_flags(docs: DataFrame, prefix_len: int = 3) -> DataFrame:
    """W1/J5 (ref scripts/update_rules.py:33-48): order rows by text, compare
    each row's first chars with the NEXT row's. Global total order, made
    explicit with a deterministic tiebreak key."""
    w = Window.orderBy("text", "doc_id")
    return (
        docs.select("doc_id", "text")
        .withColumn("next_text", F.lead("text").over(w))
        .withColumn(
            "prefix_match",
            (
                F.substring("text", 1, prefix_len)
                == F.substring("next_text", 1, prefix_len)
            ).cast("int"),
        )
        .filter(F.col("next_text").isNotNull())
        .select("doc_id", "prefix_match")
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """W2 gaps-and-islands: a new session starts when the gap from the
    previous event of the same user exceeds ``gap_minutes``. Returns per-user
    session stats (classic islands: lag → boundary flag → running sum)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    epoch = F.unix_timestamp(F.col("ts"))  # TIMESTAMP_NTZ-safe (session tz UTC)
    marked = events.select("user_id", "event_id", "ts").withColumn(
        "new_session",
        F.when(epoch - F.lag(epoch).over(w) > gap_s, 1).otherwise(0).cast("int"),
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def lag_relabel(events: DataFrame) -> DataFrame:
    """W3 (BIO-continuity analog, ref infer.py:399-405): per user in time
    order, an event repeating the previous event_type becomes 'I-<type>',
    otherwise 'B-<type>'."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    return events.select(
        "event_id",
        "user_id",
        F.when(prev == F.col("event_type"), F.concat(F.lit("I-"), "event_type"))
        .otherwise(F.concat(F.lit("B-"), "event_type"))
        .alias("bio_type"),
    )


def zero_after_marker(events: DataFrame, marker: str = "error") -> DataFrame:
    """W7 analog (ref postprocess.py:146-175): an event directly after a
    ``marker`` event of the same user is suppressed (value → 0)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    return events.select(
        "event_id",
        "user_id",
        F.when(prev == marker, F.lit(0.0)).otherwise(F.col("value")).alias("value_adj"),
    )


def zip_join(a: DataFrame, b: DataFrame, order_cols: list[str], compare_col: str) -> DataFrame:
    """J6 positional zip (ref scripts/compare_submissions.py:74-111): row i vs
    row i — explicit row_number over a deterministic order, then equi-join."""
    wa = Window.orderBy(*order_cols)
    aa = a.withColumn("rn", F.row_number().over(wa)).select(
        "rn", F.col(compare_col).alias("left_val")
    )
    bb = b.withColumn("rn", F.row_number().over(wa)).select(
        "rn", F.col(compare_col).alias("right_val")
    )
    return aa.join(bb, "rn").withColumn(
        "equal", (F.col("left_val") == F.col("right_val")).cast("int")
    )


def asof_join(
    left: DataFrame, right: DataFrame, key: str, ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join — the temporal operator Spark's DataFrame API lacks: each
    left row picks the LATEST right row with right.ts <= left.ts per key
    (DuckDB/pandas ASOF semantics, inclusive). Implemented as union + keyed
    window with last(ignorenulls) — ONE shuffle on the key, no range
    cross-join, no per-key collect; ties at equal ts resolve right-before-
    left so an exactly-simultaneous right row matches.

    Tie rule (deterministic): among right rows tied on (key, ts), the row
    with the GREATEST (value_cols) tuple wins — the window order carries the
    value struct as a final tiebreaker, so the pick is stable across runs and
    partitionings (without it, last() over an order that leaves ties is
    partition-layout-dependent).
    """
    lt = left.withColumn("_side", F.lit(1))
    rt = right.select(
        key, ts, *[F.col(c).alias(f"_asof_{c}") for c in value_cols]
    ).withColumn("_side", F.lit(0))
    u = lt.unionByName(rt, allowMissingColumns=True)
    tie = F.struct(*[F.col(f"_asof_{c}") for c in value_cols])
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "_side", tie)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the match is picked ATOMICALLY as one struct — per-column
    # last(ignorenulls) would blend columns across tied right rows when the
    # winner holds NULLs, fabricating a row that exists in neither input
    # (DuckDB/pandas ASOF pick a row, nulls and all)
    right_row = F.when(
        F.col("_side") == 0,
        F.struct(
            F.col(ts).alias("_ts"),
            *[F.col(f"_asof_{c}").alias(c) for c in value_cols],
        ),
    )
    u = u.withColumn("_asof_row", F.last(right_row, ignorenulls=True).over(w))
    out = u.filter(F.col("_side") == 1)
    for c in value_cols:
        out = out.withColumn(f"_asof_{c}", F.col("_asof_row")[c])
    out = out.withColumn("_asof_ts", F.col("_asof_row._ts")).drop("_asof_row", "_side")
    renames = {f"_asof_{c}": f"asof_{c}" for c in value_cols}
    for old, new in {**renames, "_asof_ts": "asof_ts"}.items():
        out = out.withColumnRenamed(old, new)
    return out
