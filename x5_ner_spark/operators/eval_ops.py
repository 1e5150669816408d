"""Evaluation operators (SURVEY.md §2.12): set-based TP/FP/FN counters and
P/R/F1 reduction (E1 = J1 + U2 + A3/A4), expressed as plain joins so the
same query is ANSI-SQL-portable (no array columns needed in the shuffle).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prf_counters(gold: DataFrame, pred: DataFrame, keys: list[str], type_col: str) -> DataFrame:
    """gold/pred: (keys..., type_col) distinct membership tables.
    TP = in both, FP = pred only, FN = gold only; grouped by type.

    One union + two aggregations (r9): the previous shape ran two
    side-distincts, an inner join, two left-anti joins, a type union, and
    three lookup joins — eight exchanges of the same membership rows. The
    union tags each row with its side; the first groupBy (on keys+type)
    both deduplicates within a side and computes membership flags; the
    second reduces per type. Identical counters (every type present on
    either side appears, zero-filled by the sums), ~half the wall time at
    sf1.0, and two map-side-combinable shuffles at any scale.

    NULLs follow the oracle's ``DISTINCT`` + ``JOIN … USING`` semantics: a
    row with a NULL key or type never matches the other side, so a NULL
    key present on both sides is one FP and one FN, not a TP (the side tag
    joins the grouping key of such rows only; equal NULL rows of one side
    still collapse, as under DISTINCT). A NULL type is listed with zero
    counters, as the oracle's per-type LEFT JOINs on type leave it."""
    on = keys + [type_col]
    u = gold.select(*on).withColumn("_g", F.lit(1)).withColumn(
        "_p", F.lit(0)
    ).unionByName(
        pred.select(*on).withColumn("_g", F.lit(0)).withColumn("_p", F.lit(1))
    )
    has_null = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in on])
    m = u.groupBy(*on, F.when(has_null, F.col("_g")).alias("_side")).agg(
        F.max("_g").alias("_ig"), F.max("_p").alias("_ip")
    )
    ig, ip = F.col("_ig") == 1, F.col("_ip") == 1
    typed = F.col(type_col).isNotNull()
    return m.groupBy(type_col).agg(
        F.sum((ig & ip).cast("int")).cast("bigint").alias("tp"),
        F.sum((ip & ~ig & typed).cast("int")).cast("bigint").alias("fp"),
        F.sum((ig & ~ip & typed).cast("int")).cast("bigint").alias("fn"),
    )


def prf_metrics(counters: DataFrame, type_col: str) -> DataFrame:
    """A4: precision/recall/F1 per type, 0.0 on empty denominators
    (ref eval_submission_on_train.py:114-131), appended to the counters."""
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    p = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    r = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return counters.select(
        "*",
        F.round(p, 4).alias("precision"),
        F.round(r, 4).alias("recall"),
        F.round(f1, 4).alias("f1"),
    )


# ---------------------------------------------------------------- E3

def error_buckets(
    gold_ents: DataFrame, pred_ents: DataFrame, id_col: str = "doc_id",
) -> DataFrame:
    """E3 (ref scripts/diff_analyser.py:30-91): bucket prediction errors per
    entity — exact TP, type swap (same boundaries, different type), boundary
    shift (same type, overlapping, different boundaries), plain FP / FN.
    Inputs: (id_col, start, end, etype) entity tables."""
    # gold/pred often share lineage (same extraction plan) — rename the join
    # key on each side so every equi-join below is an unambiguous column
    # reference, not a dataset-id-disambiguated self-join predicate
    g = gold_ents.select(F.col(id_col).alias("gid"), F.col("start").alias("gs"),
                         F.col("end").alias("ge"), F.col("etype").alias("gt"))
    p = pred_ents.select(F.col(id_col).alias("pid"), F.col("start").alias("ps"),
                         F.col("end").alias("pe"), F.col("etype").alias("pt"))
    same_doc = F.col("gid") == F.col("pid")

    exact = (g.join(p, same_doc & (F.col("gs") == F.col("ps"))
                    & (F.col("ge") == F.col("pe")) & (F.col("gt") == F.col("pt")))
             .select(F.col("gid").alias("doc"), F.lit("exact_match").alias("bucket"),
                     F.col("gt").alias("etype")))
    swap = (g.join(p, same_doc & (F.col("gs") == F.col("ps"))
                   & (F.col("ge") == F.col("pe")) & (F.col("gt") != F.col("pt")))
            .select(F.col("gid").alias("doc"), F.lit("type_swap").alias("bucket"),
                    F.col("gt").alias("etype")))
    shift = (g.join(p, same_doc & (F.col("gt") == F.col("pt"))
                    & (F.col("gs") < F.col("pe")) & (F.col("ge") > F.col("ps"))
                    & ((F.col("gs") != F.col("ps")) | (F.col("ge") != F.col("pe"))))
             .select(F.col("gid").alias("doc"), F.lit("boundary_shift").alias("bucket"),
                     F.col("gt").alias("etype")))
    # FN: gold with no overlapping same-doc pred at all; FP symmetric
    any_overlap = (g.join(p, same_doc & (F.col("gs") < F.col("pe"))
                          & (F.col("ge") > F.col("ps")), "left_semi"))
    fn = (g.exceptAll(any_overlap)
          .select(F.col("gid").alias("doc"), F.lit("false_negative").alias("bucket"),
                  F.col("gt").alias("etype")))
    any_overlap_p = (p.join(g, same_doc & (F.col("gs") < F.col("pe"))
                            & (F.col("ge") > F.col("ps")), "left_semi"))
    fp = (p.exceptAll(any_overlap_p)
          .select(F.col("pid").alias("doc"), F.lit("false_positive").alias("bucket"),
                  F.col("pt").alias("etype")))
    return (exact.unionByName(swap).unionByName(shift).unionByName(fn).unionByName(fp)
            .groupBy("bucket", "etype").agg(F.count(F.lit(1)).alias("n")))
