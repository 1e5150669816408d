"""Native (Catalyst-visible) span algebra over array<struct<start,end,tag>>
columns — the zero-Python versions of SURVEY.md §2.2/2.4/2.5/2.7 row-level
operators. Where the reference's policy is an order-dependent sequential
fold (M3, W6) we keep the Arrow UDF (span_udfs.py); everything here is pure
Column expressions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def has_tag_suffix(spans: Column | str, suffix: str) -> Column:
    """P2: row predicate — any span tag ends with ``suffix``
    (ref improved_preprocessing.py:141-142)."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.exists(c, lambda s: s["tag"].endswith(suffix))


def drop_tag(spans: Column | str, tag: str = "O") -> Column:
    """P4: element filter — remove spans with the given tag
    (ref scripts/remove_o_spans.py:8-9)."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.filter(c, lambda s: s["tag"] != tag)


def span_length_sum(spans: Column | str, tag_suffix: str) -> Column:
    """P5/A7: Σ (end-start) over spans whose tag ends with suffix
    (ref scripts/process_submission.py:27-36)."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.aggregate(
        F.filter(c, lambda s: s["tag"].endswith(tag_suffix)),
        F.lit(0),
        lambda acc, s: acc + (s["end"] - s["start"]),
    )


def sorted_distinct(spans: Column | str) -> Column:
    """A9/U3/O2: sorted(set(spans)) by (start, end, tag) — struct ordering is
    field-order lexicographic (ref ner/utils.py:79,87)."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.array_sort(F.array_distinct(c))


def explode_spans(df: DataFrame, spans_col: str = "spans", id_col: str = "doc_id") -> DataFrame:
    """Nested → exploded span table (doc_id, start, end, tag) for windowed
    BIO merging at corpus scale."""
    return df.select(
        F.col(id_col), F.posexplode(spans_col).alias("pos", "sp")
    ).select(
        id_col, "pos",
        F.col("sp.start").alias("start"),
        F.col("sp.end").alias("end"),
        F.col("sp.tag").alias("tag"),
    )


def bio_merge_windowed(exploded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """W2 as gaps-and-islands over an exploded span table — the fully
    distributed BIO chain merge (same semantics as core.spans.bio_to_entities
    pre-sorted variant, eval_submission_on_train.py:22-76):

    new_island = tag=='O' OR tag starts with 'B' OR etype != lag(etype)
                 OR start > lag(end)  (running max end)
    then groupBy island → (min start, max end, etype).

    One window + one aggregation; partitions by document so a 10^12-doc
    corpus shuffles only on (doc) keys.

    Precondition: spans within a document are non-overlapping (true for the
    engine's post-processed mention output, which is sorted+collapsed). With
    overlapping spans the running-max island test can merge across an island
    the reference's sequential fold would split — for those apply the exact
    per-row ``core.spans.bio_to_entities`` (arrays are small within one
    document).
    """
    w = Window.partitionBy(id_col).orderBy("start", "end")
    e = exploded.withColumn(
        "etype",
        F.when(
            F.col("tag").contains("-"), F.substring_index("tag", "-", -1)
        ).otherwise(F.col("tag")),
    ).withColumn("bi", F.when(F.col("tag").contains("-"), F.substring_index("tag", "-", 1)).otherwise(F.lit("B")))
    e = e.withColumn("prev_etype", F.lag("etype").over(w)).withColumn(
        "run_end", F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    e = e.withColumn(
        "new_island",
        (
            (F.col("tag") == "O")
            | (F.col("bi") == "B")
            | (F.col("prev_etype").isNull())
            | (F.col("prev_etype") != F.col("etype"))
            | (F.col("start") > F.col("run_end"))
        ).cast("int"),
    ).withColumn("island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    ents = (
        e.filter(F.col("tag") != "O")
        .groupBy(id_col, "island")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.first("etype").alias("etype"),
        )
        .drop("island")
    )
    return ents


def overwrite_spans_for_keys(
    submission: DataFrame, ruleset_keys: DataFrame, key: str = "sample",
    text_col: str = "sample", spans_col: str = "spans",
) -> DataFrame:
    """J4 (ref scripts/update_submission_rules.py:29-56): rows whose key is in
    the ruleset get their annotation overwritten with a single full-length
    'O' span [(0, len(text), 'O')]. Broadcast left join + conditional
    rewrite — no Python."""
    marked = submission.join(
        F.broadcast(ruleset_keys.select(F.col(key)).distinct().withColumn("_hit", F.lit(1))),
        key,
        "left",
    )
    o_span = F.array(
        F.struct(
            F.lit(0).alias("start"),
            F.length(F.col(text_col)).cast("int").alias("end"),
            F.lit("O").alias("tag"),
        )
    )
    return marked.withColumn(
        spans_col, F.when(F.col("_hit") == 1, o_span).otherwise(F.col(spans_col))
    ).drop("_hit")
