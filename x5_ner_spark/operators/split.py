"""U4: exact stratified train/val split with largest-remainder allocation.

Parity target: scripts/split_train_val.py:43-75. Combo label = '+'-joined
sorted set of entity types in the annotation ('NONE' if none). Quotas per
combo use the reference's largest-remainder method (computed on the driver —
the combo table has ≤ 2^4 rows). One documented deviation: the reference
shuffles rows with Python's RNG (not reproducible across a cluster); we
order rows inside each combo by a seeded md5 hash — deterministic,
uniformly random-like, identical on any executor count.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import empty_frame, portable_hash32

ENTITY_TYPES = ("TYPE", "BRAND", "VOLUME", "PERCENT")


def combo_label_col(spans: F.Column | str) -> F.Column:
    """'+'-joined sorted distinct entity types present (ref combo_label)."""
    c = F.col(spans) if isinstance(spans, str) else spans
    types = F.transform(
        F.filter(
            c,
            lambda s: (s["tag"] != "O")
            & s["tag"].isNotNull()
            & F.substring_index(s["tag"], "-", -1).isin(*ENTITY_TYPES),
        ),
        lambda s: F.substring_index(s["tag"], "-", -1),
    )
    joined = F.array_join(F.array_sort(F.array_distinct(types)), "+")
    return F.when(F.length(joined) == 0, F.lit("NONE")).otherwise(joined)


def largest_remainder_quotas(sizes: dict[str, int], val_size: float | int) -> dict[str, int]:
    """ref alloc_counts_per_group (split_train_val.py:43-56)."""
    n_total = sum(sizes.values())
    if n_total == 0:
        return {g: 0 for g in sizes}
    target = float(val_size) * n_total if isinstance(val_size, float) else float(val_size)
    frac = {g: sizes[g] * target / n_total for g in sizes}
    base = {g: int(frac[g]) for g in sizes}
    rem = {g: frac[g] - base[g] for g in sizes}
    need = int(round(target)) - sum(base.values())
    for g, _ in sorted(rem.items(), key=lambda kv: kv[1], reverse=True)[: max(0, need)]:
        base[g] += 1
    return {g: min(base[g], sizes[g]) for g in sizes}


def stratified_split(
    df: DataFrame, spans_col: str = "spans", val_size: float | int = 0.2,
    seed: int = 42, key_col: str = "sample",
) -> DataFrame:
    """Adds (combo, split) columns; split ∈ {'train','val'} with exact
    per-combo val quotas. Two narrow shuffles: the tiny combo count and one
    window over combo partitions."""
    labeled = df.withColumn("combo", combo_label_col(spans_col))
    sizes = {r["combo"]: r["n"] for r in labeled.groupBy("combo").agg(F.count(F.lit(1)).alias("n")).collect()}
    quotas = largest_remainder_quotas(sizes, val_size)
    spark, schema = labeled.sparkSession, "combo string, quota long"
    quota_df = (  # pandas-built: a LocalTableScan, not a Python RDD
        spark.createDataFrame(pd.DataFrame(quotas.items(), columns=["combo", "quota"]), schema)
        if quotas else empty_frame(spark, schema)
    )
    w = Window.partitionBy("combo").orderBy(
        portable_hash32(F.concat(F.col(key_col).cast("string"), F.lit(f"#seed{seed}"))),
        F.col(key_col),
    )
    return (
        labeled.join(F.broadcast(quota_df), "combo")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("split", F.when(F.col("rn") <= F.col("quota"), "val").otherwise("train"))
        .drop("rn", "quota")
    )


def pack_documents(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    count_col: str | None = None,
) -> DataFrame:
    """Sequence packing — assign documents to fixed-token-budget training
    packs (the standard LLM-pretraining batching step): within each
    ``group_col`` stream, documents are laid out contiguously in ``id_col``
    order and ``pack_id = floor(start_offset / budget)``, i.e. packs are
    budget-aligned windows over the cumulative token stream. Deterministic
    (pure function of the data), exact-oracle-able, and the window is keyed
    by the group — no global sort; at 100 TB group_col is (source, shard).
    A document longer than the budget spans packs by construction and gets
    the pack its start falls into (documented greedy-contiguous semantics;
    ``spans_packs`` marks it). Emits (id, group, n_tokens, offset, pack_id,
    spans_packs)."""
    n_tok = (
        F.col(count_col)
        if count_col
        else F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    ).cast("long")
    d = docs.select(
        F.col(id_col), F.col(group_col).alias("group"), n_tok.alias("n_tokens")
    )
    w = Window.partitionBy("group").orderBy(id_col)
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        d.withColumn("offset", (cum - F.col("n_tokens")))
        .withColumn("pack_id", F.floor(F.col("offset") / budget_tokens))
        .withColumn(
            "spans_packs",
            (F.floor((F.col("offset") + F.col("n_tokens") - 1) / budget_tokens)
             > F.col("pack_id")),
        )
    )


def mix_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Training-mix sampler: per-source deterministic Bernoulli sampling at
    the given fractions — how a 100 TB corpus is downweighted into a
    training mixture (e.g. {'web': 0.1, 'wiki': 1.0}). The keep decision is
    a pure hash of (id, seed), so it is reproducible across runs, engines
    (md5-based portable_hash32), partitionings and resumes — no RNG state,
    no sampleBy nondeterminism. Map-only: the filter rides the scan;
    unlisted sources drop (explicit mixture contract). Fraction granularity
    is 1e-6."""
    million = 1_000_000
    expr = None
    for src, frac in sorted(fractions.items()):
        thresh = int(round(min(max(frac, 0.0), 1.0) * million))
        cond = (F.col(source_col) == src) & (
            portable_hash32(
                F.concat(F.col(id_col).cast("string"), F.lit(f"#mix{seed}"))
            ) % million < thresh
        )
        expr = cond if expr is None else (expr | cond)
    return docs.filter(expr if expr is not None else F.lit(False))
