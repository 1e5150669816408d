"""Training-data preparation: sequence packing into fixed token budgets
and the deterministic per-source training-mix sampler. Both are map-only or
keyed by the group, and a pure function of the data."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import portable_hash32


def pack_documents(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
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
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast("long")
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


MIX_SEED = 42
"""Salt of ``mix_sample``'s keep hash."""


def mix_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-mix sampler: per-source deterministic Bernoulli sampling at
    the given fractions — how a 100 TB corpus is downweighted into a
    training mixture (e.g. {'web': 0.1, 'wiki': 1.0}). The keep decision is
    a pure hash of (id, ``MIX_SEED``), so it is reproducible across runs, engines
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
                F.concat(F.col(id_col).cast("string"), F.lit(f"#mix{MIX_SEED}"))
            ) % million < thresh
        )
        expr = cond if expr is None else (expr | cond)
    return docs.filter(expr if expr is not None else F.lit(False))
