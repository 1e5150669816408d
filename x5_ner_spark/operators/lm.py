"""Distributed n-gram language-model scoring for corpus curation — the
CCNet shape (Wenzek et al. 2020: score every page with an LM trained on the
target domain, then bucket by perplexity). The reference repo has no LM
operator; this is a beyond-reference addition for the 100 TB training-data
pipeline (same class as dedup/ANN in operators/dedup.py, similarity.py).

Model: add-one-smoothed bigram LM over whitespace tokens with a BOS
context, p(cur | prev) = (c(prev,cur) + 1) / (c(prev) + V).  Training is
two groupBy counts (map-side combined, one shuffle each on the bigram key
and the context key); scoring is two left joins back onto the bigram rows
plus one groupBy on doc_id.  No driver-side state beyond the single vocab
scalar (same tiny-reduction class as tfidf_top_terms' n_docs).

Cross-engine determinism (DuckDB oracle facet `lm_nll` in corpus_report):
per-token log-probabilities are quantized to integer micro-nats —
round(ln(k) * 1e6) of INTEGER-valued arguments — before the per-document
sum, so the reduction is order-free bigint addition; only the final
nats/token division + round(4) is floating point, and that is a fixed
sequence of exact-rounded IEEE ops on both engines.

Scale notes (10^12 docs): the bigram-count table is vocabulary² in the
worst case but Zipf-bounded in practice; both count aggregations are
map-side combined so the shuffle carries distinct keys, not token
occurrences. The scoring joins shuffle on (prev, cur) / prev. Nothing
collects rows to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.columns import simple_tokens_col

BOS = "<s>"

__all__ = ["train_bigram_lm", "score_bigram_nll", "lm_perplexity", "BOS"]


def _lnq(x: Column) -> Column:
    """ln(x) quantized to integer micro-nats. x is integer-valued, so both
    engines evaluate ln at the same double and the quantized value is
    deterministic; summing bigints is order-free (unlike summing doubles)."""
    return F.round(F.log(x.cast("double")) * F.lit(1000000.0), 0).cast("long")


def _bigram_rows(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, prev, cur) — one row per token, prev = preceding token or
    BOS. Map-only: the prev lookup is an index-HOF over the token array
    (F.transform's 2-arg lambda receives the 0-based index as arg 2), not a
    lag window — no shuffle, no per-doc ordering assumption."""
    toks = docs.select(
        "doc_id", simple_tokens_col(F.lower(text_col)).alias("toks")
    ).where(F.size("toks") > 0)
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                "toks",
                lambda t, i: F.struct(
                    F.when(i == 0, F.lit(BOS))
                    .otherwise(F.element_at(F.col("toks"), i.cast("int")))
                    .alias("prev"),
                    t.alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))


def train_bigram_lm(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Count model from a training corpus: (bigram_counts[prev, cur, c_bg],
    context_counts[prev, c_ctx], vocab_size V). V = distinct predicted
    tokens (BOS excluded — it is never predicted)."""
    bg = _bigram_rows(docs, text_col)
    bg_counts = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx_counts = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("c_ctx"))
    vocab_size = bg.select("cur").distinct().count()
    return bg_counts, ctx_counts, int(vocab_size)


def score_bigram_nll(
    docs: DataFrame,
    bg_counts: DataFrame,
    ctx_counts: DataFrame,
    vocab_size: int,
    text_col: str = "text",
) -> DataFrame:
    """Per-document NLL (nats/token) and perplexity under the count model.
    Left joins: a bigram or context unseen in training scores with count 0
    (add-one smoothing keeps it finite) — so held-out corpora score without
    special-casing. Returns (doc_id, n_tokens, nll, ppl); nll is the
    deterministic facet value (integer micro-nat sum → one division →
    round 4); ppl = round(exp(nll), 4) is exp of that same quantity."""
    bg = _bigram_rows(docs, text_col)
    scored = (
        bg.join(bg_counts, ["prev", "cur"], "left")
        .join(ctx_counts, ["prev"], "left")
        .select(
            "doc_id",
            (
                _lnq(F.coalesce(F.col("c_bg"), F.lit(0)) + F.lit(1))
                - _lnq(F.coalesce(F.col("c_ctx"), F.lit(0)) + F.lit(int(vocab_size)))
            ).alias("lp_u"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("lp_u").alias("sum_u")
    )
    nll = (
        (-F.col("sum_u").cast("double"))
        / F.col("n_tokens").cast("double")
        / F.lit(1000000.0)
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(nll, 4).alias("nll"),
        F.round(F.exp(nll), 4).alias("ppl"),
    )


def lm_perplexity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Self-scored corpus perplexity (train and score on the same corpus —
    the in-domain CCNet configuration). Boilerplate and template pages land
    at low nll; rare-token noise lands high — the standard curation signal."""
    bg_counts, ctx_counts, v = train_bigram_lm(docs, text_col)
    return score_bigram_nll(docs, bg_counts, ctx_counts, v, text_col)
