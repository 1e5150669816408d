"""Learned document-quality classifier — the fastText-shaped stage every
web-corpus curation pipeline runs after the rule filters (GPT-3 / LLaMA /
RedPajama train a linear classifier on hashed bag-of-words features and
keep pages scoring above a threshold). The reference repo has no analog;
this is a beyond-reference addition in the same class as operators/dedup.py
and lm.py, built on the repo's feature-table + distributed-GD pattern
(ctx_train: one expensive featurize pass → persisted feature table →
cheap per-iteration gradient jobs; operators/gradient.py: per-partition
numpy gradient sums, pid-sorted driver reduction).

Training featurizes ONCE with the SAME native Column expression serving
uses (``bucket_set_col``: lower → split → array_distinct → portable-hash →
array_distinct), persists the (buckets, label) table, then iterates
vectorized sparse gradient passes over the bucket arrays (``np.add.at``
scatter — no tokenization, no md5, no Python string work per iteration).
Train/serve feature parity is therefore BY CONSTRUCTION, not by twin-code
discipline; its python twin ``featurize_texts`` lives in the tests.

Features: BINARY hashed unigram presence (dim buckets, md5-based portable
hash — the python twin of functions.columns.portable_hash32, so the numpy
training path and the pure-Column serving path bucket tokens identically).
Binary presence beats L1-normalized counts here by construction: presence
rules (e.g. gopher's "≥1 stopword") have margin 1/n under L1 counts but
margin 1 under presence, and the measured distillation accuracy confirms it
(0.932 = majority under L1 vs 0.994 under presence at dim 2048 on the sf
corpus). Model: logistic regression with L2.

Serving is ZERO-UDF: ``quality_score_col`` folds the learned weight vector
into a native higher-order-function expression (distinct hash buckets →
element_at(weight array literal, bucket), sequential F.aggregate, sigmoid)
— map-only, whole-stage-codegen, no shuffle, no Python on the hot path. At
100 TB the classifier scores pages inside the scan projection exactly like
gopher_filters; the weight array (dim doubles) rides in the plan.

Labels: any (text, label) table. ``gopher_labels`` distills the rule-based
gopher_filters verdict into training rows — the standard bootstrap when no
curated positives exist (swap in Wikipedia-vs-crawl labels at production).
"""

from __future__ import annotations

import hashlib
from functools import partial

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import obs
from ..functions.columns import portable_hash32, simple_tokens_col
from .gradient import gradient_sums, training_set

__all__ = [
    "hash_bucket",
    "bucket_set_col",
    "featurize_table",
    "lexicon_quality_model",
    "gopher_labels",
    "perplexity_labels",
    "fit_quality_classifier",
    "fit_from_features",
    "quality_score_col",
    "score_quality",
    "save_quality_npz",
    "load_quality_npz",
]

L2 = 1e-4
"""L2 penalty of the logistic regression, applied by the driver once per
step."""


def bucket_set_col(
    text_col: str = "text", dim: int = 2048, ngrams: int = 1
) -> Column:
    """Distinct 0-based feature buckets of a text as a native Column:
    lower → whitespace split → distinct tokens → portable-hash bucket →
    distinct buckets. The ONE featurization both training and serving use
    (distinct before hashing: one md5 per distinct token, not per token).

    ``ngrams=2`` adds hashed word-BIGRAM presence (fastText's standard
    lever for order-dependent signals a bag of unigrams can't see):
    adjacent-token pairs joined with a space, bucketed by the same
    portable hash — the python twin is ``hash_bucket("a b", dim)``.
    Bigrams are built with zip_with against the 1-shifted token array (the
    trailing null pair concat-propagates to null and is filtered), so the
    whole featurization stays one Column expression."""
    low = F.lower(text_col)
    toks_d = F.array_distinct(simple_tokens_col(low))
    uni = F.transform(
        toks_d, lambda t: F.pmod(portable_hash32(t), F.lit(dim)).cast("int")
    )
    if ngrams < 2:
        return F.array_distinct(uni)
    toks = simple_tokens_col(low)
    bi_strings = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda s: s.isNotNull(),
    )
    bi = F.transform(
        F.array_distinct(bi_strings),
        lambda s: F.pmod(portable_hash32(s), F.lit(dim)).cast("int"),
    )
    return F.array_distinct(F.concat(uni, bi))


def hash_bucket(token: str, dim: int) -> int:
    """Python twin of ``pmod(portable_hash32(token), dim)`` — first 8 hex
    digits of md5, as the Column helper computes it."""
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:8], 16) % dim


def _loss_and_grads(
    w: np.ndarray, b: float, x: np.ndarray, y: np.ndarray
) -> tuple[float, np.ndarray, float]:
    """Summed (not mean) BCE loss and gradients for one batch; L2 is applied
    by the driver once per step, not per partition (deliberately NOT a
    parameter here — a per-partition l2 term would double-count it).
    Stable via logaddexp."""
    z = x @ w + b
    p = 1.0 / (1.0 + np.exp(-np.clip(z, -500, 500)))
    loss = float(np.sum(np.logaddexp(0.0, z) - y * z))
    r = p - y
    return loss, x.T @ r, float(np.sum(r))


def perplexity_labels(
    docs: DataFrame, text_col: str = "text", keep_frac: float = 0.5
) -> DataFrame:
    """CCNet-shape weak supervision (Wenzek et al. 2020): label 1 for pages
    whose bigram-LM nll (operators/lm) sits at or below the corpus
    ``keep_frac`` quantile — the second, INDEPENDENT labeling source next
    to ``gopher_labels``, so the classifier is not only distilling the very
    rules it is compared against. Threshold is one exact-percentile scalar
    to the driver (swap in percentile_approx at 10^12 docs); the label join
    shuffles on doc_id once, unavoidable since LM scoring itself aggregates
    bigram rows.

    Feature-order caveat, measured on the sf corpus: a bigram-LM signal is
    a function of bigram statistics, so UNIGRAM presence features sit at
    chance against these labels (0.504) while ``ngrams=2`` reaches 0.898 —
    train with ngrams=2 (tests/test_quality_train.py pins both numbers'
    directions)."""
    from . import lm

    # pin the scored table: the percentile scalar and the label join both
    # consume it, and without the pin the bigram-LM train+score pipeline
    # runs TWICE end to end (ADVICE r8). A LAZY localCheckpoint, as in
    # text_stats.tfidf_top_terms, not .persist(): a persisted plan stays in
    # the session's cache manager with nothing to unpersist it, and a later
    # call on the same input would read it. The threshold action below
    # materializes the checkpoint; the returned frame reads its blocks,
    # which are dropped when the plan is GC'd.
    scored = lm.lm_perplexity(
        docs.select("doc_id", F.col(text_col).alias("text"))
    ).localCheckpoint(eager=False)
    thr = scored.select(
        F.expr(f"percentile(nll, {float(keep_frac)!r})")
    ).first()[0]
    return (
        docs.select("doc_id", F.col(text_col).alias("text"))
        .join(scored.select("doc_id", "nll"), "doc_id")
        .select(
            "doc_id",
            "text",
            (F.col("nll") <= F.lit(float(thr))).cast("double").alias("label"),
        )
    )


def lexicon_quality_model(dim: int = 2048, b: float = -0.5) -> tuple[np.ndarray, float]:
    """Deterministic stopword-lexicon weight vector for the driver-facing
    oracle facet: w[bucket(stopword)] = 1.0, else 0. Training itself is not
    SQL-expressible (60 GD iterations), so the oracle pins the SERVING
    expression instead — same quality_score_col path a trained model rides,
    with weights any DuckDB query can reproduce from the lexicon. All
    weights are 0/1 and b is -0.5, so z is exact k - 0.5 arithmetic in both
    engines and the 4-decimal round can never straddle an engine ulp."""
    from .text_stats import EN_STOPWORDS, RU_STOPWORDS

    w = np.zeros(dim, dtype=np.float64)
    for s in EN_STOPWORDS + RU_STOPWORDS:
        w[hash_bucket(s.lower(), dim)] = 1.0
    return w, b


def gopher_labels(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distill the rule filter: (doc_id, text, label) with label = the
    gopher_filters composite keep as 0/1 — weak supervision for the
    classifier. Map-only (text carried through the filter projection, no
    corpus self-join): at 100 TB the labeling pass IS the filter pass."""
    from . import text_stats

    src = docs.select("doc_id", F.col(text_col).alias("text"))
    return text_stats.gopher_filters(src, carry=("text",)).select(
        "doc_id", "text", F.col("keep").cast("double").alias("label")
    )


def _sparse_loss_and_grads(
    w: np.ndarray, b: float, flat: np.ndarray, lens: np.ndarray, y: np.ndarray
) -> tuple[float, np.ndarray, float]:
    """Summed BCE loss and gradients over one batch of bucket-set rows
    (``flat`` = concatenated bucket ids, ``lens`` = per-row set sizes).
    Mathematically ≡ `_loss_and_grads` on the equivalent binary matrix —
    z_i = b + Σ_{k∈buckets_i} w[k] — without materializing (n, dim)."""
    cs = np.concatenate(([0.0], np.cumsum(w[flat])))
    ends = np.cumsum(lens)
    z = b + cs[ends] - cs[ends - lens]
    p = 1.0 / (1.0 + np.exp(-np.clip(z, -500, 500)))
    loss = float(np.sum(np.logaddexp(0.0, z) - y * z))
    r = p - y
    gw = np.zeros(len(w), dtype=np.float64)
    np.add.at(gw, flat, np.repeat(r, lens))
    return loss, gw, float(np.sum(r))


def featurize_table(train: DataFrame, dim: int = 2048, ngrams: int = 1) -> DataFrame:
    """(text, label) → (buckets, label): the one-time featurization pass,
    using the same native ``bucket_set_col`` expression serving uses —
    train/serve feature parity by construction. Map-only; at corpus scale
    write it to storage once and run every fit/experiment against it."""
    return train.select(
        bucket_set_col("text", dim, ngrams).alias("buckets"),
        F.col("label").cast("double").alias("label"),
    )


def fit_quality_classifier(
    train: DataFrame,
    dim: int = 2048,
    iters: int = 80,
    lr: float = 2.0,
    ngrams: int = 1,
) -> tuple[np.ndarray, float]:
    """train(text, label) → (w, b): featurize once (``featurize_table``),
    then ``fit_from_features``."""
    return fit_from_features(
        featurize_table(train, dim, ngrams), dim, iters=iters, lr=lr,
    )


def fit_from_features(
    features: DataFrame,
    dim: int = 2048,
    iters: int = 80,
    lr: float = 2.0,
) -> tuple[np.ndarray, float]:
    """(buckets, label) → (w, b) by full-batch gradient descent over the
    persisted feature table: each iteration is one cheap Spark job
    computing per-partition sparse (loss, grad) sums in numpy inside the
    shared gradient pass (operators/gradient.py) — no tokenization or
    hashing on the iteration path, and no per-row Python: the Arrow
    ListArray's values/offsets ARE the (flat, lens) representation the
    sparse kernel consumes (zero-copy; a
    mapInPandas draft spent ~0.4 s/iteration per 240k rows just looping
    rows to rebuild them). The driver adds partial gradients in sorted-pid
    order (bit reproducible across reruns of one partitioning) and applies
    the update. Gradient traffic per iteration = partitions × (dim + 2)
    doubles — independent of corpus size, the same scaling argument as
    fit_npz_emission."""

    def grad_part(w_snap, b_snap, batches):
        tot_loss, tot_n = 0.0, 0
        acc_w = np.zeros(dim + 1, dtype=np.float64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(0)  # buckets: ListArray
            offs = np.asarray(col.offsets)
            flat = np.asarray(col.values, dtype=np.int64)[offs[0]: offs[-1]]
            lens = np.diff(offs).astype(np.int64)
            y = np.asarray(batch.column(1), dtype=np.float64)
            loss, gw, gb = _sparse_loss_and_grads(w_snap, b_snap, flat, lens, y)
            acc_w[:dim] += gw
            acc_w[dim] += gb
            tot_loss += loss
            tot_n += batch.num_rows
        return (tot_n, tot_loss, acc_w) if tot_n else None

    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    with training_set(features.select("buckets", "label")) as (feats, _):
        for it in range(iters):
            n_total, loss_sum, g = gradient_sums(
                feats, partial(grad_part, w.copy(), b), dim + 1
            )
            g /= float(n_total)
            obs.event("train_loss", trainer="quality", iter=it,
                      loss=loss_sum / n_total + 0.5 * L2 * float(w @ w))
            w = w - lr * (g[:dim] + L2 * w)
            b = b - lr * g[dim]
    return w, b


def quality_score_col(
    w: np.ndarray, b: float, text_col: str = "text", ngrams: int = 1
) -> Column:
    """sigmoid(Σ_{distinct hash buckets} w[bucket] + b) as a native Column:
    the shared ``bucket_set_col`` featurization → element_at into the
    weight-array literal → sequential aggregate. No UDF, no shuffle; the
    whole classifier is one map-side expression (empty docs score
    sigmoid(b))."""
    dim = int(len(w))
    # ONE parser call for the weight-array literal, not 2048 py4j lit()
    # roundtrips: F.lit(list) builds the array element-by-element and costs
    # ~1 s of DRIVER time per query construction at dim 2048 (measured; it
    # dominated the whole sf0.1 scoring job). repr() round-trips doubles
    # exactly and the SQL 'D' suffix parses back to the same bits (verified
    # bitwise vs F.lit incl. denormals), so serving results are unchanged.
    wlit = F.expr("array(" + ",".join(f"{float(v)!r}D" for v in w) + ")")
    z = F.aggregate(
        bucket_set_col(text_col, dim, ngrams),
        F.lit(float(b)),
        lambda a, i: a + F.element_at(wlit, i + 1),
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_quality(
    docs: DataFrame,
    w: np.ndarray,
    b: float,
    text_col: str = "text",
    ngrams: int = 1,
) -> DataFrame:
    """(doc_id, q_score) for every document — the production scoring pass."""
    return docs.select(
        "doc_id", quality_score_col(w, b, text_col, ngrams).alias("q_score")
    )


def save_quality_npz(w: np.ndarray, b: float, path: str, ngrams: int = 1) -> str:
    """The checkpoint carries the featurization arity so serving can never
    silently apply a bigram-trained model with unigram features."""
    np.savez(
        path,
        w=np.asarray(w, dtype=np.float64),
        b=np.float64(b),
        ngrams=np.int64(ngrams),
    )
    return path if path.endswith(".npz") else path + ".npz"


def load_quality_npz(path: str) -> tuple[np.ndarray, float, int]:
    with np.load(path) as z:
        ngrams = int(z["ngrams"]) if "ngrams" in z else 1
        return z["w"].astype(np.float64), float(z["b"]), ngrams
