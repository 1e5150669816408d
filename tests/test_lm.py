"""Bigram-LM perplexity scoring (operators/lm.py) — parity against a pure
python reference, held-out/unseen behavior, and determinism of the
quantized facet value."""

from __future__ import annotations

import math

import pytest

from x5_ner_spark.operators import lm

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat"),
    (3, "a dog sat on a log"),
    (4, "zzz unique tokens here"),
    (5, "the the the the"),
]


def _py_model(texts):
    bg_counts: dict[tuple[str, str], int] = {}
    ctx_counts: dict[str, int] = {}
    vocab = set()
    for t in texts:
        toks = [w for w in t.lower().split(" ") if w]
        prev = lm.BOS
        for w in toks:
            bg_counts[(prev, w)] = bg_counts.get((prev, w), 0) + 1
            ctx_counts[prev] = ctx_counts.get(prev, 0) + 1
            vocab.add(w)
            prev = w
    return bg_counts, ctx_counts, len(vocab)


def _py_nll(text, bg_counts, ctx_counts, v):
    """(nll, ppl) exactly as the operator defines them: ppl is exp of the
    UNROUNDED nats/token mean, each rounded to 4 decimals independently."""
    toks = [w for w in text.lower().split(" ") if w]
    total_u = 0
    prev = lm.BOS
    for w in toks:
        c_bg = bg_counts.get((prev, w), 0)
        c_ctx = ctx_counts.get(prev, 0)
        lp_u = round(math.log(c_bg + 1) * 1e6) - round(math.log(c_ctx + v) * 1e6)
        total_u += lp_u
        prev = w
    mean = -total_u / len(toks) / 1e6
    return round(mean, 4), round(math.exp(mean), 4)


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_self_scored_nll_matches_python(spark, docs_df):
    got = {r["doc_id"]: r for r in lm.lm_perplexity(docs_df).collect()}
    bg, ctx, v = _py_model([t for _, t in DOCS])
    assert v == len({w for _, t in DOCS for w in t.lower().split() if w})
    for doc_id, text in DOCS:
        want_nll, want_ppl = _py_nll(text, bg, ctx, v)
        assert got[doc_id]["nll"] == pytest.approx(want_nll, abs=0)
        assert got[doc_id]["ppl"] == pytest.approx(want_ppl, abs=0)
        assert got[doc_id]["n_tokens"] == len(text.split())


def test_repetitive_doc_scores_lower_than_rare(spark, docs_df):
    got = {r["doc_id"]: r["nll"] for r in lm.lm_perplexity(docs_df).collect()}
    # "the the the the" is maximally predictable; doc 4 is all-unique tokens
    assert got[5] < got[4]


def test_held_out_unseen_tokens_score_finite(spark, docs_df):
    bg, ctx, v = lm.train_bigram_lm(docs_df)
    held = spark.createDataFrame(
        [(99, "entirely novel vocabulary never seen")], ["doc_id", "text"]
    )
    rows = lm.score_bigram_nll(held, bg, ctx, v).collect()
    assert len(rows) == 1
    # first token: prev = BOS (a SEEN context, c_ctx = n_docs); the rest:
    # unseen context and unseen bigram -> p = 1/V
    py_bg, py_ctx, py_v = _py_model([t for _, t in DOCS])
    want_nll, _ = _py_nll("entirely novel vocabulary never seen", py_bg, py_ctx, py_v)
    assert rows[0]["nll"] == pytest.approx(want_nll, abs=0)


def test_empty_and_blank_docs_dropped(spark):
    df = spark.createDataFrame([(1, "a b"), (2, ""), (3, "   ")], ["doc_id", "text"])
    got = lm.lm_perplexity(df).collect()
    assert {r["doc_id"] for r in got} == {1}


def test_deterministic_across_partitionings(spark, docs_df):
    a = sorted(lm.lm_perplexity(docs_df).collect())
    b = sorted(lm.lm_perplexity(docs_df.repartition(7, "doc_id")).collect())
    assert a == b
