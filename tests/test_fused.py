"""The fused single-Arrow-stage path must be row-identical to the driver
oracle (``core`` text extraction, mention detection and triples per page)."""

from __future__ import annotations

import pytest

from x5_ner_spark.core.html_text import extract_text
from x5_ner_spark.core.mention_pipeline import extract_triples
from x5_ner_spark.pipeline import fused
from x5_ner_spark.pipeline.fixtures import BRANDS, generate_pages, pages_df


def test_fused_equals_staged(spark):
    pages = pages_df(spark, 200, sentences=3)
    lex = frozenset(BRANDS)
    oracle = [
        (*t, p["url"])
        for p in generate_pages(200, sentences=3)
        for t in extract_triples(p["url"], extract_text(p["html"]), lex)
    ]
    fast = fused.fused_triples(pages, lex, balance=False)
    a = sorted(oracle)
    b = sorted(tuple(r) for r in fast.collect())
    assert a == b and len(a) > 0


def test_fused_edge_inputs(spark):
    rows = [
        ("u1", None, None, None),
        ("u2", b"", "", "ru"),
        ("u3", "<p>N</p>".encode(), "   ", "ru"),  # whitespace text stays as-is
        ("u4", "<p>X</p>".encode(), "", "ru"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string, lang string")
    out = fused.fused_triples(df, balance=False).collect()
    urls = {r["url"] for r in out}
    assert "u1" not in urls and "u2" not in urls and "u3" not in urls


def test_batch_mention_fn_identical_to_scalar(spark):
    from x5_ner_spark.core.mention_pipeline import (
        final_mention_spans,
        final_mention_spans_batch,
    )
    from x5_ner_spark.core.html_text import extract_text
    from x5_ner_spark.pipeline.fixtures import generate_pages

    lex = frozenset(["простоквашино", "santa"])
    lexl = sorted(lex)
    texts = [extract_text(p["html"]) for p in generate_pages(120, sentences=2)]
    texts += ["", "   ", "молоко 3,2% 1 л"]
    batch = final_mention_spans_batch(texts, lex, lexl, max_words_per_microbatch=7)
    for t, got in zip(texts, batch):
        assert got == final_mention_spans(t, lex, lexl), repr(t)


def test_batch_prob_cache_eviction_keeps_warm_keys(monkeypatch):
    """Regression: a batch mixing warm and cold keys past the cache cap must
    not KeyError — eviction runs once up-front, never between micro-batches."""
    from x5_ner_spark.core import mention_pipeline as mp

    monkeypatch.setattr(mp, "_BATCH_PROB_CACHE", {})
    monkeypatch.setattr(mp, "_BATCH_PROB_CACHE_MAX", 4)
    warm = "молоко простоквашино 3,2%"
    mp.final_mention_spans_batch([warm])  # seed warm entries
    # overflow the cap with many distinct cold tokens while re-using warm ones
    cold_text = " ".join(f"tok{i}x" for i in range(40))
    out = mp.final_mention_spans_batch(
        [warm + " " + cold_text], max_words_per_microbatch=3
    )
    assert out[0] == mp.final_mention_spans(warm + " " + cold_text)


def test_fused_triples_and_log_matches_standalone(spark):
    """One inference pass emits BOTH triple rows and S8 log rows; each half
    is row-identical to its standalone operator (fused_triples /
    operators.decision_log)."""
    from pyspark.sql import functions as F

    from x5_ner_spark.operators.decision_log import decision_log
    from x5_ner_spark.pipeline import fused

    lex = frozenset({"барни", "santa"})
    texts = [
        "молоко простоквашино 3.2% две упаковки",
        "сок santa затем хлеб барни",
        "greenfield чай 100 пакетиков",
        "вода 1 л",
    ]
    pages = spark.createDataFrame(
        [(f"https://s/{i}", None, t) for i, t in enumerate(texts)],
        "url string, html binary, text string",
    )
    combined = fused.fused_triples_and_log(pages, lex).persist()
    trip, log = fused.split_triples_and_log(combined)

    want_trip = sorted(tuple(r) for r in fused.fused_triples(pages, lex).collect())
    assert sorted(tuple(r) for r in trip.collect()) == want_trip and want_trip

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want_log = sorted(
        (f"https://s/{r['doc_id']}",) + tuple(r)[1:]
        for r in decision_log(docs, lex).collect()
    )
    got_log = sorted(tuple(r) for r in log.collect())
    assert got_log == want_log and len(want_log) > 10
    combined.unpersist()


def test_bad_inference_arguments_fail_at_plan_build(spark):
    """A bad ``decode`` or ``long_doc`` is refused when the plan is built,
    by every inference entry point, and without a checkpoint (the chunked
    wrapper that also checks ``long_doc`` only runs on a provider)."""
    from x5_ner_spark.operators.decision_log import decision_log
    from x5_ner_spark.operators.span_udfs import make_mentions_udf

    pages = pages_df(spark, 5)
    docs = spark.createDataFrame([(1, "молоко")], "doc_id long, text string")
    with pytest.raises(ValueError, match="decode"):
        make_mentions_udf(decode="viterbi")
    with pytest.raises(ValueError, match="long_doc"):
        make_mentions_udf(long_doc="windowd")
    with pytest.raises(ValueError, match="long_doc"):
        fused.fused_triples(pages, long_doc="windowd")
    with pytest.raises(ValueError, match="long_doc"):
        fused.fused_triples_and_log(pages, long_doc="windowd")
    with pytest.raises(ValueError, match="long_doc"):
        decision_log(docs, long_doc="windowd")
