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
    fast = fused.fused_triples(pages, lex)
    a = sorted(oracle)
    b = sorted(tuple(r) for r in fast.collect())
    assert a == b and len(a) > 0
    # the Arrow stage reads its input partitions as they come: storage
    # partitions are already compute-balanced, and a round-robin shuffle
    # before it measurably hurt (BENCH/BASELINE.md r3)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" in plan, plan


def test_fused_edge_inputs(spark):
    rows = [
        ("u1", None, None, None),
        ("u2", b"", "", "ru"),
        ("u3", "<p>N</p>".encode(), "   ", "ru"),  # whitespace text stays as-is
        ("u4", "<p>X</p>".encode(), "", "ru"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string, lang string")
    out = fused.fused_triples(df).collect()
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


def test_bad_inference_arguments_fail_at_plan_build(spark):
    """A bad ``long_doc`` is refused when the plan is built, and without a
    checkpoint (the chunked wrapper that also checks ``long_doc`` only runs
    on a provider)."""
    pages = pages_df(spark, 5)
    with pytest.raises(ValueError, match="long_doc"):
        fused.fused_triples(pages, long_doc="windowd")
