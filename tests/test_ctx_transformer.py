"""Contextual transformer emission provider (VERDICT r6 #1).

Closes the context-free caveat on the r6 mean-cache numbers: this provider
is a REAL (small) transformer encoder — learned piece/position embeddings,
2 pre-LN multi-head self-attention blocks, relu MLPs, final LN, softmax
head — whose per-word output depends on the WHOLE sequence, served through
the same provider_for swap point as every other checkpoint (ref lifecycle
ner/infer.py:141-189; contextual forward infer.py:178-183).

What these tests pin:
- dispatch + singleton lifecycle through provider_for;
- CONTEXTUALITY: the same word in different contexts gets different rows
  (exactly what invalidates piece-sequence caches);
- determinism/byte-identity: fresh providers and forced cache clears
  reproduce identical tuples; the only cache is keyed by the full text;
- mean-of-covered-pieces aggregation + truncation inherited from the shared
  WordPiece machinery;
- the fused Arrow stage end-to-end under the ctx checkpoint (executor path
  ≡ driver-side numpy, byte-identical decisions).
"""

from __future__ import annotations

import numpy as np
import pytest

from x5_ner_spark.core.ctx_transformer import (
    CtxTransformerProvider,
    write_ctx_checkpoint,
)
from x5_ner_spark.core.emission import load_count, provider_for
from x5_ner_spark.core.mention_pipeline import final_mention_spans_batch

VOCAB = [
    "моло", "##ко", "кефир", "сан", "санта", "##та", "вода",
    "greenfield", "чай", "##й", "ча",
]


@pytest.fixture(scope="module")
def ckpt(tmp_path_factory):
    p = tmp_path_factory.mktemp("ctx") / "ctx_ckpt.npz"
    return write_ctx_checkpoint(str(p), VOCAB, max_len=160)


def test_provider_dispatch_and_singleton(ckpt, tmp_path):
    from x5_ner_spark.core.subword import (
        SubwordEmissionProvider,
        write_subword_checkpoint,
    )

    assert isinstance(provider_for(ckpt), CtxTransformerProvider)
    # a vocab-only checkpoint still routes to the context-free provider
    sw = write_subword_checkpoint(str(tmp_path / "sw.npz"), VOCAB)
    assert isinstance(provider_for(sw), SubwordEmissionProvider)
    assert provider_for(ckpt) is provider_for(ckpt)


def test_outputs_are_contextual(ckpt):
    """THE property that distinguishes this provider: the same word's
    probability row differs by context — so any cache keyed on less than the
    full sequence would be WRONG here, not merely slow."""
    prov = CtxTransformerProvider(ckpt)
    (s1, p1), (s2, p2), (s3, p3) = prov.word_probs_for_texts(
        ["кефир вода", "кефир санта", "кефир"]
    )
    assert s1[0] == s2[0] == s3[0] == (0, 5)  # same word, same span
    # same word, three contexts, three different rows
    assert p1[0] != p2[0] and p1[0] != p3[0] and p2[0] != p3[0]
    # and the difference is real, not float noise
    assert max(abs(a - b) for a, b in zip(p1[0], p2[0])) > 1e-6


def test_no_subcontext_cache_and_text_cache_is_invisible(ckpt):
    """The only cache is keyed by the FULL text (the context); clearing it —
    or forcing a clear before every insert — reproduces identical tuples."""
    prov = CtxTransformerProvider(ckpt)
    assert not hasattr(prov, "_word_mean")  # no piece-sequence cache exists
    texts = ["молоко кефир молоко", "санта вода кефир", "молоко", "санта вода кефир"]
    warm = prov.word_probs_for_texts(texts)
    cached = prov.word_probs_for_texts(texts)
    prov._text_cache.clear()
    cold = prov.word_probs_for_texts(texts)
    assert warm == cached == cold

    prov2 = CtxTransformerProvider(ckpt)
    real_len = dict.__len__

    class AlwaysFull(dict):
        def __len__(self):
            return 1 << 20

    prov2._text_cache = AlwaysFull()
    assert prov2.word_probs_for_texts(texts) == cold
    assert real_len(prov2._text_cache) == 1  # each insert wiped the rest


def test_fresh_provider_byte_identity(ckpt):
    """Two independently-constructed providers (fresh npz loads) produce
    exactly equal python-float tuples — the determinism that makes the
    driver-side oracle and executor path comparable."""
    texts = ["молоко кефир", "санта вода greenfield чай", ""]
    a = CtxTransformerProvider(ckpt).word_probs_for_texts(texts)
    b = CtxTransformerProvider(ckpt).word_probs_for_texts(texts)
    assert a == b


def test_word_probs_are_mean_of_contextual_piece_rows(ckpt):
    """Aggregation parity with the reference (infer.py:217-221): per-word
    prob = mean of its covered pieces' rows — recomputed here from the raw
    forward over the full piece sequence."""
    prov = CtxTransformerProvider(ckpt)
    text = "молоко кефир"
    ((spans, probs),) = prov.word_probs_for_texts([text])
    enc = prov.tokenizer.encode_text(text, prov.max_len)
    ids = [p for _, _, ps in enc for p, _ in ps]
    conts = [c for _, _, ps in enc for _, c in ps]
    rows = prov._forward_piece_probs(ids, conts)
    assert spans == [(0, 6), (7, 12)]
    want0 = rows[0:2].mean(axis=0)  # молоко = моло + ##ко
    want1 = rows[2:3].mean(axis=0)  # кефир = one piece
    assert np.array_equal(np.array(probs[0]), want0)
    assert np.array_equal(np.array(probs[1]), want1)
    # softmax rows are rows of a probability simplex
    assert np.all(rows > 0) and np.allclose(rows.sum(axis=1), 1.0)


def test_truncation_inherited_from_shared_tokenizer(ckpt):
    """max_len truncation semantics are the shared WordPiece machinery's:
    words past the piece budget are never decided (ref infer.py:199-207)."""
    prov = CtxTransformerProvider(ckpt)
    budget = prov.max_len - 2
    text = " ".join(["вода"] * (budget + 3) + ["санта"])
    ((spans, _),) = prov.word_probs_for_texts([text])
    assert len(spans) == budget
    santa_start = text.rindex("санта")
    assert all(e <= santa_start for _, e in spans)


def test_batch_equals_scalar(ckpt):
    prov = provider_for(ckpt)
    texts = ["молоко кефир", "санта вода", "кефир"]
    batch = prov.word_probs_for_texts(texts)
    single = [prov.word_probs_for_texts([t])[0] for t in texts]
    assert batch == single


def test_fused_stage_under_ctx_checkpoint(spark, ckpt):
    """End-to-end through the fused Arrow stage: the executor path under the
    contextual checkpoint reproduces the driver-side cascade byte-for-byte
    (same spans on the same urls), with the singleton load discipline."""
    from x5_ner_spark.core.spans import BIO_TAGS  # noqa: F401 (import check)
    from x5_ner_spark.pipeline import fused
    from x5_ner_spark.pipeline.fixtures import pages_df

    pages = pages_df(spark, 200)
    loads_before = load_count(ckpt)  # earlier tests load driver-side too
    trip = fused.fused_triples(pages, frozenset({"санта"}), emission_npz=ckpt)
    rows = trip.collect()
    assert set(trip.columns) == {"subj", "pred", "obj", "url"}
    assert all(
        r["pred"] in ("is_type", "has_brand", "has_volume", "has_percent")
        for r in rows
    )
    n_workers = int(spark.sparkContext.defaultParallelism)
    assert 1 <= load_count(ckpt) - loads_before <= 2 * n_workers

    # driver-side oracle: same provider class (FRESH instance — not the
    # executor's), same checkpoint, same cascade — the emitted triple
    # multiset must agree exactly with what the Spark stage produced.
    from collections import Counter

    from x5_ner_spark.core.html_text import extract_text
    from x5_ner_spark.core.mention_pipeline import triples_from_spans

    prov = CtxTransformerProvider(ckpt)
    pdf = pages.toPandas()
    texts = [extract_text(h) for h in pdf["html"]]
    spans_driver = final_mention_spans_batch(
        texts, frozenset({"санта"}), ["санта"], provider=prov
    )
    want = Counter()
    for url, text, spans in zip(pdf["url"], texts, spans_driver):
        for subj, pred, obj in triples_from_spans(url, text, spans):
            want[(subj, pred, obj, url)] += 1
    got = Counter((r["subj"], r["pred"], r["obj"], r["url"]) for r in rows)
    assert got == want
