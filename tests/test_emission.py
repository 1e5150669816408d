"""Weights-on-disk emission provider (core/emission.py): checkpoint load
path, per-process singleton, batch≡scalar identity, Spark parity, and the
cascade differential vs the reference driven by npz emissions.

This is the engine's analog of the reference's checkpoint load
(ner/infer.py:141-147) — the one real-user path the hash stub never
exercised (VERDICT r2 #1).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from x5_ner_spark.core import emission
from x5_ner_spark.core.mention_pipeline import final_mention_spans_batch
from x5_ner_spark.core.numeric import tokenize_with_offsets
from x5_ner_spark.core.textnorm import norm_token_simple

TEXTS = [
    "молоко простоквашино 3.2% две упаковки",
    "сок santa затем хлеб барни",
    "greenfield чай 100 пакетиков",
    "",
    "вода",
]


@pytest.fixture()
def ckpt(tmp_path):
    p = str(tmp_path / "emission.npz")
    emission.write_npz_checkpoint(p, seed=7)
    return p


def test_single_load_per_process_and_mtime_reload(ckpt):
    a = emission.provider_for(ckpt)
    b = emission.provider_for(ckpt)
    assert a is b
    assert emission.load_count(ckpt) == 1
    # new mtime → exactly one reload
    os.utime(ckpt, (os.path.getmtime(ckpt) + 10, os.path.getmtime(ckpt) + 10))
    c = emission.provider_for(ckpt)
    assert c is not a and emission.load_count(ckpt) == 2


def test_batch_equals_scalar(ckpt):
    prov = emission.provider_for(ckpt)
    keys = [(norm_token_simple(w), i > 0)
            for t in TEXTS for i, (_, s, e) in enumerate(tokenize_with_offsets(t))
            for w in [t[s:e]]]
    batch = prov.batch_probabilities(keys)
    for k, row in zip(keys, batch):
        single = prov.batch_probabilities([k])[0]
        assert np.array_equal(row, single), k
    # probabilities: rows sum to 1, deterministic across calls
    assert np.allclose(batch.sum(axis=1), 1.0)
    assert np.array_equal(batch, prov.batch_probabilities(keys))


def test_checkpoint_determinism(tmp_path):
    p1, p2 = str(tmp_path / "a.npz"), str(tmp_path / "b.npz")
    emission.write_npz_checkpoint(p1, seed=7)
    emission.write_npz_checkpoint(p2, seed=7)
    k = [("молоко", False), ("santa", True)]
    assert np.array_equal(
        emission.NpzMlpProvider(p1).batch_logits(k),
        emission.NpzMlpProvider(p2).batch_logits(k),
    )
    p3 = str(tmp_path / "c.npz")
    emission.write_npz_checkpoint(p3, seed=8)
    assert not np.array_equal(
        emission.NpzMlpProvider(p1).batch_logits(k),
        emission.NpzMlpProvider(p3).batch_logits(k),
    )


def test_provider_cascade_matches_manual_path(ckpt):
    """final_mention_spans_batch(provider=...) ≡ computing the provider's
    probabilities per word and running the cascade + postprocess by hand —
    the provider changes ONLY the emission surface."""
    from x5_ner_spark.core.cascade import decide_word_labels
    from x5_ner_spark.core.postprocess import postprocess

    prov = emission.provider_for(ckpt)
    lex = frozenset({"барни", "santa"})
    got = final_mention_spans_batch(TEXTS, lex, sorted(lex), provider=prov)
    for t, spans in zip(TEXTS, got):
        if not t or not t.strip():
            assert spans == []
            continue
        words = [(s, e) for _, s, e in tokenize_with_offsets(t)]
        keys = [(norm_token_simple(t[s:e]), i > 0) for i, (s, e) in enumerate(words)]
        probs = [tuple(float(x) for x in r) for r in prov.batch_probabilities(keys)]
        raw = decide_word_labels(t, words, probs, lex, sorted(lex))
        assert spans == (postprocess(t, raw) if raw else []), repr(t)
    # and the stub path is untouched (separate caches): stub ≠ npz in general
    stub = final_mention_spans_batch(TEXTS, lex, sorted(lex))
    assert stub == final_mention_spans_batch(TEXTS, lex, sorted(lex))


def test_spark_udf_parity_and_per_worker_single_load(spark, tmp_path):
    """The fused Arrow stage over many partitions: row-identical to the
    triples of the local batch kernel's spans, and the .loads audit shows
    exactly ONE load per worker process (workers are reused across
    partitions — the singleton held)."""
    from x5_ner_spark.core.mention_pipeline import triples_from_spans
    from x5_ner_spark.pipeline.fused import fused_triples

    p = str(tmp_path / "spark_emission.npz")
    emission.write_npz_checkpoint(p, seed=7)
    rows = [(f"u{i}", None, TEXTS[i % len(TEXTS)] + f" вариант {i}") for i in range(200)]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string"
    ).repartition(8)
    lex = frozenset({"барни", "santa"})
    got = sorted(tuple(r) for r in fused_triples(pages, lex, emission_npz=p).collect())
    prov = emission.provider_for(p)
    want_spans = final_mention_spans_batch(
        [t for _, _, t in rows], lex, sorted(lex), provider=prov,
    )
    want = sorted(
        (*t, url)
        for (url, _, text), spans in zip(rows, want_spans)
        for t in triples_from_spans(url, text, spans)
    )
    assert got == want and len(want) > 100

    with open(p + ".loads") as f:
        pids = [ln.strip() for ln in f if ln.strip()]
    # one of the loads is the driver's (prov above); executor workers each
    # loaded at most once: total events == distinct pids
    assert len(pids) == len(set(pids)), pids
    assert len(pids) >= 2  # driver + at least one executor worker


def test_cascade_differential_with_npz_emissions(tmp_path):
    """The reference's full decision loop driven by NPZ emissions (fake
    tokenizer/model inject the provider's probabilities) must match our
    cascade on the same probabilities byte-for-byte — provider swap does not
    disturb decision parity."""
    from tests.conftest import has_reference, load_reference_module
    from tests.test_decision_log import LEX, _Out, _FakeTokenizer
    from tests.test_fuzz_differential import gen_texts
    from x5_ner_spark.core.cascade import decide_word_labels

    if not has_reference():
        pytest.skip("reference repo not present")

    p = str(tmp_path / "diff_emission.npz")
    emission.write_npz_checkpoint(p, seed=7)
    prov = emission.provider_for(p)

    class _NpzFakeModel:
        text = None

        def __call__(self, input_ids, attention_mask=None):
            toks = tokenize_with_offsets(self.text)
            keys = [(norm_token_simple(t), i > 0) for i, (t, _, _) in enumerate(toks)]
            probs = prov.batch_probabilities(keys)
            return _Out(probs[None, :, :] if len(keys) else np.zeros((1, 0, 9)))

    inf = load_reference_module("ner.infer")
    inf.BRAND_LEXICON = set(inf._lex_norm(x) for x in LEX)
    inf.BRAND_LEXICON_LIST = list(inf.BRAND_LEXICON)
    pipe = inf.NERPipeline.__new__(inf.NERPipeline)
    pipe.tokenizer = _FakeTokenizer()
    pipe.model = _NpzFakeModel()

    lex_fs = frozenset(LEX)
    lex_list = sorted(lex_fs)
    n_spans = 0
    for text in gen_texts(200, seed=777):
        pipe.model.text = text
        ref_spans, _, _ = pipe.predict_entities(text)
        words = [(s, e) for _, s, e in tokenize_with_offsets(text)]
        keys = [(norm_token_simple(text[s:e]), i > 0) for i, (s, e) in enumerate(words)]
        probs = [tuple(float(x) for x in r) for r in prov.batch_probabilities(keys)]
        ours = decide_word_labels(text, words, probs, lex_fs, lex_list)
        assert ours == [tuple(x) for x in ref_spans], repr(text)
        n_spans += len(ours)
    assert n_spans > 50  # the sweep exercised real decisions
