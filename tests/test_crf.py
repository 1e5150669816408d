"""CRF Viterbi decode: brute-force path-enumeration oracle, padded-batch ≡
per-sequence identity, BIO-structure sanity of the stub prior, and the
distributed bounded-window decode against a driver-side recompute."""

from __future__ import annotations

import itertools

import numpy as np

from x5_ner_spark.core.crf import stub_crf_params, viterbi_decode, viterbi_decode_batch


def brute_force(em, start, trans, end):
    T, C = em.shape
    best, best_score = None, -np.inf
    for path in itertools.product(range(C), repeat=T):
        s = start[path[0]] + em[0, path[0]]
        for t in range(1, T):
            s += trans[path[t - 1], path[t]] + em[t, path[t]]
        s += end[path[-1]]
        if s > best_score:
            best, best_score = list(path), s
    return best


def test_viterbi_matches_brute_force():
    rng = np.random.RandomState(11)
    C = 4
    for trial in range(200):
        T = rng.randint(1, 6)
        em = rng.randn(T, C)
        start, trans, end = rng.randn(C), rng.randn(C, C), rng.randn(C)
        got = viterbi_decode(em, start, trans, end)
        want = brute_force(em, start, trans, end)
        assert got == want, (trial, got, want)


def test_batch_identical_to_scalar():
    rng = np.random.RandomState(5)
    C = 9
    start, trans, end = stub_crf_params(C)
    seqs = [rng.randn(rng.randint(1, 12), C) for _ in range(40)] + [np.zeros((0, C))]
    batch = viterbi_decode_batch(seqs, start, trans, end)
    for s, got in zip(seqs, batch):
        if len(s) == 0:
            assert got == []
        else:
            assert got == viterbi_decode(s, start, trans, end)


def test_stub_prior_enforces_bio_structure():
    """With the stub transitions, decoded paths never open an entity with
    I-X or continue I-X after a different base."""
    from x5_ner_spark.core.spans import BIO_TAGS

    rng = np.random.RandomState(3)
    start, trans, end = stub_crf_params()
    for _ in range(100):
        em = rng.randn(8, len(BIO_TAGS)) * 0.5  # weak emissions → prior rules
        path = [BIO_TAGS[i] for i in viterbi_decode(em, start, trans, end)]
        prev = "O"
        for tag in path:
            if tag.startswith("I-"):
                assert prev.endswith(tag[2:]) and prev != "O", path
            prev = tag


def test_crf_decode_tokens_matches_driver_side(spark):
    """crf_decode_tokens (the r7 driver-oracle query's operator): the
    distributed bounded-window decode must reproduce a driver-side
    per-document recompute exactly — tokenize, stub softmax emissions,
    stub-CRF Viterbi — including the t_max truncation and empty-doc drop."""
    from x5_ner_spark.core.crf import stub_crf_params, viterbi_decode
    from x5_ner_spark.core.numeric import tokenize_with_offsets
    from x5_ner_spark.core.spans import BIO_TAGS
    from x5_ner_spark.core.stub_model import batch_probabilities
    from x5_ner_spark.core.textnorm import norm_token_simple
    from x5_ner_spark.operators.crf_decode import crf_decode_tokens

    texts = [
        "молоко простоквашино 3,2% 1 л отличное свежее вкусное полезное",
        "hello spark data batch engine",
        "",
        "сок",
        "one two three four five six seven eight nine ten",  # > t_max words
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["wid"]): (r["token_text"], r["label"])
        for r in crf_decode_tokens(df, t_max=8).collect()
    }
    start, trans, end = stub_crf_params()
    want = {}
    for did, t in enumerate(texts):
        toks = tokenize_with_offsets(t)[:8]
        if not toks:
            continue
        em = batch_probabilities(
            [(norm_token_simple(w), i > 0) for i, (w, _, _) in enumerate(toks)]
        )
        path = viterbi_decode(em, start, trans, end)
        for wid, ((w, _, _), lab) in enumerate(zip(toks, path)):
            want[(did, wid)] = (w, BIO_TAGS[lab])
    assert got == want
    assert max(wid for _, wid in got) == 7  # the 10-word doc truncated at 8
    assert not any(did == 2 for did, _ in got)  # empty doc emits nothing
