"""Distributed gradient training of the emission MLP (N4 completion):
analytic gradients numerically checked, distributed full-batch GD descends
the loss deterministically, and the trained checkpoint closes the loop —
saved npz loads through NpzMlpProvider and reproduces the teacher's labels.
"""

from __future__ import annotations

import numpy as np
import pytest

from x5_ner_spark import obs
from x5_ner_spark.core import emission as E


def _losses(log):
    """Per-iteration losses from the recorded ``train_loss`` events."""
    return [f["loss"] for name, f in log if name == "train_loss"]


def test_gradients_match_numerical():
    rng = np.random.RandomState(3)
    params = E.init_mlp_params(n_features=16, hidden=5, seed=3)
    keys = [("молоко", False), ("santa", True), ("abc", False), ("x1", True)]
    x = E.featurize_batch(keys, 16)
    y = np.array([0, 3, 1, 8])
    _, grads = E.mlp_loss_and_grads(params, x, y)
    eps = 1e-6
    for name in ("w1", "b1", "w2", "b2"):
        arr = params[name]
        for _ in range(5):  # spot-check random coordinates
            idx = tuple(rng.randint(0, d) for d in arr.shape)
            orig = arr[idx]
            arr[idx] = orig + eps
            lp, _ = E.mlp_loss_and_grads(params, x, y)
            arr[idx] = orig - eps
            lm, _ = E.mlp_loss_and_grads(params, x, y)
            arr[idx] = orig
            num = (lp - lm) / (2 * eps)
            assert abs(num - grads[name][idx]) < 1e-5, (name, idx, num, grads[name][idx])


@pytest.fixture(scope="module")
def trained(tmp_path_factory, request):
    spark = request.getfixturevalue("spark")
    from x5_ner_spark.operators.emission_train import fit_npz_emission, teacher_labels
    from x5_ner_spark.pipeline.fixtures import pages_df
    from x5_ner_spark.pipeline.extract import run as extract_run

    docs = extract_run(pages_df(spark, 300, sentences=2)).select("text")
    labels = teacher_labels(docs).persist()
    path = str(tmp_path_factory.mktemp("emtrain") / "trained.npz")
    with obs.recording() as log:
        fit_npz_emission(labels, path, iters=25, lr=0.8)
    hist = _losses(log)
    labels.unpersist()
    return path, hist, spark


def test_fit_descends_and_checkpoint_serves(trained):
    path, hist, spark = trained
    # loss descends substantially and near-monotonically
    assert len(hist) == 25
    assert hist[-1] < 0.5 * hist[0], hist[:3] + hist[-3:]
    assert sum(1 for a, b in zip(hist, hist[1:]) if b > a + 1e-9) <= 2

    # the checkpoint loads through the SAME provider the inference UDF uses
    prov = E.provider_for(path)
    from x5_ner_spark.operators.emission_train import teacher_labels
    from x5_ner_spark.pipeline.fixtures import pages_df
    from x5_ner_spark.pipeline.extract import run as extract_run

    docs = extract_run(pages_df(spark, 300, sentences=2)).select("text")
    rows = teacher_labels(docs).collect()
    keys = [(r["token"], r["cont"]) for r in rows]
    y = np.array([r["label_idx"] for r in rows])
    pred = prov.batch_probabilities(keys).argmax(axis=1)
    acc = float((pred == y).mean())
    assert acc >= 0.9, acc  # the student reproduces the teacher's labels


def test_fit_deterministic(spark, tmp_path):
    from x5_ner_spark.operators.emission_train import fit_npz_emission

    rows = [(f"tok{i % 17}", bool(i % 2), int(i % 9)) for i in range(400)]
    train = spark.createDataFrame(rows, "token string, cont boolean, label_idx long")
    p1, p2 = str(tmp_path / "a.npz"), str(tmp_path / "b.npz")
    fit_npz_emission(train, p1, iters=5, lr=0.5)
    fit_npz_emission(train.repartition(7), p2, iters=5, lr=0.5)
    za, zb = np.load(p1), np.load(p2)
    for k in ("w1", "b1", "w2", "b2"):
        # same data+seed → identical trajectory regardless of layout, up to
        # partition-sum float association (sums added in pid order; layouts
        # differ so allow tiny drift)
        np.testing.assert_allclose(za[k], zb[k], atol=1e-6)
    # same layout → bit-identical
    p3 = str(tmp_path / "c.npz")
    fit_npz_emission(train, p3, iters=5, lr=0.5)
    zc = np.load(p3)
    for k in ("w1", "b1", "w2", "b2"):
        assert np.array_equal(za[k], zc[k]), k


def test_crf_nll_gradients_match_numerical():
    from x5_ner_spark.core.crf import crf_nll_and_grads

    rng = np.random.RandomState(5)
    for T in (1, 2, 5):
        C = 4
        em = rng.randn(T, C)
        start, trans, end = rng.randn(C), rng.randn(C, C), rng.randn(C)
        tags = rng.randint(0, C, size=T)
        nll, g = crf_nll_and_grads(em, tags, start, trans, end)
        assert nll >= -1e-9  # NLL of one path vs logZ is non-negative
        eps = 1e-6

        def num(fn_set, fn_unset):
            fn_set(eps); lp, _ = crf_nll_and_grads(em, tags, start, trans, end)
            fn_set(-2 * eps); lm, _ = crf_nll_and_grads(em, tags, start, trans, end)
            fn_set(eps)
            return (lp - lm) / (2 * eps)

        for arr, ga in ((em, g["emissions"]), (start, g["start"]),
                        (trans, g["trans"]), (end, g["end"])):
            for _ in range(4):
                idx = tuple(rng.randint(0, d) for d in arr.shape)
                def bump(d, idx=idx, arr=arr):
                    arr[idx] += d
                n = num(bump, None)
                assert abs(n - ga[idx]) < 1e-5, (T, arr.shape, idx, n, ga[idx])


def test_fit_crf_descends_and_decodes_like_teacher(spark, tmp_path):
    from x5_ner_spark.core.crf import viterbi_decode_batch
    from x5_ner_spark.operators.emission_train import (
        fit_crf_npz,
        teacher_sequences,
    )
    from x5_ner_spark.pipeline.extract import run as extract_run
    from x5_ner_spark.pipeline.fixtures import pages_df

    docs = extract_run(pages_df(spark, 200, sentences=2)).select("text")
    seqs = teacher_sequences(docs).persist()
    path = str(tmp_path / "crf_joint.npz")
    with obs.recording() as log:
        fit_crf_npz(seqs, path, iters=20, lr=0.8)
    hist = _losses(log)

    assert len(hist) == 20 and hist[-1] < 0.6 * hist[0], (hist[0], hist[-1])

    # decode with the trained joint model reproduces the teacher's tags
    with np.load(path) as z:
        start, trans, end = z["crf_start"], z["crf_trans"], z["crf_end"]
    prov = E.provider_for(path)
    rows = seqs.collect()
    seqs.unpersist()
    total = correct = 0
    ems = [prov.batch_logits(list(zip(r["tokens"], r["conts"]))) for r in rows]
    paths = viterbi_decode_batch(ems, start, trans, end)
    for r, p in zip(rows, paths):
        for want, got in zip(r["tags"], p):
            total += 1
            correct += int(want == got)
    assert total > 500
    assert correct / total >= 0.85, correct / total
