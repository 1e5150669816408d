"""Learned quality classifier (operators/quality_train.py): gradient
correctness, distillation accuracy floor vs the gopher rule labels,
zero-UDF Column-serving parity with the numpy forward, reproducibility."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from x5_ner_spark import obs
from x5_ner_spark.operators import quality_train as qt


def featurize_texts(texts: list[str], dim: int, ngrams: int = 1) -> np.ndarray:
    """(n, dim) binary hashed unigram (+ optional bigram) presence over
    lowercase whitespace tokens — the python twin of ``qt.bucket_set_col``."""
    x = np.zeros((len(texts), dim), dtype=np.float64)
    for r, t in enumerate(texts):
        toks = [w for w in (t or "").lower().split(" ") if w]
        for w in toks:
            x[r, qt.hash_bucket(w, dim)] = 1.0
        if ngrams >= 2:
            for a, b in zip(toks, toks[1:]):
                x[r, qt.hash_bucket(f"{a} {b}", dim)] = 1.0
    return x


def test_gradients_match_finite_differences():
    rng = np.random.RandomState(3)
    x = rng.rand(12, 7)
    y = (rng.rand(12) > 0.5).astype(np.float64)
    w = rng.randn(7) * 0.1
    b = 0.3
    _, gw, gb = qt._loss_and_grads(w, b, x, y)
    eps = 1e-6
    for j in range(7):
        wp, wm = w.copy(), w.copy()
        wp[j] += eps
        wm[j] -= eps
        lp, _, _ = qt._loss_and_grads(wp, b, x, y)
        lm_, _, _ = qt._loss_and_grads(wm, b, x, y)
        assert gw[j] == pytest.approx((lp - lm_) / (2 * eps), rel=1e-4, abs=1e-7)
    lp, _, _ = qt._loss_and_grads(w, b + eps, x, y)
    lm_, _, _ = qt._loss_and_grads(w, b - eps, x, y)
    assert gb == pytest.approx((lp - lm_) / (2 * eps), rel=1e-4, abs=1e-7)


def test_hash_bucket_matches_column_helper(spark):
    from pyspark.sql import functions as F

    from x5_ner_spark.functions.columns import portable_hash32

    toks = ["the", "Ёлка", "zzz", "a1!", "кошка"]
    df = spark.createDataFrame([(t,) for t in toks], ["t"])
    got = {
        r["t"]: r["h"]
        for r in df.select(
            "t", F.pmod(portable_hash32("t"), F.lit(256)).alias("h")
        ).collect()
    }
    for t in toks:
        assert got[t] == qt.hash_bucket(t, 256)


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    labeled = qt.gopher_labels(docs)
    with obs.recording() as log:
        w, b = qt.fit_quality_classifier(labeled, dim=2048, iters=60, lr=2.0)
    history = [f["loss"] for name, f in log if name == "train_loss"]
    return docs, labeled, w, b, history


def test_loss_decreases_and_distills_gopher(spark, trained):
    docs, labeled, w, b, history = trained
    assert history[-1] < history[0] * 0.9
    rows = (
        qt.score_quality(docs, w, b)
        .join(labeled.select("doc_id", "label"), "doc_id")
        .collect()
    )
    assert len(rows) > 0
    acc = sum(
        1 for r in rows if (r["q_score"] >= 0.5) == (r["label"] >= 0.5)
    ) / len(rows)
    majority = max(
        sum(1 for r in rows if r["label"] >= 0.5),
        sum(1 for r in rows if r["label"] < 0.5),
    ) / len(rows)
    # the linear probe must beat always-guess-majority and clear a floor
    assert acc >= 0.85
    assert acc > majority or majority > 0.99


def test_column_serving_matches_numpy_forward(spark, trained):
    docs, _, w, b, _ = trained
    sample = docs.limit(20).collect()
    got = {
        r["doc_id"]: r["q_score"]
        for r in qt.score_quality(spark.createDataFrame(sample), w, b).collect()
    }
    x = featurize_texts([r["text"] for r in sample], len(w))
    z = x @ w + b
    for r, zi in zip(sample, z):
        want = 1.0 / (1.0 + math.exp(-zi))
        assert got[r["doc_id"]] == pytest.approx(want, rel=1e-9, abs=1e-12)


def test_training_reproducible(spark):
    """pid-sorted gradient reduction: bit-identical across reruns of the
    same partitioning; approximately equal across partitionings (float
    addition order legitimately differs when rows move between partitions —
    same contract as ctx_train's pid-ordered sums)."""
    rows = [(f"doc {i} " + ("good text " * (i % 5)), float(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, ["text", "label"]).repartition(7)
    w1, b1 = qt.fit_quality_classifier(df, dim=64, iters=5)
    w2, b2 = qt.fit_quality_classifier(df, dim=64, iters=5)
    assert b1 == b2
    assert np.array_equal(w1, w2)
    w3, b3 = qt.fit_quality_classifier(df.repartition(3), dim=64, iters=5)
    assert b3 == pytest.approx(b1, rel=1e-9)
    np.testing.assert_allclose(w3, w1, rtol=1e-9, atol=1e-12)


def test_fit_from_parquet_feature_table(tmp_path, spark):
    """The production shape: featurize once → parquet → fit_from_features.
    Must train to (approximately) the same model as the inline path — the
    parquet roundtrip changes partitioning, so float sums differ in ulps."""
    rows = [
        (f"doc {i} " + ("the and good text " * (1 + i % 3)), float(i % 2))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["text", "label"])
    w1, b1 = qt.fit_quality_classifier(df, dim=128, iters=8)
    p = str(tmp_path / "feats.parquet")
    qt.featurize_table(df, dim=128).write.parquet(p)
    w2, b2 = qt.fit_from_features(spark.read.parquet(p), dim=128, iters=8)
    assert b2 == pytest.approx(b1, rel=1e-9)
    np.testing.assert_allclose(w2, w1, rtol=1e-9, atol=1e-12)


def test_save_load_roundtrip(tmp_path, spark, trained):
    _, _, w, b, _ = trained
    p = qt.save_quality_npz(w, b, str(tmp_path / "q.npz"))
    w2, b2, ng = qt.load_quality_npz(p)
    assert b2 == b and np.array_equal(w2, w) and ng == 1
    p2 = qt.save_quality_npz(w, b, str(tmp_path / "q2.npz"), ngrams=2)
    assert qt.load_quality_npz(p2)[2] == 2


def test_bigram_bucket_col_matches_python_twin(spark):
    texts = ["раз два три два", "один", "", "a b"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.select(
        "text", qt.bucket_set_col("text", 512, ngrams=2).alias("bk")
    ).collect()
    for r in rows:
        toks = [w for w in r["text"].lower().split(" ") if w]
        want = {qt.hash_bucket(t, 512) for t in toks} | {
            qt.hash_bucket(f"{a} {b}", 512) for a, b in zip(toks, toks[1:])
        }
        assert sorted(r["bk"]) == sorted(want)


def test_bigram_features_separate_order_dependent_labels(spark):
    """fastText's reason for word n-grams: two classes with IDENTICAL
    unigram bags but different adjacency. The unigram model is blind
    (features literally equal → accuracy 0.5); the bigram model separates."""
    pos = "this is very bad indeed always"
    neg = "this is bad very indeed always"  # same bag, shuffled adjacency
    rows = [(f"{pos} filler{i}", 1.0) for i in range(20)] + [
        (f"{neg} filler{i}", 0.0) for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["text", "label"])
    texts = [r[0] for r in rows]
    y = np.array([r[1] for r in rows])

    def acc(ngrams):
        w, b = qt.fit_quality_classifier(df, dim=256, iters=40, ngrams=ngrams)
        x = featurize_texts(texts, 256, ngrams=ngrams)
        return float((((x @ w + b) >= 0) == (y >= 0.5)).mean())

    assert acc(1) == 0.5
    assert acc(2) >= 0.95


def test_perplexity_labels_leave_no_cache(spark, sf_dir):
    """The scored table is pinned for the duration of the call only: the
    session's cache manager is empty afterwards, and the labels are the
    exact-percentile split of the LM nll."""
    from x5_ner_spark.operators import lm

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    spark.catalog.clearCache()
    lab = {r["doc_id"]: r["label"] for r in qt.perplexity_labels(docs).collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    nll = {r["doc_id"]: r["nll"] for r in lm.lm_perplexity(docs).collect()}
    thr = float(np.percentile(list(nll.values()), 50))
    assert lab == {d: float(v <= thr) for d, v in nll.items()}


def test_perplexity_labels_need_bigram_features(spark, sf_dir):
    """The CCNet-shape second labeling source, and the feature-order
    argument it demonstrates: the label IS a bigram-statistic (LM nll
    median split), so unigram presence sits at chance while ngrams=2
    learns it. Also pins the label balance (quantile split ≈ 50/50)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lab = qt.perplexity_labels(docs)
    dist = {r["label"]: r["count"] for r in lab.groupBy("label").count().collect()}
    n = sum(dist.values())
    assert abs(dist.get(1.0, 0) / n - 0.5) < 0.1

    def train_acc(ngrams):
        w, b = qt.fit_quality_classifier(lab, dim=2048, iters=60, ngrams=ngrams)
        rows = (
            qt.score_quality(lab, w, b, ngrams=ngrams)
            .join(lab.select("doc_id", "label"), "doc_id")
            .collect()
        )
        return sum(
            1 for r in rows if (r["q_score"] >= 0.5) == (r["label"] >= 0.5)
        ) / len(rows)

    assert train_acc(2) >= 0.8
    assert train_acc(1) < 0.6  # unigrams can't see a bigram signal


def test_bucket_set_col_matches_python_twin(spark, sf_dir):
    """The ONE featurization expression (training feature table AND serving)
    must agree with the python twin used by featurize_texts/tests."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(30)
    rows = docs.select("text", qt.bucket_set_col("text", 512).alias("bk")).collect()
    assert len(rows) == 30
    for r in rows:
        want = sorted(
            {
                qt.hash_bucket(t, 512)
                for t in (r["text"] or "").lower().split(" ")
                if t
            }
        )
        assert sorted(r["bk"]) == want


def test_sparse_grads_match_dense(spark):
    """_sparse_loss_and_grads over bucket sets ≡ _loss_and_grads over the
    equivalent binary matrix (same math, no (n, dim) materialization)."""
    rng = np.random.RandomState(11)
    dim = 32
    sets = [sorted(rng.choice(dim, size=rng.randint(0, 9), replace=False)) for _ in range(25)]
    y = (rng.rand(25) > 0.4).astype(np.float64)
    w = rng.randn(dim) * 0.3
    b = -0.2
    x = np.zeros((25, dim))
    for i, s in enumerate(sets):
        x[i, list(s)] = 1.0
    loss_d, gw_d, gb_d = qt._loss_and_grads(w, b, x, y)
    flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in sets if len(s)] or [np.empty(0, np.int64)])
    lens = np.fromiter((len(s) for s in sets), dtype=np.int64, count=25)
    loss_s, gw_s, gb_s = qt._sparse_loss_and_grads(w, b, flat, lens, y)
    assert loss_s == pytest.approx(loss_d, rel=1e-12)
    assert gb_s == pytest.approx(gb_d, rel=1e-12)
    np.testing.assert_allclose(gw_s, gw_d, rtol=1e-12, atol=1e-15)


def test_labeling_and_serving_map_only(spark, sf_dir):
    """Both corpus-scale passes — weak-supervision labeling and classifier
    serving — must be join-free projections (no corpus self-join). r9: the
    labeling pass may carry ONE Exchange — the scan-parallelism valve
    inside gopher_filters (functions/scan.scan_parallel), which fires only
    on unsplittable inputs and never adds a join."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_audit import op_counts

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lab = op_counts(qt.gopher_labels(docs))
    assert lab.get("Exchange", 0) <= 1
    assert not any("Join" in op for op in lab)
    srv = op_counts(qt.score_quality(docs, np.zeros(16), 0.0))
    assert srv.get("Exchange", 0) == 0
    assert not any("Join" in op for op in srv)


def test_streaming_curation_equals_batch(spark, tmp_path, trained):
    """The whole curation surface is stateless map-side Columns, so it must
    run UNCHANGED on a stream: quality_score_col + the gopher keep verdict
    over readStream ≡ the batch pass, row for row."""
    from x5_ner_spark.operators import text_stats

    docs, _, w, b, _ = trained
    path = str(tmp_path / "qdocs")
    docs.select("doc_id", "text").limit(50).repartition(4).write.parquet(path)
    batch = spark.read.parquet(path)
    want = {
        (r["doc_id"], r["q_score"], r["keep"])
        for r in qt.score_quality(batch, w, b)
        .join(text_stats.gopher_filters(batch).select("doc_id", "keep"), "doc_id")
        .collect()
    }
    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    scored = text_stats.gopher_filters(stream, carry=("text",)).select(
        "doc_id", qt.quality_score_col(w, b).alias("q_score"), "keep"
    )
    q = (
        scored.writeStream.format("memory").queryName("t_qual_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["q_score"], r["keep"])
        for r in spark.table("t_qual_stream").collect()
    }
    assert got == want and len(want) == 50


def test_empty_doc_scores_sigmoid_b(spark):
    w = np.zeros(16)
    df = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    got = qt.score_quality(df, w, 0.4).collect()
    for r in got:
        assert r["q_score"] == pytest.approx(1.0 / (1.0 + math.exp(-0.4)), abs=1e-12)
