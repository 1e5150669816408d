"""Cache ownership: a call that persists an intermediate releases it before
returning, unless its contract hands the cache to the caller (the library
path's triple stage). Each test clears the session's cache first and checks
that the cache manager is empty afterwards."""

from __future__ import annotations

import pytest

from x5_ner_spark.pipeline.fixtures import pages_df
from x5_ner_spark.pipeline.runner import run_pipeline

N = 120


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def pages_with_clone(spark):
    """Fixture pages plus an exact copy of one of them under a new url."""
    pages = pages_df(spark, N).select("url", "warc_ts", "html", "text", "lang")
    html = pages.orderBy("url").limit(1).collect()[0]["html"]
    clone = spark.createDataFrame(
        [("dup://c1", None, bytes(html), None, "ru")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    spark.catalog.clearCache()
    return pages.unionByName(clone)


def test_run_pipeline_dedup_out_root_leaves_no_cache(spark, pages_with_clone, tmp_path):
    out = run_pipeline(spark, pages_with_clone, out_root=str(tmp_path / "kg"),
                       n_buckets=4, dedup=True)
    assert _cache_empty(spark)
    assert out["triples"].count() > 0


def test_run_pipeline_library_path_owns_only_triples(spark, pages_with_clone):
    """Without out_root the triple stage stays cached for the caller; once
    the caller releases it nothing else is left, and the dedup path's
    triples are those of the fused stage over the kept pages."""
    from x5_ner_spark.pipeline import fused
    from x5_ner_spark.pipeline.fixtures import BRANDS

    out = run_pipeline(spark, pages_with_clone, dedup=True)
    assert not _cache_empty(spark)
    got = sorted(map(tuple, out["triples"].collect()))
    out["triples"].unpersist()
    assert _cache_empty(spark)

    kept = out["docs"].select("url")
    assert kept.count() == N
    want = fused.fused_triples(
        pages_with_clone.join(kept, "url", "left_semi"), frozenset(BRANDS)
    )
    assert got == sorted(map(tuple, want.collect()))
    assert out["nodes"].count() > 0 and out["edges"].count() == len(got)


def test_triple_prf_leaves_no_cache(spark):
    """triple_prf sums its per-predicate counters on the driver: the counts
    match the counter table, and no cache is left behind."""
    from x5_ner_spark.operators.ctx_train import triple_prf
    from x5_ner_spark.operators.eval_ops import prf_counters

    schema = "subj string, pred string, obj string, url string"
    teacher = spark.createDataFrame([
        ("s", "has_brand", "a", "u1"), ("s", "has_brand", "b", "u1"),
        ("s", "is_type", "c", "u2"), ("s", "has_volume", "d", "u3"),
    ], schema)
    student = spark.createDataFrame([
        ("s", "has_brand", "a", "u1"), ("s", "is_type", "c", "u2"),
        ("s", "is_type", "x", "u2"), ("s", "has_percent", "y", "u4"),
    ], schema)
    spark.catalog.clearCache()
    res = triple_prf(teacher, student)
    assert _cache_empty(spark)
    assert (res["tp"], res["fp"], res["fn"]) == (2, 2, 2)
    assert (res["precision"], res["recall"], res["f1"]) == (0.5, 0.5, 0.5)
    want = prf_counters(teacher, student, keys=["url", "subj", "obj"], type_col="pred")
    assert sorted(map(tuple, res["counters"].collect())) == sorted(map(tuple, want.collect()))
    assert res["counters"].schema == want.schema
    assert _cache_empty(spark)


def _fail_ctx_head(spark, tmp_path):
    from x5_ner_spark.core.ctx_transformer import write_ctx_checkpoint
    from x5_ner_spark.operators.ctx_train import fit_ctx_head

    ckpt = write_ctx_checkpoint(str(tmp_path / "ctx.npz"), ["молоко", "вода"])
    # label 99 is outside the 9 BIO classes: the kernel's indexing raises
    feats = spark.createDataFrame([([0.1] * 32, 99)], "feat array<double>, label long")
    fit_ctx_head(feats, ckpt, str(tmp_path / "head.npz"), iters=2)


def _fail_emission(spark, tmp_path):
    from x5_ner_spark.operators.emission_train import fit_npz_emission

    train = spark.createDataFrame(
        [("молоко", False, 99)], "token string, cont boolean, label_idx long"
    )
    fit_npz_emission(train, str(tmp_path / "em.npz"), iters=2)


def _fail_crf(spark, tmp_path):
    from x5_ner_spark.operators.emission_train import fit_crf_npz

    seqs = spark.createDataFrame(
        [(["молоко", "вода"], [False, False], [0, 99])],
        "tokens array<string>, conts array<boolean>, tags array<long>",
    )
    fit_crf_npz(seqs, str(tmp_path / "crf.npz"), iters=2)


def _fail_quality(spark, tmp_path):
    from x5_ner_spark.operators.quality_train import fit_from_features

    # bucket 99 is past dim=8: the sparse kernel's weight lookup raises
    feats = spark.createDataFrame(
        [([0, 99], 1.0), ([1], 0.0)], "buckets array<int>, label double"
    )
    fit_from_features(feats, dim=8, iters=2)


@pytest.mark.parametrize(
    "fit", [_fail_emission, _fail_crf, _fail_ctx_head, _fail_quality],
    ids=["emission", "crf", "ctx_head", "quality"],
)
def test_trainer_releases_training_set_when_a_pass_raises(spark, tmp_path, fit):
    """A gradient pass that raises on an executor (a local master does not
    retry the task) propagates to the caller, and the trainer still
    unpersists the training table it cached."""
    spark.catalog.clearCache()
    with pytest.raises(Exception):
        fit(spark, tmp_path)
    assert _cache_empty(spark)
