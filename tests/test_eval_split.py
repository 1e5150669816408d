"""Tests for the E1 and E3 eval operators and the training-data
preparation operators (sequence packing, the training-mix sampler)."""

from __future__ import annotations

import pytest

from x5_ner_spark.operators import eval_ops
from tests.conftest import has_reference, load_reference_module


def test_error_buckets(spark):
    gold = spark.createDataFrame(
        [(1, 0, 6, "TYPE"), (1, 7, 10, "PERCENT"), (2, 0, 3, "BRAND"), (3, 0, 4, "TYPE")],
        "doc_id long, start int, end int, etype string",
    )
    pred = spark.createDataFrame(
        [(1, 0, 6, "BRAND"),   # type swap
         (1, 7, 10, "PERCENT"),  # exact
         (2, 1, 3, "BRAND"),   # boundary shift
         (3, 10, 12, "TYPE")],  # FP (no overlap), gold(3,0,4) → FN
        "doc_id long, start int, end int, etype string",
    )
    got = {(r["bucket"], r["etype"]): r["n"] for r in eval_ops.error_buckets(gold, pred).collect()}
    assert got[("exact_match", "PERCENT")] == 1
    assert got[("type_swap", "TYPE")] == 1
    assert got[("boundary_shift", "BRAND")] == 1
    assert got[("false_negative", "TYPE")] == 1
    assert got[("false_positive", "TYPE")] == 1


def test_mix_sample_deterministic_and_calibrated(spark, monkeypatch):
    """Mix sampler: reproducible keep set (pure hash of id+seed), unlisted
    sources dropped, observed rates near the requested fractions, and the
    keep decision is partitioning-independent."""
    from x5_ner_spark.operators import training_data
    from x5_ner_spark.operators.training_data import mix_sample

    rows = [(i, f"s{i % 2}") for i in range(2000)] + [(9999, "other")]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    frac = {"s0": 0.3, "s1": 1.0}
    a = {r["doc_id"] for r in mix_sample(docs, frac).collect()}
    b = {r["doc_id"] for r in mix_sample(docs.repartition(13), frac).collect()}
    assert a == b                      # layout-independent
    assert 9999 not in a               # unlisted source drops
    s0 = sum(1 for i in a if i % 2 == 0 and i != 9999)
    s1 = sum(1 for i in a if i % 2 == 1)
    assert s1 == 1000                  # fraction 1.0 keeps everything
    assert 0.25 <= s0 / 1000 <= 0.35   # ~0.3 within binomial noise
    monkeypatch.setattr(training_data, "MIX_SEED", 7)
    c = {r["doc_id"] for r in mix_sample(docs, frac).collect()}
    assert c != a                      # seed changes the sample


def test_pack_documents_semantics(spark):
    """Sequence packing invariants: contiguous per-group offsets, budget-
    aligned pack ids, straddle flag only for docs crossing a boundary."""
    from x5_ner_spark.operators.training_data import pack_documents

    sizes = [(i, "a", 30) for i in range(10)] + [(100, "b", 250), (101, "b", 10)]
    # a text of n words: the packer counts whitespace-separated tokens
    rows = [(i, src, " ".join(["w"] * n)) for i, src, n in sizes]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sorted(
        (r["group"], r["doc_id"], r["offset"], r["pack_id"], r["spans_packs"])
        for r in pack_documents(docs, 100).collect()
    )
    a = [r for r in out if r[0] == "a"]
    # contiguous layout: offsets 0,30,60,90,120,... pack = offset // 100
    for k, (_, did, off, pid, spans) in enumerate(a):
        assert off == 30 * k and pid == off // 100
        assert spans == (off // 100 != (off + 29) // 100)
    assert [r for r in a if r[4]][0][1] == 3  # doc at offset 90 straddles
    b = {r[1]: r for r in out if r[0] == "b"}
    assert b[100][2] == 0 and b[100][3] == 0 and b[100][4] is True  # 250 > budget
    assert b[101][2] == 250 and b[101][3] == 2 and b[101][4] is False


@pytest.mark.skipif(not has_reference(), reason="reference repo not present")
def test_e1_prf_matches_reference_evaluate(spark):
    """Same gold/pred rows through (a) the reference's pandas evaluate() and
    (b) our Spark path (bio merge → counters → metrics)."""
    import pandas as pd

    ref = load_reference_module("scripts.eval_submission_on_train")

    gold_rows = [
        ("молоко 1 %", "[(0, 6, 'B-TYPE'), (7, 8, 'B-PERCENT'), (9, 10, 'I-PERCENT')]"),
        ("сок добрый", "[(0, 3, 'B-TYPE'), (4, 10, 'B-BRAND')]"),
        ("вода 2 л", "[(0, 4, 'B-TYPE'), (5, 6, 'B-VOLUME'), (7, 8, 'I-VOLUME')]"),
        ("чай", "[(0, 3, 'B-TYPE')]"),
    ]
    pred_rows = [
        ("молоко 1 %", "[(0, 6, 'B-TYPE'), (7, 8, 'B-PERCENT')]"),      # FN on I chain? see merge
        ("сок добрый", "[(0, 3, 'B-BRAND'), (4, 10, 'B-BRAND')]"),       # type swap
        ("вода 2 л", "[(0, 4, 'B-TYPE'), (5, 8, 'B-VOLUME')]"),
        ("чай", "[(0, 3, 'B-TYPE')]"),
    ]
    gold_pd = pd.DataFrame(gold_rows, columns=["sample", "annotation"])
    pred_pd = pd.DataFrame(pred_rows, columns=["sample", "annotation"])
    per_type, macro, micro, n = ref.evaluate(gold_pd, pred_pd)

    # Spark path: decode → typed merge (same core fn the engine uses) →
    # relational counters/metrics
    from x5_ner_spark.core.spans import merge_bio_typed, parse_annotation
    from x5_ner_spark.operators import eval_ops

    def ents_df(rows):
        out = []
        for sample, ann in rows:
            for t, s, e in merge_bio_typed(parse_annotation(ann)):
                out.append((sample, f"{t}:{s}:{e}", t))
        return spark.createDataFrame(out, "sample string, ent string, etype string")

    counters = eval_ops.prf_counters(ents_df(gold_rows), ents_df(pred_rows),
                                     ["sample", "ent"], "etype")
    metrics = {r["etype"]: r for r in eval_ops.prf_metrics(counters, "etype").collect()}
    for t, m in per_type.items():
        if t in metrics:
            assert abs(metrics[t]["precision"] - m["precision"]) < 1e-4, t
            assert abs(metrics[t]["recall"] - m["recall"]) < 1e-4, t
        else:
            assert m["precision"] == 0.0 and m["recall"] == 0.0
