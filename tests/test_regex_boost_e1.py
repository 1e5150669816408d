"""E5 regex-boost differential vs the reference script's row transform, and
E1 end-to-end differential: our Spark P/R/F1 vs the reference evaluate()."""

from __future__ import annotations

import pytest

from x5_ner_spark.core.regex_boost import boost_percent
from tests.conftest import has_reference, load_reference_module

CASES = [
    ("молоко 3,2", [(0, 6, "B-TYPE")]),
    ("кефир 1%", [(0, 5, "B-TYPE")]),
    ("творог 9 процентов", []),
    ("балтика 0", [(0, 7, "B-BRAND")]),
    ("сок 25", []),                      # not dairy → untouched
    ("сметана 15 и сыр 40", []),
    ("молоко 50", []),                   # >40 → untouched
    ("кефир 1% жирности 1%", [(6, 8, "B-PERCENT")]),  # overlap guard
    ("ноль 0 градусов", []),
]


def test_boost_percent_golden():
    assert boost_percent("молоко 3,2", [(0, 6, "B-TYPE")]) == [
        (0, 6, "B-TYPE"), (7, 10, "B-PERCENT"),
    ]
    assert boost_percent("балтика 0", [(0, 7, "B-BRAND")]) == [
        (0, 7, "B-BRAND"), (8, 9, "B-PERCENT"),
    ]
    assert boost_percent("сок 25", []) == []


@pytest.mark.skipif(not has_reference(), reason="reference repo not present")
def test_boost_percent_differential():
    """The reference logic lives inline in a script __main__; replicate its
    row transform here from the same regexes it defines."""
    import regex as re

    mod = {}
    # execute just the constant/regex/parse prelude of the script
    src = open("/root/reference/scripts/make_baseline_with_percent.py").read()
    prelude = src.split("ap = argparse.ArgumentParser()")[0]
    exec(prelude, mod)

    def ref_transform(text, ents):
        ents = list(ents)
        taken = [(s, e) for s, e, _ in ents]

        def overlaps(s, e):
            return any(ss < e and ee > s for ss, ee in taken)

        for m in mod["RE_PERCENT"].finditer(text):
            s, e = m.span()
            if not overlaps(s, e):
                ents.append((s, e, "B-PERCENT")); taken.append((s, e))
        for m in mod["RE_PERCENTWORD"].finditer(text):
            s, e = m.span()
            if not overlaps(s, e):
                ents.append((s, e, "B-PERCENT")); taken.append((s, e))
        for m in re.finditer(r"\b(\d{1,2})(?:[.,]\d)?\b", text):
            s, e = m.span()
            if overlaps(s, e):
                continue
            num = int(m.group(1)); low = text.lower()
            if num == 0 and ("балтик" in low or "ноль" in low):
                ents.append((s, e, "B-PERCENT")); taken.append((s, e)); continue
            if 1 <= num <= 40 and any(w in low for w in mod["DAIRY"]):
                ents.append((s, e, "B-PERCENT")); taken.append((s, e)); continue
        return sorted(set(ents), key=lambda x: (x[0], x[1], x[2]))

    for text, spans in CASES:
        assert boost_percent(text, list(spans)) == ref_transform(text, list(spans)), text


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
