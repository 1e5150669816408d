"""Decision-cascade unit tests with crafted probability vectors
(parity target: infer.py:150-423; the model is injected, so these pin the
pure decision logic)."""

from __future__ import annotations

from x5_ner_spark.core.cascade import decide_word_labels
from x5_ner_spark.core.mention_pipeline import annotate, final_mention_spans
from x5_ner_spark.core.spans import BIO_TAGS

IDX = {t: i for i, t in enumerate(BIO_TAGS)}


def vec(**kw) -> list[float]:
    p = [0.0] * len(BIO_TAGS)
    for tag, v in kw.items():
        p[IDX[tag.replace("_", "-")]] = v
    rest = 1.0 - sum(p)
    p[IDX["O"]] += max(rest, 0.0) if "O" not in kw else 0.0
    return p


def run(text, words, probs, lex=frozenset(), lex_list=None, **kw):
    return decide_word_labels(text, words, probs, lex, lex_list, **kw)


def test_confidence_ladder_brand_wins_over_type():
    text = "токен"
    out = run(text, [(0, 5)], [vec(B_BRAND=0.92, B_TYPE=0.9)])
    assert out == [(0, 5, "B-BRAND")]


def test_ladder_sum_trigger():
    # brand_sum 0.6+0.6=1.2 ≥ 0.9*1.3=1.17 triggers at the top rung
    text = "токен"
    out = run(text, [(0, 5)], [[0.0, 0, 0, 0.6, 0.6, 0, 0, 0, 0]])
    assert out == [(0, 5, "B-BRAND")]


def test_bio_continuity_i_after_same_base():
    text = "ааа బబబ"  # two words
    words = [(0, 3), (4, 7)]
    probs = [vec(B_TYPE=0.8), vec(B_TYPE=0.8)]
    out = run(text, words, probs)
    assert [t for _, _, t in out] == ["B-TYPE", "I-TYPE"]


def test_short_word_break_reproduces_reference_bug():
    # word 'из' is short with low probs → the WHOLE loop aborts; the later
    # high-confidence word stays 'O'
    text = "из молоко"
    words = [(0, 2), (3, 9)]
    probs = [vec(O=0.5), vec(B_TYPE=0.95)]
    out = run(text, words, probs)
    assert out == [(0, 2, "O"), (3, 9, "O")]
    # with the bug disabled, the second word is labeled
    out2 = run(text, words, probs, short_word_break=False)
    assert out2 == [(0, 2, "O"), (3, 9, "B-TYPE")]


def test_short_latin_not_branded_without_lexicon():
    text = "xq"
    out = run(text, [(0, 2)], [vec(B_BRAND=0.45)])  # below 0.4? no: 0.45>0.4 passes rule0a
    # ladder misses (0.45 < 0.55); short latin w/o lexicon → O
    assert out == [(0, 2, "O")]


def test_lexicon_hit_brands_with_modest_confidence():
    text = "барни"
    lex = frozenset({"барни"})
    out = run(text, [(0, 5)], [vec(B_BRAND=0.3, B_TYPE=0.2)], lex, sorted(lex))
    assert out == [(0, 5, "B-BRAND")]
    # lexicon membership alone does NOT brand a token the model gives
    # < 0.2 brand mass (infer.py:367): Cyrillic unknowns stay O under the
    # stub model
    weak = final_mention_spans("сок добрый", frozenset({"добрый"}), ["добрый"])
    assert (4, 10, "O") in weak


def test_fuzzy_lexicon_hit_via_levenshtein():
    text = "барны"  # ED 1 from барни
    lex = frozenset({"барни"})
    out = run(text, [(0, 5)], [vec(B_BRAND=0.3, B_TYPE=0.2)], lex, sorted(lex))
    assert out == [(0, 5, "B-BRAND")]


def test_type_hint_guard_prefers_type():
    text = "молоко"
    lex = frozenset({"молоко"})  # even in brand lexicon...
    out = run(text, [(0, 6)], [vec(B_TYPE=0.6, B_BRAND=0.5)], lex, sorted(lex))
    # looks_like_type_word + clear TYPE margin → TYPE
    assert out == [(0, 6, "B-TYPE")]


def test_fallback_label_threshold():
    text = "непонятное"
    out = run(text, [(0, 10)], [vec(B_TYPE=0.2, O=0.3)])
    assert out == [(0, 10, "B-TYPE")]  # p_type ≥ 0.15 → fallback B-TYPE
    out2 = run(text, [(0, 10)], [vec(B_TYPE=0.1, O=0.3)])
    assert out2 == [(0, 10, "O")]


def test_mention_pipeline_deterministic_and_stable():
    text = "молоко простоквашино 3,2% 1 л"
    a1 = annotate(text)
    a2 = annotate(text)
    assert a1 == a2
    spans = final_mention_spans(text)
    assert spans == sorted(set(spans))
    # numeric boost must surface the percent/volume mentions
    tags = {t for _, _, t in spans}
    assert "B-PERCENT" in tags and "B-VOLUME" in tags


def test_empty_input_short_circuit():
    assert final_mention_spans("") == []
    assert final_mention_spans("   ") == []


def test_decide_accepts_plain_set_lexicon():
    """Pre-memoization the lexicon only needed membership — a mutable set
    must keep working (review finding r3) and agree with the frozenset path."""
    from x5_ner_spark.core.mention_pipeline import detect_mention_spans

    text = "сок барни 3.2%"
    a = detect_mention_spans(text, {"барни"}, ["барни"])
    b = detect_mention_spans(text, frozenset({"барни"}), ["барни"])
    assert a == b and a
