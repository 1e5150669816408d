"""Word-level mention-decision cascade over per-word class probabilities.

Parity target: /root/reference/ner/infer.py:150-423 (``predict_bio_tokens``),
run with the working batch path's defaults (``predict_entities``:
brand_thresh=0.8, entity_thresh=0.55; scripts/make_submission_from_val.py:40).

Two pinned spec decisions (SURVEY.md §7.4):
- The reference's stray ``break`` (infer.py:319) aborts the WHOLE word loop on
  the first short low-confidence word, leaving all later words 'O'. We
  reproduce it (``short_word_break=True``) because the P/R target is measured
  against the reference's emitted spans.
- Brand fuzzy matching mirrors a rapidfuzz-ENABLED reference deployment by
  default (``use_wratio=True``): WRatio ≥ 90 via the exact reimplementation in
  core/textnorm.py (infer.py:282-291), then the Levenshtein fallback with the
  adaptive distance of infer.py:293-296 either way. ``use_wratio=False``
  reproduces the reference's documented no-rapidfuzz degradation
  (infer.py:18-21). Both modes are differentialed against the reference
  (tests/test_decision_log.py, incl. a brand-heavy WRatio-only fixture).
"""

from __future__ import annotations

from functools import lru_cache

from .spans import BIO_TAGS, Span
from .textnorm import (
    has_latin_vowel,
    is_pure_latin,
    lex_norm,
    lexicon_levenshtein_hit,
    norm_token_simple,
    wratio_lexicon_hit,
)

# ref: ner/infer.py:27-37 (data sets)
TYPE_HINTS = frozenset(
    """молоко сыр творог сметана кефир йогурт сливки масло хлеб батон булка
    напиток вода сок чай кофе конфеты шоколад печенье паста макароны рис
    гречка крупа""".split()
)
STOPWORDS = frozenset(
    """и в во на но да или либо для без со от до по о об при над через из у к
    с а как чем же же-то то ли""".split()
)

_IDX = {t: i for i, t in enumerate(BIO_TAGS)}


@lru_cache(maxsize=1 << 16)
def _fuzzy_hit_cached(term: str, lex_fs: frozenset[str], max_d: int) -> bool:
    # token-level memo of the Levenshtein lexicon scan (Zipf vocabulary);
    # frozenset keys cache their hash, so repeat lookups are O(1)
    return lexicon_levenshtein_hit(term, lex_fs, max_d)


_CONF_LADDER = (0.9, 0.85, 0.8, 0.75, 0.7, 0.65, 0.6, 0.55)
_LAB_BY_BASE = {"BRAND": ("B-BRAND", "I-BRAND"), "TYPE": ("B-TYPE", "I-TYPE")}


def _looks_like_type_word(word: str) -> bool:
    t = norm_token_simple(word)
    return t in TYPE_HINTS and t not in STOPWORDS and not t.isdigit()


def _decide_one_word(
    token_text: str,
    p: tuple,
    brand_lexicon: frozenset[str],
    lex_fs: frozenset[str],
    has_lex: bool,
    brand_thresh: float,
    entity_thresh: float,
    use_wratio: bool,
) -> tuple:
    """Position-independent part of the cascade for ONE word: everything
    except the B-/I- prefix (a pure function of the previous word's base,
    applied by the caller) and the break side effect. Returns
    (break_cond, base, reason, log_fields) where base ∈ {'BRAND','TYPE','O'}
    and log_fields is the rounded-feature tuple the decision log emits.

    Factored out so the sequence loop can MEMOIZE it per (token, probs)
    (:func:`_decide_one_word_cached`): in the batch kernel the probs tuple
    is the per-key cached object, so on a Zipf corpus repeated tokens skip
    the whole ladder. The loop body is byte-for-byte the pre-factoring
    logic (differential + fuzz + decision-log suites pin it)."""
    tok_norm = norm_token_simple(token_text)

    p_o = float(p[_IDX["O"]])
    p_bb, p_ib = float(p[_IDX["B-BRAND"]]), float(p[_IDX["I-BRAND"]])
    p_bt, p_it = float(p[_IDX["B-TYPE"]]), float(p[_IDX["I-TYPE"]])
    p_brand, p_brand_sum = max(p_bb, p_ib), p_bb + p_ib
    p_type, p_type_sum = max(p_bt, p_it), p_bt + p_it

    tok_lex = lex_norm(token_text)
    in_lex = tok_lex in brand_lexicon
    fuzzy_hit = False
    if not in_lex and has_lex:
        if use_wratio and len(tok_lex) >= 3:
            fuzzy_hit = wratio_lexicon_hit(tok_lex, lex_fs)
        if not fuzzy_hit:
            max_d = 1 if len(tok_lex) <= 6 else 2
            fuzzy_hit = _fuzzy_hit_cached(tok_lex, lex_fs, max_d)

    pure_lat = is_pure_latin(tok_norm)
    short_lat = pure_lat and len(tok_norm) <= 2

    # rule 0a: tiny low-confidence token aborts the loop (reference bug,
    # reproduced intentionally — see module docstring)
    if len(tok_norm) <= 2 and p_type < 0.4 and p_brand < 0.4:
        return (True, "O", "", ())

    # rule 0b: confidence ladder — first hit wins, BRAND > TYPE > O
    base = ""
    reason = ""
    for t in _CONF_LADDER:
        if p_brand_sum >= t * 1.3 or p_brand > t:
            base = "BRAND"
            reason = f"strong_brand_{t}"
        elif p_type_sum >= t * 1.3 or p_type > t:
            base = "TYPE"
            reason = f"strong_type_{t}"
        elif p_o >= t:
            base = "O"
            reason = f"strong_o_{t}"
        if reason:
            break

    if not reason:
        if short_lat and not in_lex and not fuzzy_hit:
            base = "O"
            reason = "short_lat_no_lex"
        elif _looks_like_type_word(token_text):
            strong_brand = p_brand >= max(brand_thresh, p_type + 0.20, entity_thresh + 0.10)
            if strong_brand and (in_lex or fuzzy_hit):
                base = "BRAND"
                reason = "brand_over_type_very_strong"
            elif p_type >= max(entity_thresh, p_brand + 0.07):
                base = "TYPE"
                reason = "clear_type"
            else:
                base = "TYPE" if p_type >= 0.15 else "O"
                reason = "looks_type_guard"
        elif in_lex or fuzzy_hit:
            if p_type >= max(entity_thresh, p_brand + 0.07):
                base = "TYPE"
                reason = "type_over_lex"
            elif p_brand >= 0.20 and p_brand >= p_type - 0.05:
                base = "BRAND"
                reason = "lex_or_fuzzy_brand"
            else:
                base = "TYPE" if p_type >= 0.15 else "O"
                reason = "lex_conf_too_low"
        elif p_type >= max(entity_thresh, p_brand + 0.07):
            base = "TYPE"
            reason = "clear_type"
        elif p_brand >= max(brand_thresh, p_type + 0.10):
            base = "BRAND"
            reason = "clear_brand"
        else:
            base = "TYPE" if p_type >= 0.15 else "O"
            reason = "fallback"

    log_fields = (
        round(p_brand, 3), round(p_type, 3), in_lex, fuzzy_hit,
        pure_lat, short_lat, has_latin_vowel(tok_norm),
        round(p_brand_sum, 3), round(p_type_sum, 3), round(p_o, 3),
    )
    return (False, base, reason, log_fields)


_LEX_INTERN: dict[frozenset, frozenset] = {}


def _intern_fs(fs: frozenset) -> frozenset:
    """Canonical object per lexicon VALUE: decide_word_labels rebuilds its
    frozensets per document, and the per-word memo would otherwise pay a
    full O(|lexicon|) frozenset equality on EVERY cache hit (tuple key
    comparison only identity-shortcuts when the objects are the same).
    Interning makes hit comparisons pointer checks; the one value-equality
    runs once per document here."""
    got = _LEX_INTERN.get(fs)
    if got is None:
        if len(_LEX_INTERN) > 64:
            _LEX_INTERN.clear()
        _LEX_INTERN[fs] = fs
        got = fs
    return got


@lru_cache(maxsize=1 << 16)
def _decide_one_word_cached(
    token_text: str, p: tuple, brand_lexicon: frozenset, lex_fs: frozenset,
    has_lex: bool, brand_thresh: float, entity_thresh: float, use_wratio: bool,
) -> tuple:
    return _decide_one_word(
        token_text, p, brand_lexicon, lex_fs, has_lex,
        brand_thresh, entity_thresh, use_wratio,
    )


def decide_word_labels(
    text: str,
    word_spans: list[tuple[int, int]],
    word_probs: list[list[float]],
    brand_lexicon: frozenset[str] = frozenset(),
    brand_lexicon_list: list[str] | None = None,
    *,
    brand_thresh: float = 0.8,
    entity_thresh: float = 0.55,
    short_word_break: bool = True,
    use_wratio: bool = True,
    log: list[dict] | None = None,
) -> list[Span]:
    """Run the cascade; returns one ``(start, end, label)`` per word (labels
    include 'O'), spans whitespace-trimmed, empty spans dropped.

    ``use_wratio`` mirrors a rapidfuzz-enabled reference deployment
    (infer.py:282-291: WRatio ≥ 90 tried first, Levenshtein fallback either
    way); False reproduces the no-rapidfuzz degradation (infer.py:18-21).

    When ``log`` is passed, one decision record per decided word is appended
    — the reference's per-word decision log (infer.py:411-413, columns of
    scripts/make_submission_from_val.py:85-107). The reference appends the
    row AFTER the BIO rewrite and never logs the short-word break token
    (the ``break`` fires before the append) — both reproduced."""
    # plain set/list lexicons are valid API inputs (pre-memoization they only
    # needed membership) — coerce to frozenset so the memo key hashes, and
    # INTERN both sets so memo hits compare by identity (see _intern_fs)
    if not isinstance(brand_lexicon, frozenset):
        brand_lexicon = frozenset(brand_lexicon)
    brand_lexicon = _intern_fs(brand_lexicon)
    lex_list = brand_lexicon_list if brand_lexicon_list is not None else sorted(brand_lexicon)
    lex_fs = _intern_fs(frozenset(lex_list))
    has_lex = bool(lex_list)
    labels = ["O"] * len(word_spans)
    prev_base = "O"

    for wid, (s, e) in enumerate(word_spans):
        if s >= e:
            continue  # pre-filled "O"
        token_text = text[s:e]
        p = word_probs[wid]

        # per-(token, probs) memo: in the batch kernel probs is the per-key
        # cached tuple, so a Zipf-repeated token skips the whole cascade
        # body; non-tuple probs (library callers passing lists) are keyed by
        # their converted tuple — identical logic either way
        brk, base, reason, log_fields = _decide_one_word_cached(
            token_text, p if type(p) is tuple else tuple(p),
            brand_lexicon, lex_fs, has_lex,
            brand_thresh, entity_thresh, use_wratio,
        )

        # rule 0a: tiny low-confidence token aborts the loop (reference bug,
        # reproduced intentionally — see module docstring); the reference
        # breaks BEFORE its log append, so no record for this word
        if brk:
            if short_word_break:
                break
            prev_base = "O"
            continue

        # BIO continuity rewrite vs previous word (infer.py:399-405): the
        # branch-local B-/I- choice of the pre-factoring code was always
        # overwritten by this rewrite, so only the base survives. Tracking
        # the previous BASE makes the I-/B- choice a pointer compare
        # (prev_lab.endswith(base) ⟺ prev_base == base over the 5-label
        # vocabulary); label strings come from a fixed table, no f-string
        # per word
        if base == "O":
            lab = "O"
            prev_base = "O"
        else:
            bb, ib = _LAB_BY_BASE[base]
            lab = ib if prev_base == base else bb
            labels[wid] = lab
            prev_base = base

        if log is not None:
            (p_brand, p_type, in_lex, fuzzy_hit, pure_lat, short_lat,
             has_vowel, p_brand_sum, p_type_sum, p_o) = log_fields
            log.append({
                "token_text": token_text, "start": s, "end": e,
                "label": lab, "reason": reason,
                "p_brand": p_brand, "p_type": p_type,
                "in_lex": in_lex, "fuzzy_hit": fuzzy_hit,
                "pure_lat": pure_lat, "short_lat": short_lat,
                "has_vowel": has_vowel,
                "p_brand_sum": p_brand_sum,
                "p_type_sum": p_type_sum,
                "p_o": p_o,
            })

    out: list[Span] = []
    for wid, (s, e) in enumerate(word_spans):
        while s < e and text[s].isspace():
            s += 1
        while s < e and text[e - 1].isspace():
            e -= 1
        if s < e:
            out.append((s, e, labels[wid]))
    return out
