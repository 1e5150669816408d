"""End-to-end per-document mention → triple semantics (pure functions).

This is the single source of truth for "what the reference emits": the same
functions run inside the Spark Arrow UDFs (x5_ner_spark.operators /
x5_ner_spark.pipeline) and inside the pandas oracle that generates
``triples_ref`` for the P/R ≥ 0.95 gate (FIXTURES.md §5). Composition mirrors
the reference's working batch path scripts/make_submission_from_val.py:38-48
(predict_entities → postprocess_all), with numeric boost and split enabled.
"""

from __future__ import annotations

from .cascade import decide_word_labels
from .chunked import check_long_doc, maybe_chunked
from .numeric import tokenize_with_offsets
from .postprocess import postprocess
from .spans import Span, bio_to_entities, serialize_spans
from .stub_model import batch_probabilities, word_probabilities
from .textnorm import norm_basic, norm_token_simple

_BATCH_PROB_CACHE: dict[tuple[str, bool], tuple[float, ...]] = {}
_BATCH_PROB_CACHE_MAX = 1 << 16

PRED_BY_TYPE = {
    "TYPE": "is_type",
    "BRAND": "has_brand",
    "VOLUME": "has_volume",
    "PERCENT": "has_percent",
}


def detect_mention_spans(
    text: str,
    brand_lexicon: frozenset[str] = frozenset(),
    brand_lexicon_list: list[str] | None = None,
) -> list[Span]:
    """Raw cascade spans (word-level BIO incl. 'O'), before post-processing."""
    if not text or not text.strip():
        return []
    words = [(s, e) for _, s, e in tokenize_with_offsets(text)]
    probs = [word_probabilities(text[s:e], i) for i, (s, e) in enumerate(words)]
    return decide_word_labels(text, words, probs, brand_lexicon, brand_lexicon_list)


def final_mention_spans(
    text: str,
    brand_lexicon: frozenset[str] = frozenset(),
    brand_lexicon_list: list[str] | None = None,
) -> list[Span]:
    """Cascade + full post-process — the reference's emitted span set."""
    raw = detect_mention_spans(text, brand_lexicon, brand_lexicon_list)
    if not raw:
        return []
    return postprocess(text, raw)


def final_mention_spans_batch(
    texts: list[str],
    brand_lexicon: frozenset[str] = frozenset(),
    brand_lexicon_list: list[str] | None = None,
    max_words_per_microbatch: int = 8192,
    logs: list[list[dict]] | None = None,
    provider=None,
) -> list[list[Span]]:
    """Batched variant of :func:`final_mention_spans` — the N3 inference
    shape: all words of the Arrow batch go through the model in token-count-
    capped micro-batches (ONE vectorized call per ≤8192 unique words), then
    the per-document cascade/post-process runs on the shared probabilities.
    Output is element-wise identical to the per-text function (the scalar
    path delegates to the same batch kernel).

    Pass ``logs`` (an empty list) to collect one per-word decision-record
    list per text (S8 decision log, ref infer.py:411-413) from the same
    cascade run — empty/blank texts get an empty list.

    ``provider`` swaps the emission model (core/emission.py): any object with
    ``batch_probabilities([(norm_token, cont)]) -> [n, 9]`` and a
    ``prob_cache`` dict / ``prob_cache_max`` int. None = the pinned stub
    (module-global cache). This is the reference's checkpoint swap point
    (infer.py:141-147): cascade/postprocess/triples above are untouched.

    A provider with ``seq_level = True`` (core/subword.py) owns word
    segmentation itself — real subword-tokenizer offsets + max_len
    truncation (ref infer.py:165-171): only words still covered after
    truncation are decided, a straddling word's span ends at its last
    covered piece, and per-word probs are the mean of covered-piece softmax
    rows (infer.py:199-221)."""
    if provider is not None and getattr(provider, "seq_level", False):
        lex_list = (
            brand_lexicon_list if brand_lexicon_list is not None else sorted(brand_lexicon)
        )
        out_seq: list[list[Span]] = []
        per_doc = provider.word_probs_for_texts(
            ["" if not t else t for t in texts]
        )
        for t, (wspans, probs) in zip(texts, per_doc):
            if not t or not t.strip() or not wspans:
                out_seq.append([])
                if logs is not None:
                    logs.append([])
                continue
            log: list[dict] | None = [] if logs is not None else None
            raw = decide_word_labels(t, wspans, probs, brand_lexicon, lex_list, log=log)
            if logs is not None:
                logs.append(log)
            out_seq.append(postprocess(t, raw) if raw else [])
        return out_seq
    words_per_text: list[list[tuple[int, int]] | None] = []
    toks_per_text: list[list[tuple[str, int, int]] | None] = []
    keys_per_text: list[list[tuple[str, bool]] | None] = []
    keys: list[tuple[str, bool]] = []
    for t in texts:
        if not t or not t.strip():
            words_per_text.append(None)
            toks_per_text.append(None)
            keys_per_text.append(None)
            continue
        toks = tokenize_with_offsets(t)
        words = [(s, e) for _, s, e in toks]
        # the token string IS t[s:e] (match-span slice) — reuse it instead
        # of constructing a fresh slice per token (round-5 kernel pass)
        tkeys = [(norm_token_simple(w), i > 0) for i, (w, _, _) in enumerate(toks)]
        words_per_text.append(words)
        toks_per_text.append(toks)
        keys_per_text.append(tkeys)
        keys.extend(tkeys)

    # worker-global probability cache: batch-compute only COLD keys (one
    # vectorized call per token-count-capped micro-batch), store python-float
    # tuples so the cascade indexes plain floats. Eviction runs ONCE, BEFORE
    # cold keys are computed — a mid-call clear would drop warm entries this
    # call still needs (KeyError on probs_map[k] below). All of this call's
    # keys are therefore either warm survivors or inserted by this call; the
    # cache may overshoot the cap within one call and is trimmed on the next.
    if provider is None:
        cache, cache_max, compute = (
            _BATCH_PROB_CACHE, _BATCH_PROB_CACHE_MAX, batch_probabilities,
        )
    else:
        cache, cache_max, compute = (
            provider.prob_cache, provider.prob_cache_max,
            provider.batch_probabilities,
        )
    if len(cache) > cache_max:
        cache.clear()
    cold = list(dict.fromkeys(k for k in keys if k not in cache))
    for lo in range(0, len(cold), max_words_per_microbatch):
        chunk = cold[lo : lo + max_words_per_microbatch]
        mat = compute(chunk)
        for k, row in zip(chunk, mat):
            cache[k] = tuple(float(x) for x in row)
    probs_map = cache

    lex_list = brand_lexicon_list if brand_lexicon_list is not None else sorted(brand_lexicon)
    out: list[list[Span]] = []
    for t, words, toks, tkeys in zip(texts, words_per_text, toks_per_text, keys_per_text):
        if words is None:
            out.append([])
            if logs is not None:
                logs.append([])
            continue
        probs = [probs_map[k] for k in tkeys]
        log: list[dict] | None = [] if logs is not None else None
        raw = decide_word_labels(t, words, probs, brand_lexicon, lex_list, log=log)
        if logs is not None:
            logs.append(log)
        # tokens threaded through: the batch working set dwarfs the tokenize
        # LRU, so letting postprocess re-tokenize would miss every time
        out.append(postprocess(t, raw, tokens=toks) if raw else [])
    return out


def mention_detector(
    brand_lexicon=frozenset(),
    *,
    emission_npz: str | None = None,
    long_doc: str = "truncate",
):
    """The per-worker set-up every Arrow inference entry point shares.

    Call it where the plan is built: a bad ``long_doc`` fails there, before
    any job runs. It returns ``load``, which a worker calls once per
    partition. ``load()`` unwraps ``brand_lexicon`` (a frozenset, or a
    ``sparkContext.broadcast`` handle), builds its sorted list, gets the
    ``emission_npz`` provider (read once per worker process by
    ``provider_for``; chunked under ``long_doc='windowed'``,
    core/chunked.py) and returns ``detect(texts, logs=None)``: the final
    spans of each text, by the cascade."""
    check_long_doc(long_doc)

    def load():
        lex = brand_lexicon.value if hasattr(brand_lexicon, "value") else brand_lexicon
        lex = frozenset(lex or [])
        lex_list = sorted(lex)
        provider = None
        if emission_npz is not None:
            from .emission import provider_for

            provider = maybe_chunked(provider_for(emission_npz), long_doc)
        return lambda texts, logs=None: final_mention_spans_batch(
            texts, lex, lex_list, logs=logs, provider=provider
        )

    return load


def decision_log_rows(
    text: str,
    brand_lexicon: frozenset[str] = frozenset(),
    brand_lexicon_list: list[str] | None = None,
) -> list[dict]:
    """Per-word decision records for one text (S8 decision log)."""
    logs: list[list[dict]] = []
    final_mention_spans_batch([text], brand_lexicon, brand_lexicon_list, logs=logs)
    return logs[0]


def serialize_log_row(text: str, rec: dict, error: str | None = "0") -> str:
    """One ;-separated decision-log line, byte-compatible with the reference
    (infer.py:411-413; ``error=None`` gives the raw 16-field line, a str
    appends the error column of make_submission_from_val.py:60).
    %.3f on the stored round(x, 3) floats reproduces %.3f on the raw values
    (decimal rounding is idempotent)."""
    row = (
        f"{text};{rec['token_text']};{rec['start']};{rec['end']};{rec['label']};"
        f"{rec['reason']};{rec['p_brand']:.3f};{rec['p_type']:.3f};{rec['in_lex']};"
        f"{rec['fuzzy_hit']};{rec['pure_lat']};{rec['short_lat']};{rec['has_vowel']};"
        f"{rec['p_brand_sum']:.3f};{rec['p_type_sum']:.3f};{rec['p_o']:.3f}"
    )
    return row if error is None else f"{row};{error}"


def annotate(text: str, brand_lexicon: frozenset[str] = frozenset()) -> str:
    """Byte-exact serialized annotation for golden tests (ner/utils.py:83-89)."""
    return serialize_spans(final_mention_spans(text, brand_lexicon))


def triples_from_spans(subj: str, text: str, spans: list[Span]) -> list[tuple[str, str, str]]:
    """Open-pattern triple emission: one (subj, pred, obj) per merged entity;
    obj is the norm_basic'd surface form. 'O' spans merge away naturally."""
    out = []
    for s, e, tag in bio_to_entities(spans):
        etype = tag.split("-", 1)[-1]
        pred = PRED_BY_TYPE.get(etype)
        if pred:
            out.append((subj, pred, norm_basic(text[s:e])))
    return out


def extract_triples(
    url: str,
    text: str,
    brand_lexicon: frozenset[str] = frozenset(),
) -> list[tuple[str, str, str]]:
    """Full per-document path: detect → postprocess → triples."""
    return triples_from_spans(url, text, final_mention_spans(text, brand_lexicon))
