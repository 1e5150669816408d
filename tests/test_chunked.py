"""Windowed long-document inference (core/chunked.py, VERDICT r7 #1).

The sequence-level providers pin the reference's max_len=160 truncation
(configs/train.yaml; infer.py:165-183) — correct spec for its short queries,
wrong shape for web pages. ChunkedSeqProvider lifts it with overlapping
windows + most-interior overlap resolution, provider-agnostic.

Pinned here:
- short documents (≤ one window) are BYTE-IDENTICAL to the unwrapped
  provider (fast path delegates the untouched full text);
- every word of an arbitrarily long document gets exactly one probability
  row at the unshifted word span (full coverage — the truncating path
  structurally cannot give this);
- overlap resolution keeps the row from the window where the word is most
  interior, ties to the earlier window (the standard HF long-doc pattern);
- results are a pure function of the text (batching-invariant);
- the executor path (the fused Arrow stage) emits exactly the driver-side
  oracle's triples, and the decision surface really does extend past the
  truncation point (triples for words the truncate path never decides).
"""

from __future__ import annotations

import pytest

from x5_ner_spark.core.chunked import ChunkedSeqProvider, _build_windows, maybe_chunked
from x5_ner_spark.core.ctx_transformer import CtxTransformerProvider, write_ctx_checkpoint
from x5_ner_spark.core.numeric import tokenize_with_offsets
from x5_ner_spark.core.subword import SubwordEmissionProvider, write_subword_checkpoint

VOCAB = [
    "моло", "##ко", "кефир", "сан", "санта", "##та", "вода",
    "greenfield", "чай", "##й", "ча", "простоквашино",
]
# single-piece words (each matches one vocab entry whole)
ONE_PIECE = ["кефир", "вода", "чай", "санта"]


@pytest.fixture(scope="module")
def ctx_ckpt(tmp_path_factory):
    p = tmp_path_factory.mktemp("chunk") / "ctx.npz"
    return write_ctx_checkpoint(str(p), VOCAB, max_len=160)


@pytest.fixture(scope="module")
def ctx_small(tmp_path_factory):
    """Tiny window (budget 6 pieces) so window geometry is testable."""
    p = tmp_path_factory.mktemp("chunk_small") / "ctx8.npz"
    return write_ctx_checkpoint(str(p), VOCAB, max_len=8)


@pytest.fixture(scope="module")
def sw_ckpt(tmp_path_factory):
    p = tmp_path_factory.mktemp("chunk_sw") / "sw.npz"
    return write_subword_checkpoint(str(p), VOCAB, max_len=160)


def words_text(n: int) -> str:
    return " ".join(ONE_PIECE[i % len(ONE_PIECE)] for i in range(n))


# ---------------------------------------------------------------- windows
def test_build_windows_geometry():
    # 10 single-piece words, budget 6, stride 3 → [0,6) [3,9) [6,10)
    assert _build_windows([1] * 10, 6, 3) == [(0, 6), (3, 9), (6, 10)]
    # oversized word gets a singleton window and progress continues
    assert _build_windows([9, 1, 1], 6, 3) == [(0, 1), (1, 3)]
    # everything fits → one window
    assert _build_windows([2, 2, 2], 6, 3) == [(0, 3)]
    # stride never stalls: start strictly increases even when stride exceeds
    # the window's piece mass
    wins = _build_windows([1] * 5, 2, 2)
    starts = [w0 for w0, _ in wins]
    assert starts == sorted(set(starts)) and wins[-1][1] == 5


# ------------------------------------------------------------ short docs
def test_short_docs_byte_identical(ctx_ckpt, sw_ckpt):
    texts = ["молоко кефир", "санта вода greenfield", "", "   ", "чай"]
    for cls, path in ((CtxTransformerProvider, ctx_ckpt),
                      (SubwordEmissionProvider, sw_ckpt)):
        base = cls(path)
        wrapped = ChunkedSeqProvider(base)
        assert wrapped.word_probs_for_texts(texts) == base.word_probs_for_texts(texts)


# --------------------------------------------------------- long coverage
def test_long_doc_full_coverage(ctx_ckpt):
    base = CtxTransformerProvider(ctx_ckpt)
    t = words_text(1000)
    toks = tokenize_with_offsets(t)
    assert len(toks) == 1000
    # truncating path: only the first ~158 words are ever decided
    (tr_spans, _), = base.word_probs_for_texts([t])
    assert len(tr_spans) < 200
    spans, probs = ChunkedSeqProvider(base).word_probs_for_texts([t])[0]
    assert len(spans) == len(probs) == 1000
    assert spans == [(s, e) for _, s, e in toks]
    assert all(len(p) == 9 and abs(sum(p) - 1.0) < 1e-9 for p in probs)


def test_oversized_single_word(ctx_small):
    base = CtxTransformerProvider(ctx_small)
    giant = "вода" * 50  # piece-heavy single word: exceeds the 6-piece budget
    t = f"кефир {giant} санта " + words_text(8)
    spans, probs = ChunkedSeqProvider(base).word_probs_for_texts([t])[0]
    toks = tokenize_with_offsets(t)
    # every word present exactly once; the oversized word's span may end at
    # its last covered piece (the unwindowed truncation rule, applied within
    # its singleton window)
    assert len(spans) == len(toks)
    assert [s for s, _ in spans] == [s for _, s, _ in toks]


# ------------------------------------------------------ overlap resolution
def test_most_interior_window_wins(ctx_small):
    base = CtxTransformerProvider(ctx_small)
    t = words_text(10)  # 10 single-piece words; budget 6, stride 3
    toks = tokenize_with_offsets(t)
    wins = [(0, 6), (3, 9), (6, 10)]
    per_win = []
    for w0, w1 in wins:
        sub = t[toks[w0][1] : toks[w1 - 1][2]]
        per_win.append(base.word_probs_for_texts([sub])[0])
    spans, probs = ChunkedSeqProvider(base).word_probs_for_texts([t])[0]
    assert len(spans) == 10

    def win_row(k, gi):
        w0, w1 = wins[k]
        return per_win[k][1][gi - w0]

    # word 0: only window 0 covers the left edge
    assert probs[0] == win_row(0, 0)
    # word 4: score 1 in win0 (min(4, 6-5)), score 1 in win1 (min(1, 6-2)) —
    # tie goes to the EARLIER window
    assert probs[4] == win_row(0, 4)
    # word 5: win0 edge (score 0) vs win1 interior (score 2) — win1 wins
    assert probs[5] == win_row(1, 5)
    # contextuality sanity: the two candidate rows for word 5 really differ
    assert win_row(0, 5) != win_row(1, 5)
    # word 9: right edge — last window
    assert probs[9] == win_row(2, 9)


def test_batching_invariance(ctx_small):
    base = CtxTransformerProvider(ctx_small)
    wrapped = ChunkedSeqProvider(base)
    long1, long2, short = words_text(20), words_text(31), "молоко кефир"
    together = wrapped.word_probs_for_texts([long1, short, long2])
    assert together[0] == wrapped.word_probs_for_texts([long1])[0]
    assert together[1] == wrapped.word_probs_for_texts([short])[0]
    assert together[2] == wrapped.word_probs_for_texts([long2])[0]


# ------------------------------------------------------------- dispatch
def test_maybe_chunked_dispatch(ctx_ckpt):
    from x5_ner_spark.core.emission import provider_for, write_npz_checkpoint

    base = provider_for(ctx_ckpt)
    assert maybe_chunked(base, "truncate") is base
    wrapped = maybe_chunked(base, "windowed")
    assert isinstance(wrapped, ChunkedSeqProvider) and wrapped.base is base
    with pytest.raises(ValueError):
        maybe_chunked(base, "windows")
    with pytest.raises(ValueError):
        ChunkedSeqProvider(base, stride=0)
    with pytest.raises(ValueError):
        ChunkedSeqProvider(base, stride=200)  # > budget for max_len=160


def test_word_level_provider_passes_through(tmp_path):
    from x5_ner_spark.core.emission import NpzMlpProvider, write_npz_checkpoint

    p = NpzMlpProvider(write_npz_checkpoint(str(tmp_path / "mlp.npz")))
    assert maybe_chunked(p, "windowed") is p
    with pytest.raises(TypeError):
        ChunkedSeqProvider(p)


# ------------------------------------------------------------- executor
def test_fused_windowed_executor_equals_oracle(spark, ctx_ckpt):
    """End-to-end under Spark: the fused Arrow stage with
    long_doc='windowed' must emit exactly the triples of the driver-side
    oracle, and must emit triples past the truncation point (more than the
    truncate path)."""
    from collections import Counter

    from x5_ner_spark.core.mention_pipeline import (
        final_mention_spans_batch,
        triples_from_spans,
    )
    from x5_ner_spark.pipeline.fused import fused_triples

    texts = [words_text(400), "молоко кефир санта", words_text(260)]
    urls = [f"u{i}" for i in range(len(texts))]
    pages = spark.createDataFrame(list(zip(urls, texts)), "url string, text string")

    out = {}
    for mode in ("truncate", "windowed"):
        out[mode] = Counter(
            tuple(r) for r in fused_triples(
                pages, emission_npz=ctx_ckpt, long_doc=mode
            ).collect()
        )
    # truncation decides < 200 words per long doc; windowing decides them all
    assert sum(out["windowed"].values()) > sum(out["truncate"].values())

    wrapped = ChunkedSeqProvider(CtxTransformerProvider(ctx_ckpt))
    spans = final_mention_spans_batch(texts, provider=wrapped)
    expect = Counter(
        (subj, pred, obj, url)
        for url, t, sp in zip(urls, texts, spans)
        for subj, pred, obj in triples_from_spans(url, t, sp)
    )
    assert out["windowed"] == expect
