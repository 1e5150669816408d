"""Windowed long-document inference above the max_len truncation (VERDICT r7 #1).

The sequence-level providers (core/subword.py, core/ctx_transformer.py)
inherit the reference's max_len=160 truncation (configs/train.yaml;
infer.py:165-183 — ``truncation=True`` at encode time), which is correct
pinned spec for the reference's short retail queries but the wrong shape for
this engine's north-rule input: web PAGES. Under a contextual checkpoint
everything past ~158 content pieces of a page is simply never analyzed.

This module lifts that ceiling WITHOUT touching the providers: a
provider-agnostic wrapper that splits a long document into overlapping
windows of at most ``max_len`` pieces (stride ``stride`` pieces, the
standard HF long-document pattern), runs the base provider's own
``word_probs_for_texts`` on each window independently, and resolves words
covered by several windows by keeping the row from the window where the
word is MOST INTERIOR (max distance, in pieces, to the nearer window edge;
ties go to the earlier window) — interior positions see the most context
on both sides, so their contextual rows are the best-informed ones.

Why windows are cut at WORD boundaries: every seq-level provider
pre-tokenizes with the engine's word pattern (core/numeric.py WORD_RE — a
pure token regex, no cross-word lookaround), so re-tokenizing a substring
that starts and ends exactly at word boundaries yields the identical word
and piece segmentation, just offset-shifted. That is what makes the wrapper
provider-agnostic: each window is handed to the base provider as plain
text, through the same public entry point the unwindowed path uses.

Exactness guarantees (pinned in tests/test_chunked.py):
- a document whose total piece count fits one window takes the FAST PATH —
  the base provider is called on the untouched full text, so short-document
  output is byte-identical to the unwrapped provider;
- every word of a long document receives exactly one probability row
  (windows tile the word sequence with overlap ≥ 0 — full coverage, which
  the truncating path structurally cannot give);
- results are a pure function of the text: independent of Arrow batching
  and of which other documents share the call.

Pure python (core/ rule: no Spark imports) — the same code runs in the
Arrow UDFs and in the pytest oracle.
"""

from __future__ import annotations

from .numeric import tokenize_with_offsets


def _build_windows(
    counts: list[int], budget: int, stride: int
) -> list[tuple[int, int]]:
    """Word-index windows [(w0, w1), ...] over per-word piece ``counts``:
    each window packs words greedily up to ``budget`` pieces (a single word
    larger than the budget gets a singleton window — the base provider then
    truncates it exactly as the unwindowed path would), and the next window
    starts at the first word ≥ ``stride`` pieces past the previous start.
    Progress is guaranteed (the start index strictly increases) and the
    windows tile: window k+1 starts at or before window k's end."""
    n = len(counts)
    wins: list[tuple[int, int]] = []
    w0 = 0
    while w0 < n:
        used = 0
        w1 = w0
        while w1 < n and (w1 == w0 or used + counts[w1] <= budget):
            used += counts[w1]
            w1 += 1
        wins.append((w0, w1))
        if w1 >= n:
            break
        acc = 0
        j = w0
        while j < w1 and acc < stride:
            acc += counts[j]
            j += 1
        w0 = max(j, w0 + 1)
    return wins


class ChunkedSeqProvider:
    """Provider-agnostic windowed wrapper for any sequence-level emission
    provider (``seq_level = True`` + ``tokenizer``/``max_len`` from the
    shared WordPiece machinery). Same interface as the wrapped provider, so
    everything above the provider layer (cascade, post-process,
    triples) composes unchanged. Construct per use — it is a thin view over
    the base singleton and shares its caches."""

    seq_level = True

    def __init__(self, base, stride: int | None = None):
        if not getattr(base, "seq_level", False):
            raise TypeError(
                "ChunkedSeqProvider wraps sequence-level providers only "
                "(word-level providers have no max_len truncation to lift)"
            )
        self.base = base
        self.tokenizer = base.tokenizer
        self.max_len = base.max_len
        budget = base.max_len - 2  # <s> ... </s>, like encode_text
        self.stride = budget // 2 if stride is None else int(stride)
        if not 0 < self.stride <= budget:
            raise ValueError(
                f"stride {self.stride} outside (0, {budget}] for max_len {base.max_len}"
            )

    def word_probs_for_texts(
        self, texts: list[str]
    ) -> list[tuple[list[tuple[int, int]], list[tuple[float, ...]]]]:
        """Per text: (word spans, per-word probability tuples) — covering
        EVERY word of the document, not just the first ~max_len pieces."""
        budget = self.max_len - 2
        word_pieces = self.tokenizer.word_pieces
        # plan every text first, then ONE base call over all window texts —
        # preserves the base provider's micro-batching behavior
        plans: list[tuple] = []
        base_inputs: list[str] = []
        for t in texts:
            t = t or ""
            toks = tokenize_with_offsets(t)
            counts = [len(word_pieces(t[s:e])) for _, s, e in toks]
            if sum(counts) <= budget:
                plans.append(("short", len(base_inputs), None))
                base_inputs.append(t)
                continue
            metas = []  # (w0, w1, char_offset, base_input_index)
            for w0, w1 in _build_windows(counts, budget, self.stride):
                lo, hi = toks[w0][1], toks[w1 - 1][2]
                metas.append((w0, w1, lo, len(base_inputs)))
                base_inputs.append(t[lo:hi])
            plans.append(("win", counts, metas))
        fwd = self.base.word_probs_for_texts(base_inputs)

        out = []
        for kind, counts, metas in plans:
            if kind == "short":
                out.append(fwd[counts])
                continue
            # word index -> (interiorness, shifted span, prob row); a later
            # window replaces an earlier one only on STRICTLY higher score
            best: dict[int, tuple[int, tuple[int, int], tuple[float, ...]]] = {}
            for w0, w1, lo, bi in metas:
                wspans, probs = fwd[bi]
                total = sum(counts[w0:w1])
                a = 0
                for j, (span, row) in enumerate(zip(wspans, probs)):
                    gi = w0 + j
                    b = a + counts[gi]
                    score = min(a, total - b)
                    cur = best.get(gi)
                    if cur is None or score > cur[0]:
                        best[gi] = (score, (span[0] + lo, span[1] + lo), row)
                    a = b
            order = sorted(best)
            out.append(
                ([best[i][1] for i in order], [best[i][2] for i in order])
            )
        return out


def check_long_doc(long_doc: str) -> None:
    if long_doc not in ("truncate", "windowed"):
        raise ValueError(f"long_doc must be 'truncate' or 'windowed', got {long_doc!r}")


def maybe_chunked(provider, long_doc: str = "truncate", stride: int | None = None):
    """Provider-layer knob: ``long_doc='windowed'`` wraps a sequence-level
    provider in :class:`ChunkedSeqProvider`; ``'truncate'`` (the reference's
    pinned behavior, infer.py:165-171) returns it unchanged. Word-level
    providers have no truncation and pass through under either setting."""
    check_long_doc(long_doc)
    if long_doc == "windowed" and getattr(provider, "seq_level", False):
        return ChunkedSeqProvider(provider, stride)
    return provider
